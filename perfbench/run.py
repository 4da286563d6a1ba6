"""Benchmark of csvtool's user surface.

    python3 perfbench/run.py --workload gui_csv --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed, times set-up in separate processes, runs the workload in a worker
process (``worker.py``), checks every answer against DuckDB and prints one
JSON object as the last line of standard output: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with
``--trace 1``. Everything it writes goes under ``.perfbench_run/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import select
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("gui_csv", "curate_pipe")
#: set-up is timed this many times per run (in fresh processes); the
#: median is reported
SETUP_SAMPLES = 2
#: hard limit for one worker process
WORKER_TIMEOUT_S = 150
#: seconds one round takes on a 4-vCPU VM; a run measures the whole number
#: of rounds nearest to --seconds, so that every run of a workload does the
#: same work whatever the machine's speed at the moment
ROUND_S = {"gui_csv": 9.5, "curate_pipe": 4.0}


def _inputs(workload: str, seed: int, in_dir: Path):
    """Write the inputs; returns (file paths, row counts, file report)."""
    import gen

    write = gen.write_documents if workload == "curate_pipe" else gen.write_csvs
    paths, rows = write(seed, str(in_dir))
    return paths, rows, gen.describe(paths, rows)


def _plan(workload: str, seed: int, paths: dict, rows: dict, n_rounds: int) -> list:
    """The operations of a run: the first, then rounds that each hold
    every template once, in seeded order with seeded parameters."""
    import workloads as wl

    if workload == "curate_pipe":
        ops = [wl.pipe_op(paths["documents"]) for _ in range(1 + n_rounds)]
    else:
        rng = random.Random(seed)
        templates, first = wl.TEMPLATES[workload]
        ops = [first(rng, paths)]
        for _ in range(n_rounds):
            ops += wl.shuffled_round(rng, templates, paths)
    for op in ops:
        op.rows_in = sum(rows[k] for k, p in paths.items() if f"'{p}'" in op.text)
    return ops


def _spawn(plan: dict, plan_path: Path, log_path: Path) -> float:
    """Start a worker, wait for READY (and, unless the plan is set-up
    only, for DONE), then kill its process group (the worker, its JVM and
    the Python workers the JVM started) and wait until every one has
    ended. Returns the seconds from process start to READY."""
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    env = dict(os.environ, TZ="UTC", TMPDIR=plan["tmp_dir"], PYSPARK_PYTHON=sys.executable,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
               SPARK_LOCAL_DIRS=plan["tmp_dir"])
    deadline = time.monotonic() + WORKER_TIMEOUT_S
    with open(log_path, "ab") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, str(HERE / "worker.py"), str(plan_path)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log, env=env,
            start_new_session=True, cwd=ROOT,
        )
        try:
            _expect(proc, b"READY", deadline)
            ready = time.perf_counter() - t0
            if not plan["setup_only"]:
                _expect(proc, b"DONE", deadline)
        finally:
            with contextlib.suppress(ProcessLookupError):
                os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            while _group_alive(proc.pid):  # the JVM and its Python workers
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(proc.pid, signal.SIGKILL)
                time.sleep(0.02)
    return ready


def _group_alive(pgid: int) -> bool:
    """Whether a process of the group is still running (zombies waiting
    to be reaped by init have ended)."""
    for pid in os.listdir("/proc"):
        try:
            with open(f"/proc/{pid}/stat") as f:
                state, _ppid, group = f.read().rsplit(")", 1)[1].split()[:3]
        except (OSError, ValueError):
            continue
        if int(group) == pgid and state != "Z":
            return True
    return False


def _expect(proc: subprocess.Popen, word: bytes, deadline: float) -> None:
    if not select.select([proc.stdout], [], [], max(0.0, deadline - time.monotonic()))[0]:
        raise TimeoutError(f"worker timed out waiting for {word.decode()}")
    if proc.stdout.readline().strip() != word:
        raise RuntimeError(f"worker ended before {word.decode()}")


def _check(workload: str, ops: list, recs: list[dict], paths: dict) -> int:
    """Compare every operation with its DuckDB twin; returns the number of
    operations that failed or answered wrong."""
    import check
    import workloads as wl

    oracle = check.Oracle(wl.duck_tables(paths) if workload != "curate_pipe" else [])
    failed = 0
    try:
        for rec in recs:
            op = ops[rec["k"]]
            err = rec["error"]
            if err is None:
                err = (oracle.check_display(op, rec["entry"]) if workload == "gui_csv"
                       else oracle.check_file(op, rec["out"]))
            if err is not None:
                failed += 1
                print(f"FAILED {op.name}: {err}", file=sys.stderr)
    finally:
        oracle.close()
    return failed


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "csvtool_spark" / "engine.py").is_file():
        print(f"csvtool_spark not found under {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    run_dir = ROOT / ".perfbench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        return _run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            run_dir.parent.rmdir()  # only when no other run is using it


def _run(args, run_dir: Path) -> int:
    for d in ("in", "out", "tmp"):
        (run_dir / d).mkdir(parents=True, exist_ok=True)
    paths, rows, files = _inputs(args.workload, args.seed, run_dir / "in")
    for f in files:
        print(f"input {f['file']}: {f['rows']} rows, {f['bytes']} bytes")
    # a traced run does one round (two passes of the pipe, so that its
    # untraced/traced pairs alternate which goes first)
    n_rounds = max(1, round(args.seconds / ROUND_S[args.workload]))
    if args.trace:
        n_rounds = 2 if args.workload == "curate_pipe" else 1
    ops = _plan(args.workload, args.seed, paths, rows, n_rounds)
    tmp = str(run_dir / "tmp")
    plan = {
        "root": str(ROOT), "workload": args.workload,
        "trace": bool(args.trace), "setup_only": True, "out_dir": str(run_dir / "out"),
        "tmp_dir": tmp, "result": str(run_dir / "result.json"),
        "spark_conf": {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    }
    log = run_dir / "worker.log"
    setups = []
    try:
        for _ in range(0 if args.trace else SETUP_SAMPLES - 1):
            setups.append(_spawn(plan, run_dir / "plan.json", log))
        # k: the operation's index in ``ops``, echoed back in the results
        specs = [{"k": k, "name": op.name, "text": op.text} for k, op in enumerate(ops)]
        plan.update(setup_only=False, first=specs[0], ops=specs[1:])
        setups.append(_spawn(plan, run_dir / "plan.json", log))
    except (RuntimeError, TimeoutError) as exc:
        sys.stderr.write(log.read_text()[-4000:] if log.exists() else "")
        print(f"benchmark run failed: {exc}", file=sys.stderr)
        return 1
    with open(plan["result"]) as f:
        result = json.load(f)
    recs = [result["first"]] + result["ops"]
    failed = _check(args.workload, ops, recs, paths)
    if args.trace:
        metrics = {k: _metric(v, _unit(k)) for k, v in sorted(result["trace"].items())}
    else:
        metrics = _end_to_end(result, setups, ops)
    print(json.dumps({"correct": failed == 0, "attempted": len(recs), "failed": failed,
                      "metrics": metrics}))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.endswith("bytes_sent"):
        return "bytes"
    if name in ("trace.coverage", "trace.overhead", "sources.csv.read_csv_share"):
        return "ratio"
    return "count"


def _end_to_end(result: dict, setups: list[float], ops: list) -> dict:
    # a run holds 10-20 operations: too few for a tail percentile
    lat = [r["latency_s"] for r in result["ops"]]
    rows_in = sum(ops[r["k"]].rows_in for r in result["ops"])
    return {
        "setup_s": _metric(statistics.median(setups), "s"),
        "first_s": _metric(result["first"]["latency_s"], "s"),
        "latency_p50_ms": _metric(1000 * statistics.median(lat), "ms"),
        "rows_per_s": _metric(rows_in / sum(lat), "1/s"),
    }


if __name__ == "__main__":
    sys.exit(main())
