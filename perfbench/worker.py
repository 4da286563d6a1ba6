"""The process under test: csvtool's session, engine and server, driven by
one closed-loop client.

    python3 perfbench/worker.py PLAN.json

Prints ``READY`` once the session, engine and server are up (the parent
times set-up from process start to that line). Unless the plan is
set-up only, it then runs the plan's operations, writes per-operation
timings, outputs and (in a traced run) layer metrics to the plan's result
file and prints ``DONE``. The parent ends the process after either word.
"""

from __future__ import annotations

import http.client
import json
import os
import statistics
import sys
import threading
import time


def _post(port: int, text: str, qid: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        conn.request("POST", "/query/", json.dumps({"query": text, "id": qid}),
                     {"Content-Type": "application/json"})
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


class Progress(threading.Thread):
    """The browser's progress subscription for one query: ``GET
    /progress?id=…`` read as a stream until the server closes it."""

    def __init__(self, port: int, qid: str):
        super().__init__(daemon=True)
        self.port, self.qid, self.body, self.error = port, qid, b"", None
        self.start()

    def run(self) -> None:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=170)
        try:
            conn.request("GET", f"/progress?id={self.qid}")
            resp = conn.getresponse()
            if resp.status != 200:
                raise RuntimeError(f"progress stream answered {resp.status}")
            self.body = resp.read()
        except Exception as exc:  # noqa: BLE001 - reported by finish()
            self.error = exc
        finally:
            conn.close()

    def finish(self) -> None:
        """Wait for the stream to end; it must close with a ``done`` event."""
        self.join(170)
        if self.error is not None:
            raise RuntimeError(f"progress stream failed: {self.error}")
        if b"event: done" not in self.body:
            raise RuntimeError("progress stream ended without its done event")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Client:
    """Runs one operation the way its workload's user does."""

    def __init__(self, workload: str, engine, port: int, out_dir: str):
        self.workload, self.engine, self.port, self.out_dir = workload, engine, port, out_dir
        self.done = 0  # operations run so far; numbers the output files

    def run(self, op: dict) -> dict:
        rec = {"k": op["k"], "name": op["name"], "error": None}
        i, self.done = self.done, self.done + 1
        progress = None
        t0 = time.perf_counter()
        try:
            if self.workload == "gui_csv":
                # as the browser does: a fresh job id, its progress
                # stream opened, then the POST under that id
                qid = f"q{i}"
                progress = Progress(self.port, qid)
                resp = _post(self.port, op["text"], qid)
                if resp["status"] != 2:
                    raise RuntimeError(resp["message"])
                e = resp["entries"][0]
                rec["entry"] = {k: e[k] for k in ("colnames", "vals", "clipped")}
            else:
                # the engine's sink call, then the release contract a
                # long-lived caller keeps (persisted pipe stages)
                import csvtool_spark.engine as engine_mod
                import csvtool_spark.functions.caching as caching

                rec["out"] = os.path.join(self.out_dir, f"{i:04d}.parquet")
                df = self.engine.sql(op["text"])
                engine_mod.write_single_result(df, rec["out"])
                caching.release_stages(df)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        # the answer is on screen once the POST returns; the stream's end
        # is waited for outside the timed span
        rec["latency_s"] = time.perf_counter() - t0
        if progress is not None:
            try:
                progress.finish()
            except RuntimeError as exc:
                rec["error"] = rec["error"] or str(exc)
        return rec


def main() -> int:
    with open(sys.argv[1]) as f:
        plan = json.load(f)
    sys.path.insert(0, plan["root"])
    tracer = None
    if plan["trace"]:
        import tracing

        tracer = tracing.Tracer()
    from csvtool_spark.engine import CsvEngine
    from csvtool_spark.server import CsvToolServer
    from csvtool_spark.session import get_spark

    if tracer is not None:
        tracing.install(tracer)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=plan["spark_conf"])
    get_spark_s = time.perf_counter() - t0
    engine = CsvEngine(spark)
    # as ``csvtool --serve`` starts it
    server = CsvToolServer(engine, port=0, idle_timeout=120.0)
    server.start()
    print("READY", flush=True)
    if not plan["setup_only"]:
        run(plan, tracer, spark, engine, server.port, get_spark_s)
        print("DONE", flush=True)
    # the parent ends this process group once it has read the last word;
    # stdin closes if the parent itself dies first
    sys.stdin.read()
    return 0


def run(plan, tracer, spark, engine, port, get_spark_s) -> None:
    """The first operation, then the plan's operations; a traced run does
    each of them untraced and traced."""
    client = Client(plan["workload"], engine, port, plan["out_dir"])
    result = {"first": client.run(plan["first"]), "ops": []}
    if tracer is None:
        result["ops"] = [client.run(op) for op in plan["ops"]]
    else:
        result["trace"] = traced_round(tracer, spark, client, plan["ops"], get_spark_s)
        result["ops"] = result["trace"].pop("recs")
        result["trace"]["process.python_peak_rss_mb"] = _vm_hwm_mb(os.getpid())
        result["trace"]["process.jvm_peak_rss_mb"] = _vm_hwm_mb(
            spark.sparkContext._gateway.proc.pid)
    with open(plan["result"], "w") as f:
        json.dump(result, f)


def traced_round(tracer, spark, client, ops, get_spark_s) -> dict:
    """Run every operation once untraced and once traced, alternating
    which goes first (so warm-up favours neither); the layer metrics come
    from the traced runs, the overhead from the pairs."""
    import tracing
    from csvtool_spark.dialect.stages import STAGES

    tracer.bind(spark)
    window = tracing.Window(tracer, spark)
    plain, traced, windows = [], [], []
    for i, op in enumerate(ops):
        for wants_trace in ((False, True) if i % 2 == 0 else (True, False)):
            if not wants_trace:
                plain.append(client.run(op))
                continue
            window.open()
            tracer.enabled = True
            with tracer.span("client.request") as req:
                tracer.request = req["id"]
                traced.append(client.run(op))
            tracer.enabled = False
            tracer.request = None
            windows.append(window.close())
    m = tracing.layer_metrics(tracer.spans, len(ops), sorted(STAGES))
    m.update(tracing.exec_counters(spark, windows))
    m["session.get_spark_ms"] = 1000 * get_spark_s
    m["spark.exec.jobs_per_op"] = m["spark.exec.jobs"] / len(ops)
    m["trace.overhead"] = (statistics.median(r["latency_s"] for r in traced)
                           / statistics.median(r["latency_s"] for r in plain))
    m["recs"] = plain + traced
    return m


if __name__ == "__main__":
    sys.exit(main())
