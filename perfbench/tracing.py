"""Traced-run mode: spans around the calls into each layer, plus Spark's
own work counters.

Spans are recorded from the benchmark's side only. ``install`` wraps the
public entry points of csvtool's modules (module attributes, class methods
and the pipe's stage table) at import time; no file of the program changes.
Each span keeps its name, start, end, request id and parent, and stays in
memory until the run ends. Spans opened on the server's handler thread
take the client's request span as their parent.

Spark's counters come from its status stores: job and stage ids from the
scheduler, per-stage task metrics from the application status store, and
plan nodes and SQL metrics from the SQL status store.
"""

from __future__ import annotations

import functools
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        #: id of the request in flight: the span id of its root span
        self.request: int | None = None
        self._next = 0
        self._local = threading.local()
        self._dag = None

    def bind(self, spark) -> None:
        self._dag = spark.sparkContext._jsc.sc().dagScheduler()

    def jobs_started(self) -> int:
        return self._dag.nextJobId() if self._dag is not None else 0

    def stages_started(self) -> int:
        return self._dag.nextStageId() if self._dag is not None else 0

    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        self._next += 1
        rec = {"id": self._next, "parent": stack[-1] if stack else self.request,
               "request": self.request, "name": name}
        if count_jobs:
            j0 = self.jobs_started()
        stack.append(rec["id"])
        rec["t0"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            if count_jobs:
                rec["jobs"] = self.jobs_started() - j0
            self.spans.append(rec)

    def wrap_fn(self, fn, name: str, count_jobs: bool = False, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            with tracer.span(name, count_jobs) as rec:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, args, out)
                return out

        return traced

    def wrap(self, owner, attr: str, name: str, **kw) -> None:
        setattr(owner, attr, self.wrap_fn(getattr(owner, attr), name, **kw))


def _catalyst_phases(rec: dict, args, _out) -> None:
    phases = args[0]._jdf.queryExecution().tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            rec[phase] = phases.get(phase).get().durationMs()


def install(tracer: Tracer) -> None:
    """Wrap the entry points of every layer the benchmark reports."""
    from pyspark.sql.classic.dataframe import DataFrame

    import csvtool_spark.engine as engine
    import csvtool_spark.functions.caching as caching
    import csvtool_spark.server as server
    import csvtool_spark.sources.csv as csv_source
    from csvtool_spark.dialect import compiler, stages

    w = tracer.wrap
    w(server, "query_response", "server.query_response")
    w(engine.CsvEngine, "sql", "engine.sql")
    w(engine, "write_single_result", "engine.write_single_result")
    w(engine, "parse", "dialect.parse")
    w(engine, "check_query", "dialect.typecheck")
    w(compiler.Compiler, "compile", "dialect.compile")
    w(engine, "read_csv", "sources.csv.read_csv", count_jobs=True)
    w(csv_source, "infer_types", "sources.csv.infer_types")
    w(caching, "release_stages", "functions.caching.release_stages",
      on_result=lambda rec, _a, out: rec.__setitem__("released", out))
    for name, fn in list(stages.STAGES.items()):
        stages.STAGES[name] = tracer.wrap_fn(fn, f"dialect.stages.{name}", count_jobs=True)
    w(DataFrame, "collect", "spark.collect", on_result=_catalyst_phases)


# --- reductions over spans --------------------------------------------------------


def _dur(s: dict) -> float:
    return s["t1"] - s["t0"]


def self_ms(spans: list[dict], name: str) -> float:
    """Total self time of the spans called ``name``: duration minus the
    time their child spans cover (children of one span never overlap)."""
    child = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + _dur(s)
    return 1000 * sum(_dur(s) - min(child.get(s["id"], 0.0), _dur(s))
                      for s in spans if s["name"] == name)


def total_ms(spans: list[dict], name: str) -> float:
    return 1000 * sum(_dur(s) for s in spans if s["name"] == name)


def coverage(spans: list[dict], root: str) -> float:
    """Share of the root spans' wall time covered by their direct children."""
    roots = {s["id"]: s for s in spans if s["name"] == root}
    covered = sum(_dur(s) for s in spans if s["parent"] in roots)
    wall = sum(_dur(s) for s in roots.values())
    return covered / wall if wall else 0.0


def read_share(spans: list[dict]) -> float:
    """Median over requests of the share of the request's client time
    spent in ``read_csv`` (0 when no request reads a CSV file)."""
    read = {}
    for s in spans:
        if s["name"] == "sources.csv.read_csv":
            read[s["request"]] = read.get(s["request"], 0.0) + _dur(s)
    shares = [read.get(s["id"], 0.0) / _dur(s) for s in spans if s["name"] == "client.request"]
    return statistics.median(shares) if shares else 0.0


def layer_metrics(spans: list[dict], n_ops: int, stage_names: list[str]) -> dict[str, float]:
    """Per-operation layer times (ms) and counts from one traced round."""
    per = 1.0 / max(1, n_ops)

    def t(name):
        return total_ms(spans, name) * per

    collects = [s for s in spans if s["name"] == "spark.collect"]
    served = any(s["name"] == "server.query_response" for s in spans)
    m = {
        "dialect.parse_ms": t("dialect.parse"),
        "dialect.typecheck_ms": t("dialect.typecheck"),
        "dialect.compile_ms": t("dialect.compile"),
        "sources.csv.read_csv_ms": t("sources.csv.read_csv"),
        "sources.csv.read_csv_calls": sum(s["name"] == "sources.csv.read_csv" for s in spans),
        "sources.csv.jobs": sum(s.get("jobs", 0) for s in spans if s["name"] == "sources.csv.read_csv"),
        "sources.csv.infer_types_ms": t("sources.csv.infer_types"),
        "engine.sql_ms": t("engine.sql"),
        "engine.build_self_ms": self_ms(spans, "engine.sql") * per,
        "server.query_response_ms": t("server.query_response"),
        "server.http_overhead_ms": t("client.request") - t("server.query_response")
        if served else 0.0,
        # the display collect and JSON shaping: what query_response does
        # besides building the plan, writing a save and releasing stages
        "server.collect_ms": t("server.query_response") - t("engine.sql")
        - t("functions.caching.release_stages") - t("engine.write_single_result")
        if served else 0.0,
        "engine.sink_ms": t("engine.write_single_result"),
        "dialect.stages.jobs": sum(s.get("jobs", 0) for s in spans
                                   if s["name"].startswith("dialect.stages.")),
        "functions.caching.released_stages": sum(s.get("released", 0) for s in spans),
        "spark.catalyst.analysis_ms": sum(s.get("analysis", 0) for s in collects) * per,
        "spark.catalyst.optimization_ms": sum(s.get("optimization", 0) for s in collects) * per,
        "spark.catalyst.planning_ms": sum(s.get("planning", 0) for s in collects) * per,
        "sources.csv.read_csv_share": read_share(spans),
        "trace.coverage": coverage(spans, "client.request"),
    }
    for st in stage_names:
        m[f"dialect.stages.{st}_ms"] = t(f"dialect.stages.{st}")
    return m


# --- Spark status stores ----------------------------------------------------------


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024 ** 2, "GiB": 1024 ** 3, "TiB": 1024 ** 4,
          "ns": 1e-6, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_metric(text: str) -> float:
    """A formatted SQL metric value ("4,475", "863.2 KiB", "2.9 s", or the
    two-line "total (min, med, max ...)" form) as bytes, ms or a count."""
    parts = text.split("\n")[-1].replace(",", "").split()
    value = float(parts[0])
    if len(parts) > 1 and parts[1] in _UNITS:
        value *= _UNITS[parts[1]]
    return value


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def sql_executions(spark) -> int:
    """The highest SQL execution id recorded so far (-1 for none)."""
    ex = spark._jsparkSession.sharedState().statusStore().executionsList()
    return max((e.executionId() for e in _seq(ex)), default=-1)


def drain(spark) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class Window:
    """Job, stage and SQL execution ids started between ``open`` and
    ``close`` (one traced operation)."""

    def __init__(self, tracer: Tracer, spark):
        self.tracer, self.spark = tracer, spark

    def open(self) -> None:
        drain(self.spark)
        self.jobs0, self.stages0 = self.tracer.jobs_started(), self.tracer.stages_started()
        self.exec0 = sql_executions(self.spark)

    def close(self) -> tuple:
        drain(self.spark)
        return ((self.jobs0, self.tracer.jobs_started()),
                (self.stages0, self.tracer.stages_started()),
                (self.exec0, sql_executions(self.spark)))


def exec_counters(spark, windows: list[tuple]) -> dict:
    """Work Spark did in the given windows (see ``Window.close``)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    m = {k: 0.0 for k in (
        "spark.exec.jobs", "spark.exec.stages", "spark.exec.tasks", "spark.exec.task_busy_ms",
        "spark.exec.job_wall_ms", "spark.exec.input_rows", "spark.exec.input_bytes",
        "spark.exec.output_bytes", "spark.exec.shuffle_write_bytes", "spark.exec.spill_bytes",
        "spark.plan.exchanges", "spark.plan.scans", "spark.plan.python_evals",
        "spark.plan.inmemory_scans", "spark.python.eval_ms", "spark.python.bytes_sent")}
    job_ids = [j for w in windows for j in range(*w[0])]
    stage_ids = [st for w in windows for st in range(*w[1])]
    exec_ids = {e for w in windows for e in range(w[2][0] + 1, w[2][1] + 1)}
    for jid in job_ids:
        job = store.job(jid)
        m["spark.exec.jobs"] += 1
        if job.submissionTime().isDefined() and job.completionTime().isDefined():
            m["spark.exec.job_wall_ms"] += (job.completionTime().get().getTime()
                                            - job.submissionTime().get().getTime())
    no_quantiles = gw.new_array(gw.jvm.double, 0)
    for sid in stage_ids:
        for st in _seq(store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                                       no_quantiles)):
            if st.status().toString() != "COMPLETE":
                continue
            m["spark.exec.stages"] += 1
            m["spark.exec.tasks"] += st.numCompleteTasks()
            m["spark.exec.task_busy_ms"] += st.executorRunTime()
            m["spark.exec.input_rows"] += st.inputRecords()
            m["spark.exec.input_bytes"] += st.inputBytes()
            m["spark.exec.output_bytes"] += st.outputBytes()
            m["spark.exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
            m["spark.exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    sql = spark._jsparkSession.sharedState().statusStore()
    for e in _seq(sql.executionsList()):
        eid = e.executionId()
        if eid not in exec_ids:
            continue
        values = sql.executionMetrics(eid)
        for node in _seq(sql.planGraph(eid).allNodes()):
            name = node.name()
            if "Exchange" in name:
                m["spark.plan.exchanges"] += 1
            elif name.startswith("Scan "):
                m["spark.plan.scans"] += 1
            elif name == "InMemoryTableScan":
                m["spark.plan.inmemory_scans"] += 1
            elif "EvalPython" in name:
                m["spark.plan.python_evals"] += 1
                for metric in _seq(node.metrics()):
                    v = values.get(metric.accumulatorId())
                    if not v.isDefined():
                        continue
                    if metric.name().startswith("time to"):
                        m["spark.python.eval_ms"] += parse_metric(v.get())
                    elif metric.name() == "data sent to Python workers":
                        m["spark.python.bytes_sent"] += parse_metric(v.get())
    return m
