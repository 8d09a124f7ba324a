"""Tracing for the benchmark's traced runs.

Everything here observes the engine from outside: it wraps two public
functions (``memo.session_memo`` and the classic ``DataFrame``'s
``localCheckpoint``/``checkpoint``), registers a
``StreamingQueryListener``, and reads Spark's own status stores
(``AppStatusStore`` for jobs, stages and cached RDDs,
``SQLAppStatusStore`` for SQL metrics). Spans are kept in memory and
written out when the repetition ends.

Spark jobs and SQL executions are attributed to a query by time window:
the query loop is single-threaded, so everything submitted between a
query's start and end belongs to it, including micro-batch jobs that run
on a stream execution thread and so carry no job group of the loop's.
"""

from __future__ import annotations

import json
import re
import threading
import time

MB = 1024 * 1024

_UNITS = {
    "B": 1,
    "KiB": 1024,
    "MiB": MB,
    "GiB": 1024 * MB,
    "TiB": 1024 * 1024 * MB,
    "ns": 1e-9,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "h": 3600.0,
}
_LEAD = re.compile(r"\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or a count.

    ``SQLAppStatusStore`` renders an accumulator as its total, optionally
    followed by a (min, median, max (stage: task)) breakdown, and for
    multi-task metrics after a header line:
    ``"total (min, med, max (stageId: taskId))\n9.8 s (2.4 s, 2.4 s, 2.5 s
    (stage 2.0: task 5))"``, ``"3.4 KiB"``, ``"15,968"``. Only the total
    is read."""
    text = (text or "").split("\n")[-1]
    m = _LEAD.match(text)
    if not m:
        raise ValueError(f"unparseable SQL metric value: {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit is None:
        return value
    if unit not in _UNITS:
        raise ValueError(f"unknown unit in SQL metric value: {text!r}")
    return value * _UNITS[unit]


#: SQL metric name → per-layer metric it adds to, and the scale that
#: turns the parsed total (bytes or seconds) into the metric's unit
SQL_METRICS = {
    "time to run Python workers": ("python.run_s", 1.0),
    "time to start Python workers": ("python.start_s", 1.0),
    "time to initialize Python workers": ("python.init_s", 1.0),
    "data sent to Python workers": ("python.sent_mb", 1 / MB),
    "data returned from Python workers": ("python.recv_mb", 1 / MB),
    "number of written files": ("write.files", 1.0),
    "written output": ("write.mb", 1 / MB),
    "job commit time": ("write.commit_s", 1.0),
    "task commit time": ("write.commit_s", 1.0),
}


class Tracer:
    """In-memory span recorder plus the probes that feed it."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query: str | None = None
        self._lock = threading.Lock()
        self._ids = 0
        self.stream_progress: list[dict] = []

    # -- spans ---------------------------------------------------------
    def span(
        self, name: str, t0: float, t1: float, parent: int | None = None,
        query: str | None = None, **attrs,
    ) -> int:
        """Record one span; ``query`` defaults to the query running now,
        so every span of one query carries the same id."""
        with self._lock:
            self._ids += 1
            sid = self._ids
            self.spans.append(
                {"id": sid, "parent": parent, "query": query or self.query,
                 "name": name, "t0": t0, "t1": t1, **attrs}
            )
        return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- probes on public functions -------------------------------------
    def install(self, spark) -> None:
        """Make this the tracer the probes report to, and register the
        streaming listener on ``spark``'s session."""
        global _active
        _install_wrappers()
        _active = self
        tracer = self
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                tracer.stream_progress.append(json.loads(event.progress.json))

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.spark, self.listener = spark, Listener()
        spark.streams.addListener(self.listener)


#: the tracer the wrapped entry points report to; None passes through
_active: Tracer | None = None
_wrapped = False


def deactivate() -> None:
    """Stop reporting: the wrapped entry points pass straight through and
    the active tracer's streaming listener is removed."""
    global _active
    if _active is not None:
        _active.spark.streams.removeListener(_active.listener)
    _active = None


def _install_wrappers() -> None:
    """Wrap the memo and checkpoint entry points, once per process.
    Memo call sites import ``session_memo`` at call time, so replacing
    the module attribute reaches all of them. ``localCheckpoint`` is
    wrapped on the classic ``DataFrame`` subclass, which overrides the
    method of ``pyspark.sql.DataFrame``."""
    global _wrapped
    if _wrapped:
        return
    _wrapped = True
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    from mapreducecf_spark import memo

    session_memo = memo.session_memo

    def traced_memo(spark, key, build):
        if _active is None:
            return session_memo(spark, key, build)
        built: list[bool] = []

        def traced_build():
            t0 = time.time()
            try:
                return build()
            finally:
                built.append(True)
                _active.span("memo.build", t0, time.time(), key=repr(key))

        t0 = time.time()
        try:
            return session_memo(spark, key, traced_build)
        finally:
            _active.span("memo.call", t0, time.time(), key=repr(key), built=bool(built))

    memo.session_memo = traced_memo

    for method in ("localCheckpoint", "checkpoint"):
        original = getattr(ClassicDataFrame, method)

        def traced_checkpoint(df, *a, _original=original, _name=method, **k):
            if _active is None:
                return _original(df, *a, **k)
            t0 = time.time()
            try:
                return _original(df, *a, **k)
            finally:
                _active.span("checkpoint", t0, time.time(), method=_name)

        setattr(ClassicDataFrame, method, traced_checkpoint)


class StatusReader:
    """Reads jobs, stages, cached RDDs and SQL executions from the
    driver's status stores, serialized to JSON inside the JVM so each
    read is one py4j round trip."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jvm = spark.sparkContext._jvm
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(getattr(scala, "MODULE$"))
        self.jvm = jvm
        self.jobs: dict[int, dict] = {}
        self.stages: dict[tuple[int, int], dict] = {}
        self.executions: dict[int, dict] = {}
        conf = spark.sparkContext.getConf()
        self.retained = {
            "jobs": int(conf.get("spark.ui.retainedJobs", "1000")),
            "stages": int(conf.get("spark.ui.retainedStages", "1000")),
            "executions": int(conf.get("spark.sql.ui.retainedExecutions", "1000")),
        }

    def _json(self, obj) -> list:
        return json.loads(self.mapper.writeValueAsString(obj))

    def collect(self) -> None:
        """Read the retained jobs, stages and finished SQL executions,
        once the loop is over and every queued listener event (job end,
        stage end, streaming progress) has been delivered. Fails when a
        store holds as many entries as it retains, since older ones may
        then have been evicted unread."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = self._json(self.store.jobsList(None))
        default_q = getattr(self.store, "stageList$default$4")()
        stages = self._json(self.store.stageList(None, False, False, default_q, None))
        count = self.sql_store.executionsCount()
        for what, n in (("jobs", len(jobs)), ("stages", len(stages)), ("executions", count)):
            if n >= self.retained[what]:
                raise RuntimeError(f"{n} {what} retained: older ones may be evicted unread")
        self.jobs = {j["jobId"]: j for j in jobs}
        self.stages = {(s["stageId"], s["attemptId"]): s for s in stages}
        self.executions = {
            e["executionId"]: e
            for e in self._json(self.sql_store.executionsList())
            if e.get("completionTime") is not None
        }

    def cached_mb(self) -> float:
        rdds = self._json(self.store.rddList(True))
        return sum(r["memoryUsed"] + r["diskUsed"] for r in rdds) / MB

    def gc_seconds(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def _progress_interval(p: dict) -> tuple[float, float]:
    from datetime import datetime

    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start, start + p["durationMs"].get("triggerExecution", 0) / 1000.0


def attach_status(tracer: Tracer, reader: StatusReader) -> None:
    """Turn the status-store records and streaming progress events into
    child spans of the query whose window they started in."""
    queries = [s for s in tracer.spans if s["name"] == "query"]

    def owner(t: float) -> dict | None:
        for q in queries:
            if q["t0"] <= t <= q["t1"]:
                return q
        return None

    claimed: set[int] = set()
    for j in sorted(reader.jobs.values(), key=lambda j: j["jobId"]):
        q = owner(j["submissionTime"] / 1000.0)
        if q is None:
            continue
        # a stage reused by a later job is listed there as skipped; each
        # executed stage attempt is charged to the first job that ran it
        stages = [
            st for (sid, _), st in reader.stages.items()
            if sid in j["stageIds"] and sid not in claimed and st["status"] != "SKIPPED"
        ]
        claimed.update(st["stageId"] for st in stages)
        end = j.get("completionTime") or j["submissionTime"]
        tracer.span(
            "spark.job", j["submissionTime"] / 1000.0, end / 1000.0,
            parent=q["id"], query=q["query"], job_id=j["jobId"],
            stages=len(stages),
            tasks=sum(st["numCompleteTasks"] + st["numFailedTasks"] for st in stages),
            failed_tasks=sum(st["numFailedTasks"] for st in stages),
            task_run_s=sum(st["executorRunTime"] for st in stages) / 1000.0,
            task_cpu_s=sum(st["executorCpuTime"] for st in stages) / 1e9,
            shuffle_write_mb=sum(st["shuffleWriteBytes"] for st in stages) / MB,
            shuffle_read_mb=sum(st["shuffleReadBytes"] for st in stages) / MB,
            spill_mb=sum(st["diskBytesSpilled"] for st in stages) / MB,
        )
    for e in reader.executions.values():
        q = owner(e["submissionTime"] / 1000.0)
        if q is None:
            continue
        values = e.get("metricValues") or {}
        totals: dict[str, float] = {}
        seen: set[int] = set()
        for m in e["metrics"]:
            target = SQL_METRICS.get(m["name"])
            acc = m["accumulatorId"]
            if target is None or acc in seen or str(acc) not in values:
                continue
            seen.add(acc)
            totals[target[0]] = totals.get(target[0], 0.0) + parse_metric(values[str(acc)]) * target[1]
        tracer.span(
            "sql.execution", e["submissionTime"] / 1000.0, e["completionTime"] / 1000.0,
            parent=q["id"], query=q["query"], execution_id=e["executionId"], metrics=totals,
        )
    for p in tracer.stream_progress:
        a, b = _progress_interval(p)
        q = owner(a)
        if q is None:
            continue
        d = p["durationMs"]
        tracer.span(
            "stream.batch", a, b, parent=q["id"], query=q["query"], stream=p["id"],
            batch_id=p["batchId"],
            planning_s=d.get("queryPlanning", 0) / 1000.0,
            add_batch_s=d.get("addBatch", 0) / 1000.0,
            commit_s=(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000.0,
            state_mb=sum(op.get("memoryUsedBytes", 0) for op in p.get("stateOperators", [])) / MB,
        )


def layer_metrics(spans: list[dict], cores: int) -> dict[str, float]:
    """Every per-layer number of one traced application, derived from its
    spans alone."""
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name: str, attr: str | None = None) -> float:
        return sum(
            (s["t1"] - s["t0"]) if attr is None else s[attr] for s in by_name.get(name, [])
        )

    queries = by_name.get("query", [])
    wall = total("query")
    jobs = by_name.get("spark.job", [])
    batches = by_name.get("stream.batch", [])
    run_s = total("spark.job", "task_run_s")
    job_iv = [(j["t0"], j["t1"]) for j in jobs]
    trig_iv = [(b["t0"], b["t1"]) for b in batches]
    streaming_queries = {b["query"] for b in batches}
    calls = by_name.get("memo.call", [])
    builds = sum(1 for s in calls if s["built"])
    state: dict[str, float] = {}
    for b in batches:
        state[b["stream"]] = max(state.get(b["stream"], 0.0), b["state_mb"])
    out = {
        "session.start_s": total("session.start"),
        "session.warmup_s": total("session.warmup"),
        "query.construct_s": total("construct"),
        "query.execute_s": total("execute"),
        "spark.jobs": float(len(jobs)),
        "spark.stages": total("spark.job", "stages"),
        "spark.tasks": total("spark.job", "tasks"),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": total("spark.job", "task_cpu_s"),
        "spark.shuffle_write_mb": total("spark.job", "shuffle_write_mb"),
        "spark.shuffle_read_mb": total("spark.job", "shuffle_read_mb"),
        "spark.spill_mb": total("spark.job", "spill_mb"),
        "spark.failed_tasks": total("spark.job", "failed_tasks"),
        "spark.slot_occupancy": run_s / (wall * cores) if wall > 0 else 0.0,
        "driver.no_job_s": sum(
            (q["t1"] - q["t0"]) - union_length(clip(job_iv, q["t0"], q["t1"])) for q in queries
        ),
        "memo.calls": float(len(calls)),
        "memo.builds": float(builds),
        "memo.hit_ratio": (len(calls) - builds) / len(calls) if calls else 0.0,
        "checkpoint.calls": float(len(by_name.get("checkpoint", []))),
        "checkpoint.s": union_length([(s["t0"], s["t1"]) for s in by_name.get("checkpoint", [])]),
        "cache.stored_mb": max((s["stored_mb"] for s in by_name.get("cache", [])), default=0.0),
        "streaming.batches": float(len(batches)),
        "streaming.trigger_s": total("stream.batch"),
        "streaming.planning_s": total("stream.batch", "planning_s"),
        "streaming.add_batch_s": total("stream.batch", "add_batch_s"),
        "streaming.commit_s": total("stream.batch", "commit_s"),
        "streaming.startup_s": sum(
            (c["t1"] - c["t0"]) - union_length(clip(trig_iv, c["t0"], c["t1"]))
            for c in by_name.get("construct", [])
            if c["query"] in streaming_queries
        ),
        "streaming.state_mb": sum(state.values()),
        "jvm.gc_s": total("jvm.gc", "gc_s"),
    }
    for name, _ in SQL_METRICS.values():
        out[name] = sum(e["metrics"].get(name, 0.0) for e in by_name.get("sql.execution", []))
    return out
