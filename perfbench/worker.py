"""One benchmark run's Spark work: a series of fresh Spark applications
on one driver JVM, in the calling process (``run``).

- Application 0 starts the JVM and sets up: the cold set-up, counted
  from the start of the process. It then checks every query of the
  workload against its DuckDB oracle, on the tables the timed loop
  reads, which also makes it the run's warm pass. Nothing in it is
  timed as query work.
- Then one timed application per entry of ``LOOPS[trace]`` starts
  afresh (``get_spark`` and the per-application part of the warm-up,
  ``warm_app``) and runs the timed query loop, traced or not. Every
  engine cache (session memos, written-once sinks, trained codebooks) is
  keyed by application id, so none survives from one application to the
  next; the JVM's JIT and codegen cache do.

Callers put the repository root on ``sys.path`` and set the Spark
environment before calling ``run``.
"""

from __future__ import annotations

import gc
import os
import resource
import sys
import time
import traceback

#: state stores per stateful operator in the warm-up streams
REPLAY_STORES = 2
#: for an untraced and a traced run, whether each timed application is
#: traced. Traced applications sit on both sides of the untraced one, so
#: the JVM's warming over the run cancels out of the tracing overhead.
LOOPS = {False: [False], True: [True, False, True]}


def warm_up(spark, sf_dir: str, queries: dict) -> None:
    """The warm-up sequence ``bench.py`` runs before its timed loop:
    parquet reader, Python worker pool, the wordcount
    tokenize→explode→hash-agg codegen, a stateful stream and a
    stream-stream join."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    warm_app(spark, sf_dir)
    queries["wordcount"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # the streams run at the store count the engine's replays use, not
    # at the session's 32 shuffle partitions: 32 stores per stateful
    # operator made the stream-stream join alone take ~9 s on 4 cores
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(REPLAY_STORES))
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .groupBy((F.col("value") % 8).alias("k")).agg(F.count("*").alias("n"))
        .writeStream.format("memory").queryName("perfbench_warmup_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    warm_dir = tempfile.mkdtemp(prefix="perfbench_ss_warm_")
    spark.sql(
        "SELECT CAST(id AS BIGINT) AS k, "
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS ts "
        "FROM range(2)"
    ).write.mode("overwrite").parquet(warm_dir)
    s1 = (
        spark.readStream.schema("k bigint, ts timestamp").parquet(warm_dir)
        .withWatermark("ts", "10 seconds")
    )
    s2 = (
        spark.readStream.schema("k bigint, ts timestamp").parquet(warm_dir)
        .selectExpr("k AS k2", "ts AS ts2").withWatermark("ts2", "10 seconds")
    )
    q = (
        s1.join(
            s2,
            F.expr(
                "k = k2 AND ts2 BETWEEN ts - INTERVAL 5 SECONDS"
                " AND ts + INTERVAL 5 SECONDS"
            ),
        )
        .writeStream.format("memory").queryName("perfbench_warmup_ss_join")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    spark.conf.set("spark.sql.shuffle.partitions", partitions)
    shutil.rmtree(warm_dir, ignore_errors=True)


def warm_app(spark, sf_dir: str) -> None:
    """The part of the warm-up that a new application on a warm JVM
    needs again: a parquet read and the application's Python worker
    pool. Codegen and streaming are warm for the whole JVM: after a
    full warm-up in an earlier application, fresh applications ran the
    ``stream_replay`` loop in 3.97-4.05 s after the full warm-up and in
    4.02-4.17 s after this one or none."""
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(32).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()


def tidy(spark) -> None:
    """Between-query hygiene, outside every timed interval (as in
    ``bench.py``): drop drained replay sinks and terminated streams so
    their rows do not pile up on the shared heap."""
    for t in spark.catalog.listTables():
        if t.name.startswith(("graded_stream_", "perfbench_warmup_")):
            spark.catalog.dropTempView(t.name)
    spark.streams.resetTerminated()
    gc.collect()


def run_loop(spark, order: list[str], sf_dir: str, queries: dict, tracer=None, reader=None):
    """The timed closed loop: build each query with ``fn(spark, sf_dir)``
    and force it with the ``noop`` sink, one after another. Returns the
    per-query rows.

    With a ``tracer`` (and its status ``reader``), every query gets a
    query span with construct and execute children and, outside it, a
    snapshot of the cached bytes; after the loop the status stores are
    read once and the attributed jobs, SQL executions and stream
    batches, the JVM's GC time and the workload root span are added."""
    from probes import attach_status

    rows: list[dict] = []
    if reader is not None:
        gc0 = reader.gc_seconds()
    loop_start = time.time()
    for i, name in enumerate(order):
        qid = f"{i}:{name}"
        row: dict = {"name": name}
        t0 = time.time()
        t1 = t2 = None
        if tracer is not None:
            tracer.query = qid
        try:
            df = queries[name](spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            row.update(construct_s=t1 - t0, execute_s=t2 - t1)
        except Exception as ex:  # noqa: BLE001 — counted as a failed query
            row["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
            traceback.print_exc()
        end = time.time()
        rows.append(row)
        if tracer is not None:
            tracer.query = None
            qspan = tracer.span("query", t0, end, query=qid)
            for s in tracer.spans:
                if s["query"] == qid and s["parent"] is None and s["id"] != qspan:
                    s["parent"] = qspan
            if t1 is not None:
                tracer.span("construct", t0, t1, parent=qspan, query=qid)
            if t2 is not None:
                tracer.span("execute", t1, t2, parent=qspan, query=qid)
            tracer.span("cache", end, end, parent=qspan, query=qid, stored_mb=reader.cached_mb())
        tidy(spark)
    loop_end = time.time()
    if tracer is not None:
        reader.collect()
        tracer.span("jvm.gc", loop_start, loop_end, gc_s=reader.gc_seconds() - gc0)
        attach_status(tracer, reader)
        root = tracer.span("workload", loop_start, loop_end)
        for s in tracer.spans:
            if s["name"] == "query":
                s["parent"] = root
    return rows


def jvm_hwm_mb() -> float:
    """High-water resident memory of the driver JVM, in MB."""
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def verify(spark, names: list[str], sf_dir: str, queries: dict) -> dict[str, str | None]:
    """Compare each query's result at ``sf_dir`` with its DuckDB oracle:
    same columns, same row count, same order-insensitive value hash
    (``tools/check_parity``'s normalization). Maps each name to None when
    it matches, else to the reason."""
    import duckdb

    from mapreducecf_spark import registry
    from mapreducecf_spark.sources import TABLES
    from tools.check_parity import value_hash

    oracles = registry.oracles()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, str | None] = {}
    for name in names:
        t0 = time.time()
        try:
            if name not in oracles:
                out[name] = "no oracle"
                continue
            sdf = queries[name](spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            if sorted(scols) != sorted(dcols):
                out[name] = f"columns {sorted(scols)} != oracle {sorted(dcols)}"
            elif len(srows) != len(drows):
                out[name] = f"{len(srows)} rows != oracle {len(drows)}"
            elif value_hash(srows, scols) != value_hash(drows, dcols):
                out[name] = "value hash differs from oracle"
            else:
                out[name] = None
        except Exception as ex:  # noqa: BLE001 — a failure is a result here
            out[name] = f"{type(ex).__name__}: {str(ex)[:300]}"
            traceback.print_exc()
        tidy(spark)
        print(f"perfbench: verified {name} in {time.time() - t0:.2f} s", file=sys.stderr)
    con.close()
    return out


def setup(app: int, workload: str, sf_dir: str, asked: float):
    """A fresh Spark application, warmed up: fully for application 0,
    which starts the JVM, else with ``warm_app``. Returns the session and
    its set-up times, counted from ``asked``."""
    from mapreducecf_spark import get_spark, registry

    spark = get_spark(app_name=f"perfbench-{workload}-{app}")
    spark.sparkContext.setLogLevel("ERROR")
    session_ready = time.time()
    if app == 0:
        warm_up(spark, sf_dir, registry.QUERIES)
    else:
        warm_app(spark, sf_dir)
    tidy(spark)
    ready = time.time()
    timing = {
        "start_s": session_ready - asked,
        "warmup_s": ready - session_ready,
        "setup_s": ready - asked,
    }
    return spark, timing


def stop_jvm() -> None:
    """Close the driver JVM's stdin, on which it exits, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._gateway is None:
        return
    proc = SparkContext._gateway.proc
    proc.stdin.close()
    proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def run(workload: str, seed: int, paths: dict, trace: bool, started: float) -> dict:
    """The whole run: the cold application with the oracle check, then
    the timed applications of ``LOOPS[trace]``; stops the JVM at the end.

    Returns the cold set-up's times; the oracle check; per timed
    application, whether it was traced, its per-query construct and
    execute seconds (or the error) and, when traced, its per-layer
    numbers, whose spans go to ``paths["out"]``; and the high-water
    resident memory of the JVM plus this process."""
    import probes
    import workloads
    from probes import StatusReader, Tracer, layer_metrics

    from mapreducecf_spark import registry

    queries = registry.QUERIES
    order = workloads.order(workload, seed)
    result: dict = {"apps": []}
    try:
        # the oracle check warms the JIT and the codegen cache at the
        # timed scale before any timed application
        spark, cold = setup(0, workload, paths["data"], started)
        result["setup"] = cold
        print(f"perfbench: cold set-up {cold['setup_s']:.2f} s", file=sys.stderr)
        t = time.time()
        result["verify"] = verify(spark, order, paths["data"], queries)
        spark.stop()
        print(f"perfbench: oracle check {time.time() - t:.2f} s", file=sys.stderr)

        for app, traced in enumerate(LOOPS[trace], start=1):
            spark, timing = setup(app, workload, paths["data"], time.time())
            # every loop starts on a collected heap, whatever came before
            spark.sparkContext._jvm.System.gc()
            print(
                f"perfbench: application {app} set up in {timing['setup_s']:.2f} s",
                file=sys.stderr,
            )
            tracer = reader = None
            if traced:
                tracer = Tracer()
                # the cold set-up, split, so that the trace accounts for setup_s
                tracer.span("session.start", started, started + cold["start_s"])
                tracer.span(
                    "session.warmup", started + cold["start_s"], started + cold["setup_s"]
                )
                tracer.install(spark)
                reader = StatusReader(spark)
            try:
                record = {
                    "traced": traced,
                    "queries": run_loop(spark, order, paths["data"], queries, tracer, reader),
                }
            finally:
                probes.deactivate()
            if tracer is not None:
                tracer.dump(
                    os.path.join(paths["out"], f"{workload}-s{seed}.app{app}.spans.jsonl")
                )
                record["layers"] = layer_metrics(
                    tracer.spans, spark.sparkContext.defaultParallelism
                )
            result["apps"].append(record)
            spark.stop()
        # one JVM served every application: its high-water mark is the run's
        result["rss_mb"] = (
            jvm_hwm_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
    finally:
        stop_jvm()
    return result
