"""Benchmark command: run one workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout of this repository. It generates the
input tables under ``.perfbench/`` on first use, then runs the whole run
in this process on one driver JVM, ``local[nproc]``: a closed loop with
one client (``worker.run``). The first Spark application sets up cold,
from the start of the process (less any table generation), and checks
every query of the workload against its DuckDB oracle, on the tables
the loop reads. With ``--trace 0`` one fresh application then runs the
workload's queries in the order the seed gives, each built with
``fn(spark, sf_dir)`` and forced with the ``noop`` sink. ``--seconds``
is accepted and does not change the run.

With ``--trace 0`` it reports the end-to-end metrics; with ``--trace 1``
three fresh applications run the loop traced, untraced and traced, and
it reports the per-layer metrics derived from the traced ones' spans
(``.perfbench/out/*.spans.jsonl``), with the tracing overhead. The last
line of standard output is one JSON object; a failed query makes the
exit code 1. ``perfbench/METRICS.md`` defines every metric.
"""

from __future__ import annotations

import time

#: the cold set-up counts from here
STARTED = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402

#: scale factor of the timed loop and of the oracle check before it
SF = 0.1
TAIL_BEYOND = 10


def prepare(root: str) -> tuple[dict, float]:
    """Fresh scratch directories under ``.perfbench/``, the Spark
    environment (set before pyspark is imported, so the JVM and its
    Python workers inherit it) and the input tables. Returns the paths
    and the seconds spent generating tables."""
    work = os.path.join(root, ".perfbench")
    paths = {
        "out": os.path.join(work, "out"),
        "tmp": os.path.join(work, "tmp"),
        "local": os.path.join(work, "spark-local"),
    }
    for p in paths.values():
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        PYTHONPATH=os.pathsep.join(filter(None, [root, os.environ.get("PYTHONPATH")])),
        TMPDIR=paths["tmp"],
        SPARK_LOCAL_DIRS=paths["local"],
        # no hsperfdata file: HotSpot writes it to /tmp whatever the tmpdir
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={paths['tmp']} -XX:-UsePerfData",
    )
    sys.path.insert(0, root)
    import datagen

    t = time.time()
    paths["data"] = datagen.ensure(os.path.join(work, "data"), SF)
    return paths, time.time() - t


def tail(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least TAIL_BEYOND samples beyond
    it, and its value."""
    xs = sorted(samples)
    k = max(0, len(xs) - TAIL_BEYOND - 1)
    return 100.0 * (k + 1) / len(xs), xs[k]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in ("mapreducecf_spark/registry.py", "tools/check_parity.py"):
        if not os.path.isfile(os.path.join(root, need)):
            print(f"perfbench: {need} not found; run from a checkout's root", file=sys.stderr)
            return 2

    # generating the tables (first run in a checkout) is not set-up
    paths, generated_s = prepare(root)
    import worker

    # the JVM and the Python workers inherit standard output: send it,
    # and the engine's prints, to standard error, so the result stays last
    sys.stdout.flush()
    saved_stdout = os.dup(1)
    os.dup2(2, 1)
    try:
        result = worker.run(
            args.workload, args.seed, paths, bool(args.trace), STARTED + generated_s
        )
    finally:
        sys.stdout.flush()
        os.dup2(saved_stdout, 1)
        os.close(saved_stdout)
    apps = result["apps"]
    plain = [a for a in apps if not a["traced"]]
    traced = [a for a in apps if a["traced"]]

    for a in apps:
        for q in a["queries"]:
            took = q.get("error") or f"{q['construct_s']:.2f} s + {q['execute_s']:.2f} s"
            kind = "traced" if a["traced"] else "plain"
            print(f"perfbench: {kind} {q['name']}: {took}", file=sys.stderr)
    names = workloads.WORKLOADS[args.workload]
    ran = [q for a in apps for q in a["queries"]]
    failures = [(q["name"], q["error"]) for q in ran if "error" in q]
    failures += [(name, why) for name, why in result["verify"].items() if why]
    for name, why in failures:
        print(f"FAILED {name}: {why}", file=sys.stderr)
    attempted = len(ran) + len(names)
    failed = len(failures)
    correct = failed == 0

    def loop_wall(app: dict) -> float:
        return sum(q["construct_s"] + q["execute_s"] for q in app["queries"] if "error" not in q)

    per_query = [
        q["construct_s"] + q["execute_s"] for a in plain for q in a["queries"] if "error" not in q
    ] or [0.0]
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not args.trace:
        values = {
            "setup_s": result["setup"]["setup_s"],
            "wall_s": statistics.median(loop_wall(a) for a in plain),
            "query_p50_s": statistics.median(per_query),
            "peak_rss_mb": result["rss_mb"],
        }
        units = {"query_p50_s": "s", "peak_rss_mb": "MB"}
        reported = spec["end_to_end"]
    else:
        builds = {a["layers"]["memo.builds"] for a in traced}
        if len(builds) > 1:
            print(f"memo.builds differs between applications: {sorted(builds)}", file=sys.stderr)
            correct = False
        values = {
            name: statistics.median(a["layers"][name] for a in traced)
            for name in traced[0]["layers"]
        }
        values["trace.overhead"] = (
            statistics.median(loop_wall(a) for a in traced) / (loop_wall(plain[0]) or 1.0)
        )
        units = {}
        reported = spec["per_layer"]
    units.update({m["name"]: m["unit"] for m in reported})

    print(
        f"# {args.workload}: seed {args.seed}, {len(apps)} timed loops "
        f"of {len(names)} queries at sf{SF:g} on local[{os.environ['SPARK_GRAFT_CPUS']}], "
        "after an oracle check of each"
    )
    for name, value in values.items():
        print(f"{name:24s} {value:14.4f} {units[name]}")
    print(f"{'failed_frac':24s} {failed / attempted:14.4f} ratio  ({failed} of {attempted})")
    if not args.trace:
        pct, tail_value = tail(per_query)
        if pct >= 50:
            shown = f"{tail_value:14.4f} s      (p{pct:.1f} of {len(per_query)} samples)"
        else:
            shown = f"{'unsupported':>14s}        ({len(per_query)} samples: none of p50 or above has {TAIL_BEYOND} beyond it)"
        print(f"{'query_tail_s':24s} {shown}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in reported
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
