"""Focused headline-query measurement harness (optimization rounds).

Times each bench.HEADLINE query around full materialization (noop sink,
same methodology as bench.py: warm-up rep + min of reps), counts the
Spark jobs each invocation launches (job-group scoped), and optionally
writes ``.explain('formatted')`` plans to plans/<tag>/.

Usage:
    python tools/measure_headline.py [--plans plans/r14 --suffix _before]
                                     [--reps 3] [query ...]

Prints one JSON line: {"queries": {name: sec}, "jobs": {name: n}, ...}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_REPS, HEADLINE, materialize  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    plans_dir = None
    suffix = "_before"
    reps = BENCH_REPS
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif args[i] == "--reps":
            reps = int(args[i + 1])
            i += 2
        else:
            names.append(args[i])
            i += 1
    if not names:
        names = list(HEADLINE)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from vectordb_retrieval_spark.session import get_spark

    spark = get_spark("measure_headline", master=f"local[{cpus}]")
    sc = spark.sparkContext

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    # same warmup as bench.py
    spark.range(1000).selectExpr("sum(id)").collect()
    materialize(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    materialize(
        spark.range(10_000)
        .repartition(int(cpus))
        .mapInPandas(lambda it: it, schema="id long")
    )

    timings: dict[str, float] = {}
    jobs: dict[str, int] = {}
    for name in names:
        fn = qs[name]
        sc.setJobDescription(f"measure:{name}")
        ts = []
        for r in range(reps):
            group = f"measure-{name}-{r}"
            sc.setJobGroup(group, name)
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            ts.append(time.time() - t0)
            jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
        sc.setJobGroup("idle", "idle")
        timings[name] = round(min(ts), 3)
        print(
            f"# {name}: min={min(ts):.3f} reps={[round(t, 3) for t in ts]} "
            f"jobs/rep={jobs[name]}",
            file=sys.stderr,
        )
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(plans_dir, f"{name}{suffix}.txt"), "w"
            ) as fh:
                fh.write(plan)
    out = {
        "metric": "headline_subset_wall_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "jobs": jobs,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
