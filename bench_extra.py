"""Extra measurement harness for the optimization rounds (guide §1.4/§1.5).

``bench.py`` is FROZEN for measurement, so every auxiliary number cited in
OPTIMIZATION_r06.md comes from here instead: per-query noop-sink timing
(isolates the computation — no result collection, no column-pruning shortcut)
plus ``.explain("formatted")`` capture for the plan evidence under
``plans/r06/``.

Usage:
    python bench_extra.py q1 q2 ...            # time the named queries
    python bench_extra.py --all-headline       # bench.py's headline set
    python bench_extra.py q1 --explain plans/r06/q1_before.txt   # plan only

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 — the driver's round-5
measurement scale), SPARK_GRAFT_CPUS, SPARK_GRAFT_QUERY_REPEATS (default 3).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_geo_dem_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--all-headline", action="store_true")
    ap.add_argument("--explain", help="write explain('formatted') to this path (no timing)")
    ap.add_argument("--explain-dir", help="write <query>_<suffix>.txt explains here for every timed query")
    ap.add_argument("--suffix", default="after")
    ap.add_argument("--repeats", type=int, default=int(os.environ.get("SPARK_GRAFT_QUERY_REPEATS", "3")))
    args = ap.parse_args()
    if args.explain and len(args.queries) != 1:
        ap.error("--explain takes exactly one query name")

    from etl_geo_dem_spark.queries import REGISTRY

    names = list(args.queries)
    if args.all_headline:
        from bench import HEADLINE_QUERIES

        names += [q for q in HEADLINE_QUERIES if q not in names]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="bench_extra",
        shuffle_partitions=int(cpus),
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "64g"),
    )

    import contextlib
    import io

    def explain_str(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    if args.explain:
        name = names[0]
        with open(args.explain, "w") as f:
            f.write(explain_str(REGISTRY[name].fn(spark, sf_dir)))
        print(f"wrote {args.explain}")
        return

    timings: dict[str, list[float]] = {}
    for name in names:
        q = REGISTRY[name]
        spark.sparkContext.setJobDescription(f"bench_extra: {name}")
        runs = []
        for _ in range(args.repeats):
            t0 = time.time()
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.time() - t0, 3))
        timings[name] = runs
        spark.sparkContext.setJobDescription(None)
        if runs:
            print(json.dumps({"query": name, "min": min(runs), "runs": runs, "sf_dir": sf_dir}), flush=True)
        if args.explain_dir:
            os.makedirs(args.explain_dir, exist_ok=True)
            path = os.path.join(args.explain_dir, f"{name}_{args.suffix}.txt")
            with open(path, "w") as f:
                f.write(explain_str(q.fn(spark, sf_dir)))
    print(json.dumps({"sf_dir": sf_dir, "repeats": args.repeats,
                      "min": {k: min(v) for k, v in timings.items() if v}}))


if __name__ == "__main__":
    main()
