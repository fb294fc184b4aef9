"""Per-query isolation bench (guide §1.4): times individual declared
queries with the SAME methodology as bench.py (.count(), staged
releases, shared corpora for the consumer gates), importing bench.py's
query list and gate -> shared-corpus table. Also dumps
.explain("formatted") for each query when --explain-dir is given.

Usage:
    python bench_extra.py q1 q2 ...            # time named queries
    python bench_extra.py --rounds 3 name      # interleaved rounds, min
    python bench_extra.py --explain-dir plans/r06 --suffix before name
    python bench_extra.py --all                # every bench.py query

Env as bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import BENCH_QUERIES, CPUS, SF_DIR, SHARED_CORPUS, corpus_builders


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--explain-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--ui", action="store_true",
                    help="enable the Spark UI for live inspection")
    args = ap.parse_args()

    import __spark_entry__ as E
    from stirling_pdf_spark.runtime.staging import release_staged
    from stirling_pdf_spark.session import get_spark

    extra = {"spark.ui.enabled": "true"} if args.ui else None
    spark = get_spark("bench_extra", cores=CPUS, shuffle_partitions=CPUS,
                      extra_conf=extra)
    qs = E.queries()
    names = list(args.names)
    if args.all:
        names = list(BENCH_QUERIES)
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    # shared corpora, built lazily only when a consumer is requested
    builders = corpus_builders()
    shared_cache: dict[str, object] = {}

    def shared_for(name: str):
        key = SHARED_CORPUS.get(name)
        if key is None:
            return None
        if key not in shared_cache:
            path = f"/tmp/bx_{key}.parquet"
            builders[key](spark, SF_DIR).write.mode("overwrite").parquet(path)
            shared_cache[key] = spark.read.parquet(path)
        return shared_cache[key]

    timings: dict[str, float] = {}
    for rnd in range(args.rounds):
        for name in names:
            docs = shared_for(name)
            spark.sparkContext.setJobDescription(f"bx:{name}")
            t0 = time.time()
            if docs is not None:
                qs[name](spark, SF_DIR, docs=docs).count()
            else:
                qs[name](spark, SF_DIR).count()
            t = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, t), t)
            release_staged()
            print(f"  [{rnd}] {name}: {t}s", file=sys.stderr)

    if args.explain_dir:
        os.makedirs(args.explain_dir, exist_ok=True)
        for name in names:
            docs = shared_for(name)
            df = (qs[name](spark, SF_DIR, docs=docs) if docs is not None
                  else qs[name](spark, SF_DIR))
            out = os.path.join(args.explain_dir,
                               f"{name}_{args.suffix}.txt")
            with open(out, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            release_staged()
            print(f"  wrote {out}", file=sys.stderr)

    print(json.dumps({"queries": timings,
                      "total": round(sum(timings.values()), 3),
                      "rounds": args.rounds, "sf_dir": SF_DIR}))
    spark.stop()


if __name__ == "__main__":
    main()
