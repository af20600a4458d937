"""Isolated per-query noop-sink timing (guide §1.4) for optimization A/Bs.

Usage: python tools/qtime.py <n_runs> <query> [query ...]

Times each named query min-of-n (and median) against
$SPARK_GRAFT_SF_DIR (default sf0.1) on local[$SPARK_GRAFT_CPUS], with a
JVM/Python warm-up pass first — the same methodology as bench.py's
headline set. Prints one JSON line per query. tools/ab.py drives it,
one process per side, for interleaved A/Bs between two commits.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    n = int(sys.argv[1])
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session(
        "kmr-qtime", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    specs = all_queries()

    def materialize(df):
        df.write.mode("overwrite").format("noop").save()

    # warm-up: JVM codegen + Python worker pool (mirrors bench.py)
    materialize(specs["q_agg_group"].fn(spark, sf_dir).limit(1))
    materialize(specs["q_udf_scalar"].fn(spark, sf_dir).limit(256))

    for name in names:
        samples = []
        for _ in range(n):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.time()
            materialize(specs[name].fn(spark, sf_dir))
            samples.append(time.time() - t0)
        samples_r = [round(s, 3) for s in samples]
        print(
            json.dumps(
                {
                    "query": name,
                    "min": round(min(samples), 3),
                    "median": round(sorted(samples)[len(samples) // 2], 3),
                    "samples": samples_r,
                }
            )
        )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
