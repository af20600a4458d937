"""Per-stage profile of a registered query (optimization inner loop).

Usage: python tools/profile_stages.py <query> [query ...]

For each query: one warm-up materialization, then a profiled run that
reports plan-build wall, total wall, and each completed stage's
executorRunTime / input / shuffle read+write bytes (from the
AppStatusStore; ``stage_rows`` is the repository's one walk of it).
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def stage_rows(spark):
    sc = spark._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    store = sc.statusStore()
    it = store.stageList(
        spark._jvm.java.util.ArrayList(),
        getattr(store, "stageList$default$2")(),
        getattr(store, "stageList$default$3")(),
        getattr(store, "stageList$default$4")(),
        getattr(store, "stageList$default$5")(),
    ).iterator()
    rows = []
    while it.hasNext():
        s = it.next()
        rows.append(
            {
                "id": s.stageId(),
                "name": str(s.name())[:80],
                "run_ms": s.executorRunTime(),
                "cpu_ms": s.executorCpuTime() // 1_000_000,
                "in_mb": round(s.inputBytes() / 1e6, 1),
                "sh_r_mb": round(s.shuffleReadBytes() / 1e6, 1),
                "sh_w_mb": round(s.shuffleWriteBytes() / 1e6, 1),
                "tasks": s.numCompleteTasks(),
            }
        )
    return rows


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session(
        "kmr-prof", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    specs = all_queries()

    def materialize(df):
        df.write.mode("overwrite").format("noop").save()

    materialize(specs["q_agg_group"].fn(spark, sf_dir).limit(1))
    materialize(specs["q_udf_scalar"].fn(spark, sf_dir).limit(256))

    for name in names:
        materialize(specs[name].fn(spark, sf_dir))  # warm-up
        before_ids = {r["id"] for r in stage_rows(spark)}
        t0 = time.time()
        df = specs[name].fn(spark, sf_dir)
        t_build = time.time() - t0
        materialize(df)
        t_total = time.time() - t0
        rows = [r for r in stage_rows(spark) if r["id"] not in before_ids]
        rows.sort(key=lambda r: -r["run_ms"])
        print(
            f"== {name}: build {t_build:.3f}s total {t_total:.3f}s "
            f"stages {len(rows)} task-sec {sum(r['run_ms'] for r in rows)/1000:.2f}"
        )
        for r in rows[:14]:
            print(
                f"  run {r['run_ms']/1000:6.2f}s cpu {r['cpu_ms']/1000:6.2f}s "
                f"tasks {r['tasks']:3d} in {r['in_mb']:7.1f}MB "
                f"shR {r['sh_r_mb']:6.1f} shW {r['sh_w_mb']:6.1f}  {r['name']}"
            )
        sys.stdout.flush()
    spark.stop()


if __name__ == "__main__":
    main()
