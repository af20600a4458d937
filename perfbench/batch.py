"""Closed-loop query workloads: one client runs registered queries back to
back, each built with ``registry.all_queries()[name].fn(spark, data)`` and
executed by a ``noop`` write, cycling through the workload's list in a
seed-shuffled order."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import statistics
import sys
import time

from perfbench import tracing as trace

WORKLOADS = {
    # Execution-bound relational SQL; every row has a DuckDB oracle and no
    # Python workers run. Runnable by hand; not in BENCHMARK.json (run budget).
    "relational_mix": (
        "q_agg_group", "q_audit_delivery", "q_join_multiway", "q_join_asof",
        "q_window_rank", "q_orderby", "q_agg_percentile", "q_funnel",
    ),
    # LLM-data dedup and similarity: driver-side build (eager
    # localCheckpoint barriers) and Arrow/pandas UDF stages dominate.
    # q_dedup_near_capped is left out for the run budget: below the
    # auto-prune floor it runs q_dedup_near's plan with the same output.
    "llm_dedup": (
        "q_dedup_near", "q_dedup_simhash_capped", "q_dedup_semantic",
        "q_dedup_embedding_lsh", "q_sim_topk", "q_text_tokens", "q_dedup_editdist",
    ),
}
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def digest(pdf) -> dict:
    """Row count and sha256 of a result in the parity harness's canonical
    form (columns and rows sorted)."""
    from parity import normalize

    canon = normalize(pdf).to_csv(index=False)
    return {"rows": len(pdf), "sha256": hashlib.sha256(canon.encode()).hexdigest()}


def check_results(spark, specs, names, data_dir: str) -> dict[str, str]:
    """Collect every query once, outside the timed region, and check it:
    against its DuckDB oracle where one exists, else against the digest
    pinned in digests.json. Returns {query: problem} for the failures. This
    pass is also the warm-up: first executions run 2-7x slower."""
    import parity

    with open(DIGESTS) as f:
        pinned = json.load(f)
    con = parity.duck_connection(data_dir)
    bad: dict[str, str] = {}
    for name in names:
        spec = specs[name]
        try:
            got = spec.fn(spark, data_dir).toPandas()
        except Exception as e:  # a raising query is a failed operation
            bad[name] = f"raised {type(e).__name__}: {str(e)[:200]}"
            continue
        if spec.oracle is not None:
            problems = parity.compare(got, con.execute(parity.oracle_for(spec, data_dir)).df())
            if problems:
                bad[name] = "; ".join(problems)
        elif name not in pinned:
            bad[name] = "no oracle and no pinned digest"
        elif digest(got) != pinned[name]:
            bad[name] = f"digest {digest(got)} != pinned {pinned[name]}"
    con.close()
    return bad


def run(ctx) -> dict:
    from kafka_map_reduce_spark.session import get_session

    t = time.perf_counter()
    spark = get_session("perfbench")
    ctx.layer["session.get_session_s"] = time.perf_counter() - t
    from kafka_map_reduce_spark.registry import all_queries

    specs = all_queries()
    order = list(WORKLOADS[ctx.workload])
    random.Random(ctx.seed).shuffle(order)
    bad = check_results(spark, specs, order, ctx.data_dir)
    for name, problem in bad.items():
        print(f"FAIL {name}: {problem}", file=sys.stderr)

    tracer = trace.Tracer() if ctx.trace else None
    if tracer:
        floor = []
        for _ in range(5):
            t = time.perf_counter()
            spark.range(0).write.format("noop").mode("overwrite").save()
            floor.append(time.perf_counter() - t)
        ctx.layer["spark.action_floor_s"] = statistics.median(floor)
        marks = trace.spark_marks(spark)
        restore = trace.install(tracer)
    ctx.setup_done(spark)

    span = tracer.span if tracer else (lambda *a, **kw: contextlib.nullcontext())
    latencies, ok, attempted = [], 0, 0
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < ctx.seconds:
        for name in order:
            attempted += 1
            a = time.perf_counter()
            try:
                with span("query", group=attempted):
                    with span("queries.build"):
                        df = specs[name].fn(spark, ctx.data_dir)
                    with span("queries.execute"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a failed query; its time still counts
                print(f"FAIL {name}: raised {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            else:
                ok += name not in bad
            latencies.append(time.perf_counter() - a)
    wall = time.perf_counter() - t0
    ctx.timed_done()

    if tracer:
        restore()
        t = time.perf_counter()
        totals = trace.spark_totals(spark, marks)
        tracer.charge(time.perf_counter() - t)
        ctx.add_spark_layers(totals, wall)
        ctx.layer["sources.load_table_calls"], ctx.layer["sources.load_table_s"] = (
            tracer.total("sources.load_table")
        )
        ctx.layer["queries.build_s"] = tracer.total("queries.build")[1]
        ctx.layer["queries.execute_s"] = tracer.total("queries.execute")[1]
        for mod in trace.OPERATOR_MODULES:
            ctx.layer[f"operators.{mod}.build_s"] = tracer.total(
                f"operators.{mod}.", outermost=True
            )[1]
        ctx.layer["operators.calls"] = tracer.total("operators.", outermost=True)[0]
        ctx.tracer = tracer
    return {
        "attempted": attempted,
        "failed": attempted - ok,
        "throughput": ok / wall,
        "latencies": latencies,
    }
