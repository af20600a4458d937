"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE compact JSON line.

Each query is fully materialized via the noop sink (forces end-to-end
execution without driver-side row transfer, so timings reflect the plan,
not collect()).

Artifact contract (fixed r6): the driver captures only the LAST 2000
bytes of output and parses the final JSON line — round 5's single line
outgrew that window and the driver recorded ``parsed: null``. The final
stdout line is therefore HEADLINE-ONLY, ~650 bytes: ``metric``,
``value`` (the sum of the per-query walls), ``unit``, ``queries`` (each
HEADLINE query's min-of-n wall), ``runs_per_query``, ``estimator``,
``sf`` and ``detail_file``. Every extended section (additions timings,
pipeline throughput, sf1 scale-up, incremental ingest, star components,
hot-domain skew) is written to ``BENCH_DETAIL_r<N>.json`` in the repo,
referenced from the compact line via ``detail_file``.

These walls carry host drift, so a move between two sessions is not
evidence of a code change: judge one with ``tools/ab.py``, an
interleaved A/B against the parent commit in one session.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

# Representative headline set: one per operator family, weighted toward
# the queries whose plans matter at scale.
HEADLINE = [
    "q_agg_group",        # flagship hash aggregate (TPC-H Q1 shape)
    "q_audit_delivery",   # the reference's own verification query
    "q_join_multiway",    # star join: fact-fact shuffle + broadcast dims
    "q_join_asof",        # custom as-of join (union + window)
    "q_window_rank",      # partitioned ranking window
    "q_orderby",          # global range-partitioned sort
    "q_agg_percentile",   # sort-based exact percentile
    "q_scan_json_lines",  # JSON decode over the wire format
    "q_udf_scalar",       # Arrow pandas-UDF path
    "q_dedup_near",       # MinHash+LSH near-dup (Tier C scale path)
    "q_sim_topk",         # brute-force ANN baseline
    "q_text_tokens",      # tokenize + TF + top-k
    "q_stream_tumbling",  # event-time windowing (batch face)
    "q_heavy_hitters",    # Misra-Gries pruned exact heavy hitters
    "q_dedup_editdist",   # FastSS deletion-signature similarity join
    "q_funnel",           # co-partitioned multi-stage event funnel
    "q_dedup_near_capped",  # LSH with the hot-band guard ON (skew path)
    "q_dedup_simhash_capped",  # SimHash with the hot-block guard ON
]


# --- sf1 scale-up section -------------------------------------------------
# One order of magnitude above the driver's sf0.1: substantiates the 100 TB
# design claims for the queries whose plans could in principle degrade
# super-linearly (shuffle-bound dedup/funnel/ids/pipeline/topk). Tables are
# built once under .bench_sf1/ as 10 replicas of the sf0.1 tables with
# disjoint id spaces; replica text gets every TOKEN prefixed with a replica
# tag, so replicas share no shingles — the near-dup structure of sf0.1 is
# preserved exactly, 10 times over, instead of turning every doc into a
# 10-way near-dup cluster (which would measure an artifact, not the plan).
# Token count and lang are unchanged; n_chars is RECOMPUTED from the
# rewritten text (the r<i> prefixes add 2+ chars per token) so any gate
# or query deriving length from either source sees consistent values.
SCALEUP_QUERIES = [
    "q_dedup_near",
    "q_dedup_near_capped",
    "q_dedup_simhash_capped",
    "q_funnel",
    "q_doc_ids",
    "q_pipeline_e2e",
    "q_sim_topk",
    # added r5 (called out per bench hygiene; the 7 above stay the
    # cross-round comparison set): both are shuffle-bound plans whose
    # scale story is new this round — packing's two-phase prefix sum and
    # boilerplate's line-hash count/join/rollup chain
    "q_pack_sequences",
    "q_text_boilerplate",
]
SCALEUP_REPLICAS = 10
_REPLICA_ID_OFFSET = 10_000_000


def ensure_scaleup_tables(spark, src_dir: str, out_dir: str) -> None:
    """Idempotently materialize the replicated sf1 tables (documents,
    events, embeddings — the only tables SCALEUP_QUERIES touch)."""
    import shutil

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.sources import load_table

    # v2: replica n_chars recomputed from rewritten text (r5) — bumping
    # the marker invalidates tables built by the v1 generator
    marker = os.path.join(out_dir, f"_REPLICAS_{SCALEUP_REPLICAS}_v2_OK")
    if os.path.exists(marker):
        return
    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    def replicate(name: str, id_cols: list[str], text_col: str | None) -> None:
        base = load_table(spark, src_dir, name)
        parts = []
        for i in range(SCALEUP_REPLICAS):
            r = base
            for c in id_cols:
                r = r.withColumn(c, F.col(c) + F.lit(i * _REPLICA_ID_OFFSET))
            if text_col and i > 0:
                r = r.withColumn(
                    text_col,
                    F.array_join(
                        F.transform(
                            F.split(F.col(text_col), " "),
                            lambda w: F.concat(F.lit(f"r{i}"), w),
                        ),
                        " ",
                    ),
                )
                if "n_chars" in r.columns:
                    r = r.withColumn("n_chars", F.length(F.col(text_col)))
            parts.append(r)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )

    replicate("documents", ["doc_id"], "text")
    replicate("events", ["event_id", "user_id"], None)
    replicate("embeddings", ["vec_id"], None)
    with open(marker, "w") as f:
        f.write("ok\n")


def bench_incremental_ingest(spark, sf1_dir: str, n_runs: int) -> dict:
    """Steady-state incremental dedup at sf1, at THREE index sizes.

    The batch is fixed (the bottom-10% of documents re-ingested under
    fresh ids with one appended token — every doc a planted near-dup
    whose partner is indexed at every size, the worst case for
    verification volume); the persisted LSH band index grows
    from 2x to 5x to 9x the batch (indexing 20% / 50% / 90% of the
    corpus). The incremental contract says per-ingest-step cost tracks
    the BATCH, not the index — so the three timings must be flat. A
    rising curve would mean the index probe degraded into a corpus scan.
    ``flat_ratio`` = slowest/fastest across index sizes, computed here so
    the claim is a recorded number, not an inference."""
    import time as _time

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    q = docs.selectExpr(
        "percentile(doc_id, 0.1) AS p10",
        "percentile(doc_id, 0.2) AS p20",
        "percentile(doc_id, 0.5) AS p50",
        "percentile(doc_id, 0.9) AS p90",
    ).collect()[0]
    # Fixed batch: the BOTTOM-10% docs re-ingested under fresh ids with
    # one appended token. Their originals sit inside even the smallest
    # (20%) index, so every batch doc is a planted near-dup whose partner
    # IS indexed at every size — verification volume is maximal and
    # constant across the three index sizes, and the flat curve isolates
    # index-size sensitivity. (A batch drawn from ABOVE the index split
    # would have unindexed partners: nothing to verify, trivially flat.)
    batch = docs.filter(F.col("doc_id") <= q["p10"]).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" ingest audit token")).alias("text"),
    )
    by_index_size: dict[str, dict] = {}
    for frac, split in (("0.2", q["p20"]), ("0.5", q["p50"]), ("0.9", q["p90"])):
        corpus = docs.filter(F.col("doc_id") <= split)
        index_path = os.path.join(sf1_dir, f"_lsh_band_index_{frac}.parquet")
        if not os.path.exists(os.path.join(index_path, "_SUCCESS")):
            D.lsh_banded(
                D.minhash_signatures(D.word_shingles(corpus, "text", "doc_id"))
            ).write.mode("overwrite").parquet(index_path)
        index = spark.read.parquet(index_path)
        best = float("inf")
        pairs_found = 0
        for _ in range(n_runs):
            t0 = _time.time()
            cached = []
            pairs, novel, _banded = D.incremental_near_dedup(
                batch, corpus, index, "text", "doc_id", min_jaccard=0.5,
                cache_registry=cached,
            )
            pairs_found = pairs.count() + novel.count()
            best = min(best, _time.time() - t0)
            for c in cached:
                c.unpersist()
        by_index_size[frac] = {
            "sec": round(best, 3),
            "pairs_plus_novel": pairs_found,
        }
    secs = [v["sec"] for v in by_index_size.values()]
    return {
        "batch_fraction": 0.1,
        "corpus_fraction_indexed": list(by_index_size),
        "by_index_size": by_index_size,
        "flat_ratio": round(max(secs) / min(secs), 2) if min(secs) > 0 else None,
    }


def bench_star_convergence(spark, sf1_dir: str) -> dict:
    """Connected components by star contraction over the REAL sf1
    near-dup pair set (50k nodes): records wall time and — the scale
    claim — rounds to convergence, which should track
    O(log max-component-size), far below the component-diameter bound of
    plain label propagation."""
    import time as _time

    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators import dedup as D

    docs = spark.read.parquet(os.path.join(sf1_dir, "documents.parquet")).select(
        "doc_id", "text"
    )
    sh = D.word_shingles(docs, "text", "doc_id")
    pairs = D.jaccard_verify(
        D.lsh_candidates(D.minhash_signatures(sh), max_bucket_size=64),
        sh,
        0.5,
    ).select("id_a", "id_b").localCheckpoint(eager=True)
    n_pairs = pairs.count()
    stats: dict = {}
    t0 = _time.time()
    comp = D.connected_components_star(
        # this witness exists to measure the DISTRIBUTED star loop's
        # round count — disable the driver-local union-find gate (r17)
        pairs, docs.select("doc_id"), stats=stats, local_max_edges=0
    )
    n_clusters = comp.select("cluster_id").distinct().count()
    sec = _time.time() - t0
    return {
        "n_nodes": docs.count(),
        "n_pairs": n_pairs,
        "n_clusters": n_clusters,
        "rounds": stats.get("rounds"),
        "sec": round(sec, 3),
    }


def materialize(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


CORPUS_SCALEUP_QUERIES = [
    "q_corpus_mix",
    "q_domain_cap",
    "q_split_assign",
    "q_text_unigram_logprob",
]


def bench_corpus_scaleup(spark, sf_dir: str, sf1_dir: str, n_runs: int) -> dict:
    """sf1 rows for the corpus-assembly family + a deliberately
    hot-domain skew probe (VERDICT r5 #6).

    Part 1: the four corpus queries at sf0.1 vs sf1 in the same session —
    the grouped prefix sum (mix), two-stage domain rank (cap), salted
    split, and token-keyed LM join are exactly the plans whose skew
    claims deserve a 10x-data measurement.

    Part 2: the skew claim itself, measured HONESTLY. The sf1 documents
    are exploded x20 to 1M rows with ONE domain owning 50%, then the
    per-domain exclusive prefix sum runs two ways: the engine's
    two-phase grouped_running_total (hot domain SPANS range partitions)
    vs the naive ``sum() OVER (PARTITION BY source ORDER BY doc_id)``
    that funnels the hot domain through one reducer.

    What the numbers mean: in a single local JVM the NAIVE form wins
    wall-clock (measured ~0.5 s vs ~1.1 s at 1M rows — no network
    shuffle, and one thread sorts 500k narrow rows easily), so the
    recorded time ratio is the two-phase form's insurance premium, not
    a victory lap. The scale argument is the CONCENTRATION metric
    recorded alongside: ``naive_max_task_rows`` equals the hot domain
    (50% of the corpus through ONE task — grows linearly with data
    until that task exceeds executor memory or becomes the straggler),
    while ``two_phase_max_task_rows`` is bounded by the range layout
    (~rows/partitions) REGARDLESS of skew. At 100 TB the former is an
    OOM; the latter is just another partition."""
    import time as _time

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from kafka_map_reduce_spark.operators.ids import grouped_running_total
    from kafka_map_reduce_spark.registry import all_queries

    specs = all_queries()

    def best_of(fn) -> float:
        best = float("inf")
        for _ in range(n_runs):
            t0 = _time.time()
            fn()
            best = min(best, _time.time() - t0)
        return round(best, 3)

    out: dict = {"queries_sf0.1": {}, "queries_sf1": {}, "scaleup_ratio": {}}
    for name in CORPUS_SCALEUP_QUERIES:
        base = best_of(lambda: materialize(specs[name].fn(spark, sf_dir)))
        big = best_of(lambda: materialize(specs[name].fn(spark, sf1_dir)))
        out["queries_sf0.1"][name] = base
        out["queries_sf1"][name] = big
        if base > 0:
            out["scaleup_ratio"][name] = round(big / base, 2)

    docs_hot = (
        spark.read.parquet(os.path.join(sf1_dir, "documents.parquet"))
        .select("doc_id", "n_chars", "source")
        .withColumn("__r", F.explode(F.sequence(F.lit(0), F.lit(19))))
        .select(
            (F.col("doc_id") * 20 + F.col("__r")).alias("doc_id"),
            "n_chars",
            F.when(
                F.pmod(F.col("doc_id") * 20 + F.col("__r"), 2) == 0,
                F.lit("hot_source"),
            )
            .otherwise(F.col("source"))
            .alias("source"),
        )
        .localCheckpoint(eager=True)  # isolate prefix-sum cost from scan
    )
    n_rows = docs_hot.count()
    n_hot = docs_hot.filter(F.col("source") == "hot_source").count()
    two_phase = best_of(
        lambda: materialize(
            grouped_running_total(
                docs_hot, ["source"], ["doc_id"], "n_chars"
            )
        )
    )
    naive_w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    naive = best_of(
        lambda: materialize(
            docs_hot.withColumn(
                "cum_before",
                F.coalesce(F.sum("n_chars").over(naive_w), F.lit(0)),
            )
        )
    )
    # Concentration: the scale-invariant witness. Naive funnels the
    # whole hot domain through one task; two-phase's max task is set by
    # the range layout (measured, not assumed). AQE's partition
    # coalescing merges these deliberately-small bench partitions into a
    # few big ones (1M narrow rows ~ 30 MB < one advisory partition),
    # which would report the coalesced size, not the layout bound — at
    # 100 TB partitions are full and coalescing is a no-op, so the probe
    # disables it for this one measurement.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce_key, "true")
    try:
        spark.conf.set(coalesce_key, "false")
        two_phase_max = (
            docs_hot.repartitionByRange("source", "doc_id")
            .groupBy(F.spark_partition_id().alias("__p"))
            .count()
            .agg(F.max("count").alias("m"))
            .first()["m"]
        )
    finally:
        spark.conf.set(coalesce_key, prev_coalesce)
    out["hot_domain"] = {
        "n_rows": n_rows,
        "hot_domain_rows": n_hot,
        "two_phase_sec": two_phase,
        "naive_window_sec": naive,
        "two_phase_over_naive_local": round(two_phase / naive, 2)
        if naive > 0
        else None,
        "naive_max_task_rows": n_hot,
        "two_phase_max_task_rows": int(two_phase_max),
        "note": (
            "single-JVM local mode favors the naive window (no network "
            "shuffle; one thread sorts the hot domain easily) — the "
            "recorded time ratio is the two-phase form's insurance "
            "premium. The scale argument is concentration: naive puts "
            "hot_domain_rows (50% of the corpus, grows with data) "
            "through ONE task; two-phase's max task is bounded by the "
            "range layout regardless of skew."
        ),
    }
    docs_hot.unpersist()
    return out


def bench_pipeline_throughput(spark, sf_dir: str, n_runs: int) -> dict:
    """End-to-end Tier-A pipeline throughput over the events table —
    the number that answers the reference's own workload (its entire
    product is source → par_map → reduce → sink, main.rs:85-122; it
    publishes no throughput figures to compare against, BASELINE.md).

    Two faces of the same pipeline, measured separately because they
    bound the design space:
    - map_expr (JVM): parse + derive + filter in codegen — the engine's
      preferred path for SQL-expressible record transforms;
    - par_map (Arrow/Python): the same transform as a per-record Python
      dict function — the path a user takes when the transform genuinely
      needs Python, and the honest analogue of the reference's
      arbitrary-Rust par_map stage.
    Sink is the parquet batch sink with an uncapped batch (one file per
    partition): the 128-row reference cap models HTTP insert batching,
    which would measure file-creation overhead here, not the engine.
    """
    import shutil
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from kafka_map_reduce_spark.sources import load_table
    from kafka_map_reduce_spark.streaming.pipeline import ParquetSink, Pipeline

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value", "props"
    )
    n_rows = events.count()
    out: dict = {"rows": n_rows}

    def run(build) -> float:
        best = float("inf")
        for _ in range(n_runs):
            tmp = tempfile.mkdtemp(prefix="bench_pipe_")
            try:
                t0 = time.time()
                build(ParquetSink(os.path.join(tmp, "out"), max_batch_rows=1 << 30))
                best = min(best, time.time() - t0)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        return best

    jvm_sec = run(
        lambda sink: Pipeline(events)
        .map_expr(
            value_bucket=F.floor(F.col("value") * 10).cast("long"),
            etype=F.upper(F.col("event_type")),
            plen=F.length(F.col("props")),
        )
        .filter(F.col("value") >= 0)
        .run_batch(sink)
    )

    # par_map APPENDS derived fields (input columns pass through for DLQ
    # provenance), so out_fields holds only the new columns
    fields = T.StructType(
        [
            T.StructField("value_bucket", T.LongType()),
            T.StructField("etype", T.StringType()),
            T.StructField("plen", T.IntegerType()),
        ]
    )

    def py_transform(rec: dict) -> dict:
        return {
            "value_bucket": int(rec["value"] * 10 // 1),
            "etype": rec["event_type"].upper(),
            "plen": len(rec["props"]),
        }

    arrow_sec = run(
        lambda sink: Pipeline(events)
        .par_map(py_transform, fields)
        .run_batch(sink)
    )
    out["jvm_map_expr_rows_per_sec"] = int(n_rows / jvm_sec)
    out["arrow_par_map_rows_per_sec"] = int(n_rows / arrow_sec)
    return out


def current_round() -> int:
    """The round this run belongs to: $SPARK_GRAFT_ROUND if set, else
    1 + the highest round recorded in BENCH_r*.json (the driver writes
    that artifact AFTER the bench runs, so during a normal round the
    newest file is last round's)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return int(env)
    rounds = [0]
    for f in os.listdir(REPO):
        if f.startswith("BENCH_r") and f.endswith(".json"):
            try:
                rounds.append(int(f[len("BENCH_r"):-len(".json")]))
            except ValueError:
                pass
    return max(rounds) + 1


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    from kafka_map_reduce_spark import get_session
    from kafka_map_reduce_spark.registry import all_queries

    spark = get_session(
        "kmr-bench", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    specs = all_queries()

    # Warm-up (not timed): JVM codegen via a tiny aggregate, and the
    # Python-UDF worker pool via a small Arrow round-trip — so timings
    # measure the plans, not one-time JVM JIT / worker-fork costs.
    materialize(specs["q_agg_group"].fn(spark, sf_dir).limit(1))
    materialize(specs["q_udf_scalar"].fn(spark, sf_dir).limit(256))

    # n repeats per query, report the MIN: single-run timings at sf0.1
    # carry ~0.4 s of fixed harness noise plus host-load jitter, which
    # masqueraded as >20% "regressions" between rounds. The min of n>=3
    # is the standard low-variance estimator for a cold-cache-free plan.
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_N", "3")))

    def bench_set(names, data_dir, runs):
        out = {}
        for name in names:
            best = float("inf")
            for _ in range(runs):
                t0 = time.time()
                materialize(specs[name].fn(spark, data_dir))
                best = min(best, time.time() - t0)
            out[name] = round(best, 3)
        return out

    per_query = bench_set(HEADLINE, sf_dir, n_runs)
    total = round(sum(per_query.values()), 3)
    sf = os.path.basename(os.path.normpath(sf_dir)).replace("sf", "")

    round_no = current_round()
    detail_name = f"BENCH_DETAIL_r{round_no:02d}.json"

    # The compact artifact: what the driver's 2000-byte tail capture
    # parses. The headline set is pinned at 18 queries (HEADLINE) —
    # additions must be called out in the bench commit, or cross-round
    # totals silently stop meaning anything.
    result = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "runs_per_query": n_runs,
        "estimator": "min",
        "sf": float(sf) if sf else None,
        "detail_file": detail_name,
    }

    # Everything below goes to the DETAIL file only.
    detail: dict = dict(result)

    # Round-5 additions, timed in their OWN section so the pinned
    # 18-query headline set stays comparable across rounds. min-of-3
    # since r6 (the r5 single-run coverage timings carried ~0.4s harness
    # noise — q_text_repetition's 6.1s headline was mostly that). The
    # two ANN entries carry k-means training in the measured time by
    # design: the registered query trains+searches.
    r5_added = [
        "q_text_repeated_spans", "q_text_unigram_logprob",
        "q_sim_pq", "q_sim_ivfpq",
        "q_domain_cap", "q_split_assign", "q_dedup_keep_best",
        "q_text_hash_embed", "q_sim_text_topk", "q_quality_classifier",
        "q_text_repetition", "q_text_decontaminate", "q_pack_sequences",
        "q_sample_temperature", "q_text_boilerplate",
        "q_corpus_mix", "q_dedup_embedding_lsh",
    ]
    detail["r5_additions"] = bench_set(r5_added, sf_dir, n_runs)

    # Round-6 additions (first-timed this round).
    r6_added = [
        n
        for n in (
            "q_classifier_fit",
            "q_hll_sketches",
            "q_corpus_report",
            "q_sim_sq8",
            "q_text_decontaminate_spans",
            "q_stream_mix_monitor",
            "q_text_bpe",
            "q_dedup_embedding_lsh_capped",
            "q_epoch_order",
            "q_text_compressibility",
        )
        if n in specs
    ]
    if r6_added:
        detail["r6_additions"] = bench_set(r6_added, sf_dir, n_runs)

    # Round-7 additions (first-timed this round).
    r7_added = [
        n
        for n in (
            "q_sample_weighted",
            "q_text_bigram_logprob",
            "q_scan_text",
            "q_dedup_semantic",
            "q_dedup_semantic_ingest",
        )
        if n in specs
    ]
    if r7_added:
        detail["r7_additions"] = bench_set(r7_added, sf_dir, n_runs)

    # Round-8 additions (first-timed this round).
    r8_added = [
        n
        for n in (
            "q_group_rebalance",
            "q_dedup_semantic_keep_best",
            "q_join_bucketed",
            "q_upsert_merge",
        )
        if n in specs
    ]
    if r8_added:
        detail["r8_additions"] = bench_set(r8_added, sf_dir, n_runs)

    # Tier-A pipeline throughput (added r5): rows/sec through the full
    # source -> transform -> batch-sink path, JVM and Arrow faces.
    detail["pipeline"] = bench_pipeline_throughput(spark, sf_dir, n_runs)

    scaleup_on = os.environ.get("SPARK_GRAFT_SCALEUP", "1") != "0" and sf == "0.1"
    if scaleup_on:
        sf1_dir = os.path.join(REPO, ".bench_sf1")
        ensure_scaleup_tables(spark, sf_dir, sf1_dir)
        base_times = bench_set(SCALEUP_QUERIES, sf_dir, n_runs)
        sf1_times = bench_set(SCALEUP_QUERIES, sf1_dir, n_runs)
        incr = bench_incremental_ingest(spark, sf1_dir, n_runs)
        star = bench_star_convergence(spark, sf1_dir)
        pipe_sf1 = bench_pipeline_throughput(spark, sf1_dir, n_runs)
        detail["sf1"] = {
            "sf": 1.0,
            "replicas_of_sf0.1": SCALEUP_REPLICAS,
            "runs_per_query": n_runs,
            "estimator": "min",
            # r5 comparability note: BENCH_r04's q_dedup_near_capped sf1
            # number (3.06 s) was warm-cache-inflated — the auto-prune
            # path leaked a persisted candidates DataFrame (never
            # unpersisted), and Spark's CacheManager matches subsequent
            # runs' identical logical plans to that cache, so min-of-3
            # measured runs that skipped candidate generation entirely.
            # The leak is fixed (operators/dedup.py jaccard_verify:
            # registry-less invocations localCheckpoint instead, blocks
            # ContextCleaner-reclaimed); every run now pays full cost.
            # A/B at sf1, same session, min-of-3: checkpoint 5.65 s vs
            # leak-free persist+unpersist 7.62 s — checkpoint is the
            # faster honest variant.
            "notes": {
                "q_dedup_near_capped": (
                    "not comparable to BENCH_r04 sf1 (3.06s): that number "
                    "was warm-cache-inflated by the leaked persisted "
                    "candidates (CacheManager plan-matched them across "
                    "min-of-3 reps, so reps 2-3 skipped candidate "
                    "generation); leak fixed r5, every rep now pays full "
                    "cost — A/B min-of-3 at sf1: localCheckpoint 5.65s "
                    "vs leak-free persist 7.62s"
                )
            },
            "queries": sf1_times,
            "queries_sf0.1_same_session": base_times,
            "scaleup_ratio": {
                q: round(sf1_times[q] / base_times[q], 2)
                for q in SCALEUP_QUERIES
                if base_times[q] > 0
            },
            # steady-state ingest: a FIXED 10% batch probed against LSH
            # band indexes covering 20%/50%/90% of the corpus — flat
            # timings across index sizes are the incremental contract
            # (cost tracks the batch, never the index). The streaming
            # ingest query (q_stream_dedup_ingest) composes this same
            # probe per micro-batch via foreachBatch, so the flat curve
            # covers its steady-state cost too, modulo parquet-append
            # overhead.
            "incremental_ingest": incr,
            # star-contraction components over the real sf1 pair set:
            # `rounds` substantiates the O(log n) convergence claim
            "star_components": star,
            # sustained pipeline throughput at 1M events (the sf0.1
            # number is fixed-overhead-dominated at 100k rows)
            "pipeline": pipe_sf1,
        }
        # corpus-assembly family at sf1 + the deliberately hot-domain
        # variant (one source owning 50% of docs): substantiates the
        # grouped-prefix-sum / two-stage-rank skew claims with numbers
        detail["sf1"]["corpus_assembly"] = bench_corpus_scaleup(
            spark, sf_dir, sf1_dir, n_runs
        )

    with open(os.path.join(REPO, detail_name), "w") as fh:
        json.dump(detail, fh, indent=1)
    sys.stderr.write(f"[bench] extended sections -> {detail_name}\n")
    # final stdout line = the compact artifact (driver tail contract)
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
