"""Similarity search over embedding columns (Tier C, SURVEY §2.2).

- ``cosine``: pure JVM expression (zip_with + sequential fold) — the dot
  product stays inside whole-stage codegen; no Python, no UDF.
- brute-force top-k: broadcast the (small) probe set against the corpus
  scan; per-probe top-k via ranked window. One corpus scan regardless of
  probe count — the right baseline at 100 TB.
- IVF-style ANN: deterministic hyperplane-sign coarse quantizer (8 sign
  bits -> 256 buckets); probes only search their bucket, cutting the
  scanned fraction ~256x at the cost of recall (standard IVF trade).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum of array<double> — matches DuckDB's
    list_dot_product evaluation order for bit-identical results."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<float|double> columns (JVM-side)."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = _fold_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    na = F.sqrt(_fold_sum(F.zip_with(ad, ad, lambda x, y: x * y)))
    nb = F.sqrt(_fold_sum(F.zip_with(bd, bd, lambda x, y: x * y)))
    # Zero-norm guard matching every DuckDB oracle's greatest(.., 1e-12):
    # without it a zero embedding (e.g. hash-embed of empty text) yields
    # NaN, and Spark sorts NaN LARGEST, so it would rank FIRST in
    # ranked_topk's desc order while the oracle ranks it last.
    return dot / F.greatest(na * nb, F.lit(1e-12))


def ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-probe top-k from a (probe_id, neighbor_id, sim) scored set,
    scale-safe.

    A single ``Window.partitionBy(probe_id)`` rank shuffles EVERY scored
    row to the one reducer owning its probe — with a 100 TB corpus and few
    probes, a handful of tasks sort the world. Instead: stage 1 takes each
    *input partition's* top-k per probe (keys spread evenly across
    reducers, output bounded at partitions x probes x k — the partial
    TakeOrdered), stage 2 ranks that small survivor set per probe. Any
    global top-k row is necessarily in its partition's top-k, and ties
    break on neighbor_id in both stages, so the result is identical to
    the one-window form.
    """
    w1 = Window.partitionBy("__pid", "probe_id").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    pruned = (
        scored.withColumn("__pid", F.spark_partition_id())
        .withColumn("__r", F.row_number().over(w1))
        .filter(F.col("__r") <= k)
        .drop("__pid", "__r")
    )
    w2 = Window.partitionBy("probe_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(
            "probe_id",
            "neighbor_id",
            (F.floor(F.col("sim") * 10000 + F.lit(0.5)) / F.lit(10000)).alias("sim"),
            "rank",
        )
    )


def brute_force_topk(
    probes: DataFrame, corpus: DataFrame, k: int, vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbors per probe: broadcast probes x corpus scan."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec"))
    scored = c.crossJoin(F.broadcast(p)).withColumn(
        "sim", cosine(F.col("probe_vec"), F.col("vec"))
    )
    return ranked_topk(scored, k)


def sign_bucket(vec_col: Column, bits: int = 8) -> Column:
    """Deterministic IVF coarse quantizer: sign bits of the first dims."""
    b = F.lit(0)
    for i in range(bits):
        b = b + F.when(F.element_at(vec_col, i + 1) > 0, F.lit(2**i)).otherwise(0)
    return b.cast("int")


def ivf_topk(
    probes: DataFrame, corpus: DataFrame, k: int, vec_col: str = "embedding",
    id_col: str = "vec_id", bits: int = 8,
) -> DataFrame:
    """Approximate top-k: equi-join probes to corpus on the coarse bucket
    (shuffle on bucket id, not a cross product), rank within bucket."""
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        F.col(vec_col).alias("probe_vec"),
        sign_bucket(F.col(vec_col), bits).alias("bkt"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("vec"),
        sign_bucket(F.col(vec_col), bits).alias("bkt"),
    )
    scored = c.join(F.broadcast(p), "bkt").withColumn(
        "sim", cosine(F.col("probe_vec"), F.col("vec"))
    )
    return ranked_topk(scored, k)


# ---- IVF with a TRAINED coarse quantizer (Lloyd k-means, DataFrame-only) ----


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance (JVM zip_with + fold, codegen)."""
    return _fold_sum(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)))


def _l2sq_sql(a: str, b: str) -> str:
    """SQL-string face of :func:`_l2sq` (r17 parsed-expr treatment —
    see minhash_signatures): builds the identical zip_with/aggregate
    tree in one parser call instead of per-lambda py4j round trips.
    `0.0D` is the same DoubleType literal as F.lit(0.0)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def _nearest_sql(vec: str, cents: str) -> str:
    """SQL-string face of :func:`_nearest` — identical struct(d, cid)
    argmin tree, parsed in one call."""
    return (
        f"array_min(transform({cents}, c -> "
        f"struct({_l2sq_sql(vec, 'c.centroid')} AS d, c.cluster_id AS cid)))"
    )


def _nearest(vec: Column, cents: Column) -> Column:
    """struct(d, cid) of the nearest centroid from a broadcast centroid
    array — argmin computed INLINE per row (array_min over k candidates),
    so assignment needs no join, no window, no shuffle."""
    return F.array_min(
        F.transform(
            cents,
            lambda c: F.struct(
                _l2sq(vec, c["centroid"]).alias("d"), c["cluster_id"].alias("cid")
            ),
        )
    )


# Above this many centroids the JVM argmin (array_min over a transform
# of the broadcast centroid array) leaves codegen territory: HOF lambda
# bodies are INTERPRETED, so assignment costs ~k x dim interpreted ops
# per row — measured as a wall at k=2000/sf10 (the r7 semantic-dedup
# scale run did not finish in 25 min; the Arrow path below finishes the
# same assignment in seconds). Same diagnosis and cure as the r6
# hyperplane-signature matmul.
_ARROW_ASSIGN_MIN_K = 64


# One-matmul vs tiled boundary for the flat Arrow argmin (see
# _assign_arrow): at or below this k the B x k tile is <= ~328 MB per
# 10k-row Arrow batch and the kernel keeps the exact historical floats;
# above it the tile would not fit (k=2^15 -> 2.6 GB/batch/worker) and
# the blocked form takes over. Sits above every hash-pinned and gated
# model and above _ROUTED_ASSIGN_MIN_K (full-corpus assigns route
# before they ever reach a big-k flat tile); only trainer-internal
# Lloyd passes and 100x witnesses cross it.
_FLAT_ONE_TILE_MAX_K = 4096


def _assign_arrow(cents_rows, sc=None):
    """pandas_udf factory: nearest-centroid id for array<double> vectors
    via ONE numpy matmul per Arrow batch (||v-c||^2 = |v|^2 - 2 v.C^T +
    |c|^2). ``cents_rows`` is the collected (cluster_id, centroid) list
    — k x dim doubles. With ``sc`` (a SparkContext — every operator call
    site passes it) the model ships as an EXPLICIT ``sc.broadcast``: the
    UDF closure carries only the broadcast handle, so the k x dim matrix
    crosses the wire once per executor (torrent broadcast, cached across
    every consuming stage and Lloyd iteration) instead of riding the
    pickled task binary of each stage — by the operators' own sizing
    rule k grows with the corpus (k≈N/250), so at 100x data with
    production dims the closure form re-serializes hundreds of MB per
    iteration x stage. Measured at the registered k=2000/dim=32
    operating point (full q_dedup_semantic at sf10 = 500k docs,
    interleaved min-of-2, warm session): closure 29.17 s -> broadcast
    28.62 s — neutral-to-slightly-better while the model is ~0.5 MB;
    the hoist is structural insurance for the regime the sizing rule
    implies (k=2e5 x dim=768 = 1.2 GB model), where per-stage closure
    reshipping is a hard wall. The returned UDF exposes the handle as
    ``assign._kmr_broadcast``; loop call sites (kmeans_fit) unpersist it
    after each iteration's materialization barrier, terminal call sites
    leave it to the closure-held handle + ContextCleaner (unpersist is
    re-fetchable in Spark, destroy is not — only unpersist is ever
    called). ``sc=None`` keeps the closure form — the bit-parity twin
    pytest pins against (tests/test_semantic_dedup.py).

    Centroids sorted by cluster_id so argmin's first-minimum tie-break
    matches the JVM struct-min (lowest cid wins); distances are float64
    matmuls, so a knife-edge tie at the last ulp could in principle
    assign differently than the JVM fold — acceptable for the rows-only
    trained-model operators that use this path.

    Blocked distance tile above k=4096 (r12, found by the k-cap
    boundary witness): a single B x k float64 matrix is 2.6 GB per
    Arrow batch per worker at k=2^15 — the above-cap trainer sizing
    OOM-killed the whole host the first time it was ever executed (the
    k-cap policy shipped in r11 with only below-cap runs). For
    k > _FLAT_ONE_TILE_MAX_K the argmin streams over centroid blocks
    sized to a ~64 MB tile with a running (best_d2, best_idx): strict
    less-than cross-block updates preserve first-minimum tie-breaks,
    and peak transient memory becomes k-independent. For
    k <= _FLAT_ONE_TILE_MAX_K the ONE-matmul form is kept verbatim —
    NOT as an optimization but as a bit-stability contract: BLAS gemm
    can produce last-ulp-different dot products for the same column at
    different offsets (measured: planted duplicate centroids differ at
    the 16th digit between the full call and a tile), so tiling is not
    bit-identical under exact ties, and every hash-pinned / gated model
    (k <= 2000; full-corpus assigns above 2048 take the ROUTED kernel)
    must keep the exact floats it has always produced. The tiled regime
    is reached only by big-k training and 100x witnesses — rows-only
    paths with pinned accuracy floors."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cents_rows, key=lambda r: r["cluster_id"])
    cids = np.array([r["cluster_id"] for r in rows], dtype="int64")
    C = np.array([list(r["centroid"]) for r in rows], dtype="float64")
    cn = (C * C).sum(axis=1)

    def blocked_nearest(V, C_m, cn_m, cids_m):
        k_m = C_m.shape[0]
        if k_m <= _FLAT_ONE_TILE_MAX_K:
            d2 = (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C_m.T) + cn_m[None, :]
            return cids_m[np.argmin(d2, axis=1)]
        vn = (V * V).sum(axis=1)[:, None]
        block = max(256, 8_000_000 // max(len(V), 1))  # ~64 MB tile
        best_d = np.full(len(V), np.inf)
        best_j = np.zeros(len(V), dtype=np.int64)
        rows_ix = np.arange(len(V))
        for s in range(0, k_m, block):
            d2 = vn - 2.0 * (V @ C_m[s : s + block].T) + cn_m[None, s : s + block]
            j = np.argmin(d2, axis=1)
            d = d2[rows_ix, j]
            upd = d < best_d
            best_d[upd] = d[upd]
            best_j[upd] = j[upd] + s
        return cids_m[best_j]

    if sc is not None:
        bc = sc.broadcast((cids, C, cn))

        @pandas_udf("int")
        def assign(v: pd.Series) -> pd.Series:
            if len(v) == 0:
                return pd.Series([], dtype="int32")
            import numpy as np

            cids_b, C_b, cn_b = bc.value
            V = np.array([list(x) for x in v], dtype="float64")
            return pd.Series(blocked_nearest(V, C_b, cn_b, cids_b)).astype(
                "int32"
            )

        assign._kmr_broadcast = bc
        return assign

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        import numpy as np

        V = np.array([list(x) for x in v], dtype="float64")
        return pd.Series(blocked_nearest(V, C, cn, cids)).astype("int32")

    assign._kmr_broadcast = None
    return assign


# Above this centroid count the one-level Arrow argmin's O(N*k) matmul
# becomes the semantic family's quadratic term (r9 sf100 decomposition:
# 34.5 s at N=5M, k=20,000 — crossing the linear embed pass around
# 1e7-1e8 docs), so _assign_model switches to the IVF-routed two-level
# argmin. The threshold sits ABOVE every correctness-gated and
# benchmarked k (sf0.01 keep-best k<=40, sf0.1 k<=200, sf10 scale rows
# k=2000) so all hash-pinned and bench rows keep the flat path
# bit-for-bit; only the 100x witnesses route.
#
# 4096 → 2048 (r11): at 5M docs the spread-init trainer COLLAPSES the
# requested k=20000 to ~4000 effective centroids — 96 short of the old
# threshold, so the production full-corpus assign silently kept the
# flat O(N·k) path the routing was built to replace (the r10 7.1 s
# routed number was a forced measurement, not the shipped plan). 2048
# routes the collapsed production model while still keeping every
# gated k and the sf10 scale rows (k=2000) on the flat kernel.
#
# r12 addendum: that "collapse" turned out to be the unsalted
# train-filter hash constraining the seedable buckets to k/gcd(mod, k)
# (see _hash_mod_filter) — with the salt, production k_eff tracks the
# requested k, which sits far above this threshold anyway; 2048 remains
# correct for both regimes.
_ROUTED_ASSIGN_MIN_K = 2048


def _route_structure(C, n_iters=5):
    """Driver-side mini k-means grouping the k centroids into ~sqrt(k)
    super-centroids: returns (G, members) where G is g x dim and
    members[j] holds the (cid-sorted) child indices of group j.
    Deterministic — stride init over the cid-sorted centroid matrix,
    fixed Lloyd count, empty groups dropped. O(k^1.5 * dim) numpy on a
    matrix that is already driver-resident (the collected model),
    KB-to-MB sized by the k≈N/250 rule."""
    import numpy as np

    k = C.shape[0]
    g = max(2, int(np.ceil(np.sqrt(k))))
    idx = np.minimum(np.arange(g) * max(1, k // g), k - 1)
    G = C[idx].astype("float64").copy()
    cn = (C * C).sum(axis=1)
    for _ in range(n_iters + 1):
        d2 = cn[:, None] - 2.0 * (C @ G.T) + (G * G).sum(axis=1)[None, :]
        a = np.argmin(d2, axis=1)
        for j in range(g):
            m = a == j
            if m.any():
                G[j] = C[m].mean(axis=0)
    # Re-fit the assignment against the FINAL G (ADVICE r10): the loop
    # updates G after computing `a`, so without this the routed kernel
    # would probe final super-centroids against one-iteration-stale
    # memberships, degrading routed-vs-flat agreement at the margins.
    d2 = cn[:, None] - 2.0 * (C @ G.T) + (G * G).sum(axis=1)[None, :]
    a = np.argmin(d2, axis=1)
    members = [np.where(a == j)[0] for j in range(g)]
    keep = [j for j in range(g) if len(members[j])]
    return G[keep], [members[j] for j in keep]


def _assign_arrow_routed(cents_rows, sc, nprobe=2):
    """Two-level (IVF-routed) nearest-centroid pandas_udf: each vector
    argmins over the ~sqrt(k) super-centroids first, then over the
    children of its ``nprobe`` nearest groups — O(N * dim * (sqrt(k) +
    nprobe*k/sqrt(k))) instead of the flat kernel's O(N * dim * k).
    This is exactly what SemDeDup's own pipeline uses faiss IVF for:
    cluster assignment at k in the tens of thousands.

    APPROXIMATE at group boundaries (the true nearest child can live in
    a group the probe skipped — the epsilon-ball-at-the-border case the
    SemDeDup paper already accepts for the clustering itself); agreement
    with the flat kernel is pytest-pinned on planted-cluster and
    overlapping fixtures (tests/test_semantic_dedup.py). Only engaged
    above _ROUTED_ASSIGN_MIN_K via :func:`_assign_model`, so every
    hash-pinned row keeps the flat kernel. Determinism: the routing
    structure derives from the cid-sorted centroid matrix with stride
    init and a fixed Lloyd count, so full-build and incremental-ingest
    callers sharing frozen centroids assign identically."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    rows = sorted(cents_rows, key=lambda r: r["cluster_id"])
    cids = np.array([r["cluster_id"] for r in rows], dtype="int64")
    C = np.array([list(r["centroid"]) for r in rows], dtype="float64")
    cn = (C * C).sum(axis=1)
    G, members = _route_structure(C)
    Gn = (G * G).sum(axis=1)
    p = min(nprobe, len(members))
    bc = sc.broadcast((cids, C, cn, G, Gn, members, p))

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int32")
        import numpy as np

        cids_b, C_b, cn_b, G_b, Gn_b, members_b, p_b = bc.value
        V = np.array([list(x) for x in v], dtype="float64")
        # |v|^2 is constant per row: drop it from every argmin
        d1 = Gn_b[None, :] - 2.0 * (V @ G_b.T)
        if p_b >= d1.shape[1]:
            probe = np.argsort(d1, axis=1)
        else:
            probe = np.argpartition(d1, p_b - 1, axis=1)[:, :p_b]
        best_d = np.full(len(V), np.inf)
        best_cid = np.full(len(V), np.iinfo(np.int64).max, dtype="int64")
        for r in range(probe.shape[1]):
            col = probe[:, r]
            for j in np.unique(col):
                ridx = np.where(col == j)[0]
                ch = members_b[j]
                d2 = cn_b[ch][None, :] - 2.0 * (V[ridx] @ C_b[ch].T)
                loc = np.argmin(d2, axis=1)  # first min = lowest cid
                dmin = d2[np.arange(len(ridx)), loc]
                cand = cids_b[ch[loc]]
                upd = (dmin < best_d[ridx]) | (
                    (dmin == best_d[ridx]) & (cand < best_cid[ridx])
                )
                bi = ridx[upd]
                best_d[bi] = dmin[upd]
                best_cid[bi] = cand[upd]
        return pd.Series(best_cid).astype("int32")

    assign._kmr_broadcast = bc
    return assign


def _assign_model(cents_rows, sc, route_nprobe=3):
    """Pick the assignment kernel for a collected centroid model: the
    flat one-matmul Arrow kernel up to _ROUTED_ASSIGN_MIN_K centroids
    (bit-exact, covers every correctness-gated k), the IVF-routed
    two-level kernel above it (the 100 TB regime where O(N*k) is the
    family's quadratic wall — r9 verdict item #3). nprobe defaults to
    3: the sf100 skew table (SCALE_SPOT_r10) measured nprobe=3 at the
    same assign cost as 2 with materially less cluster-size skew
    (sum c_i^2 4.76e9 vs 4.82e9, max cluster 4.9k vs 6.4k) and higher
    flat-agreement (0.9996 vs 0.9977 on separated data) — strictly
    dominant, because the verify stage downstream is quadratic in
    cluster size."""
    if sc is not None and len(cents_rows) > _ROUTED_ASSIGN_MIN_K:
        return _assign_arrow_routed(cents_rows, sc, nprobe=route_nprobe)
    return _assign_arrow(cents_rows, sc=sc)


_SEMANTIC_K_CAP = 32768


def semantic_model_params(
    n: int,
    target_cluster: int = 250,
    k_cap: int = _SEMANTIC_K_CAP,
    sample_per_centroid: int = 50,
    cap_ratio: int = 8,
) -> tuple:
    """Sizing policy for the SemDeDup family, in ONE place (r10 verdict
    item #4): returns (n_clusters, train_sample_mod, max_cluster_size)
    for a corpus of ``n`` vectors.

    k tracks the corpus (k = n / target_cluster) only up to ``k_cap``
    (default 2^15), then FREEZES — the SemDeDup paper's own LAION-scale
    practice (fixed cluster count, cluster size grows with the corpus).
    Why: the trainer samples ~sample_per_centroid vectors per centroid,
    so with k ∝ N Lloyd cost is O(N²/(target·sample⁻¹)) — the family's
    last quadratic term (SCALE_SPOT_r10 diagnosis: ~40-59 s at 5M docs,
    ~1 h at 50M). With k capped, the training sample is 50·k_cap
    regardless of corpus size: training cost becomes CONSTANT in N, and
    the one full assignment pass stays linear (IVF-routed above
    _ROUTED_ASSIGN_MIN_K, so it is O(N·√k), not O(N·k)).

    What the cap costs: above n = k_cap·target_cluster (~8.2M docs at
    the defaults) the expected cluster size grows as n/k_cap, so the
    within-cluster verify term is O(n²/k_cap) — quadratic again but
    with a 2^15 divisor, and the per-cluster work is one BLAS matmul
    (at 100M docs: avg cluster ~3k, ~9e6 dot products per cluster —
    milliseconds each). The hot-cluster governor must grow WITH the
    expected size or it would start dropping ordinary clusters to the
    exact-dedup path: max_cluster_size = cap_ratio × expected size,
    floored at 2000 — below the cap regime expected size is
    target_cluster, making the floor the historical 8×250 = 2000
    exactly, so every gated scale (and the 5M-doc witness) is
    bit-unchanged by this function existing."""
    k = max(8, min(n // target_cluster, k_cap))
    mod = max(1, n // (sample_per_centroid * k))
    max_cluster = max(2000, cap_ratio * max(1, n // k))
    return k, mod, max_cluster


def _hash_mod_filter(df: DataFrame, id_col: str, mod: int) -> DataFrame:
    """Keep the deterministic 1-in-``mod`` hash-slice of ``df`` (mod<=1
    passes through untouched). Eagerly checkpointed: training loops
    re-scan this slice many times (farthest-first's k-1 passes + Lloyd
    iterations), so it must be a bounded materialized table, not a
    lineage over the corpus."""
    if mod <= 1:
        return df
    # SALTED hash (r12, found by the k-cap boundary witness): the
    # spread-init seeder buckets by the UNSALTED xxhash64(id) % k, so a
    # train filter on the same hash % mod constrains which buckets the
    # sample can reach — with g = gcd(mod, k) > 1 only k/g buckets are
    # seedable. This was the entire r11 "spread-init collapse": at 5M
    # docs (mod=5, k=20000, g=5) exactly 4000 of 20000 centroids; at
    # 10M (mod=6, k=2^15, g=2) exactly 2^14. Salting decorrelates the
    # slice from the seeding; mod<=1 (every driver-gated scale) remains
    # a pass-through, so hash-pinned rows keep their bits.
    return df.filter(
        F.pmod(F.xxhash64(F.lit("train-slice"), F.col(id_col)), F.lit(mod)) == 0
    ).localCheckpoint(eager=True)


def train_slice(
    corpus: DataFrame, id_col: str = "vec_id",
    train_sample_n: int | None = None,
) -> DataFrame:
    """Deterministic hash-sample of ~``train_sample_n`` rows for
    quantizer TRAINING — faiss's train-on-sample practice, shared by
    every trained quantizer in this family (ivfpq_index since r9;
    pq_fit and ivf_kmeans_topk since r10, closing the r9 verdict's
    finding #2: they were the last full-corpus trainers, ~13 corpus
    scans per 8-centroid training). mod = corpus_count //
    train_sample_n floors to 1 whenever the corpus is within ~2x of
    the target — every correctness-gated test SF — where this is a
    bit-no-op (pytest-pinned per caller). Assignment/encoding stay
    full-corpus regardless: only what TRAINING scans is bounded."""
    if not train_sample_n:
        return corpus
    mod = max(1, corpus.count() // train_sample_n)
    return _hash_mod_filter(corpus, id_col, mod)


# r17 (optimization guide §1.2 order-of-operations + §5 driver rules):
# when the TRAINING input is provably bounded — which the train_slice /
# semantic_model_params sizing makes true by construction for every
# quantizer below the semantic k-cap regime — the Lloyd loop runs on
# the driver over the collected sample instead of as per-iteration
# Spark jobs. The r17 profile showed the trainers driver-bound: q_sim_pq
# spends 5.5 s of 7.8 s and q_sim_ivfpq ~9 s of 12.6 s in per-iteration
# plan construction + job latency while moving KB-sized model state
# (init passes + Lloyd iterations over a <= 2048-vector sample). That
# is the faiss train-on-sample practice completed: the sample is
# bounded, so training belongs where the sample lives. The budget is
# CELLS (rows x dims), so the collect is model-scale by construction
# (<= 32 MB of doubles); anything larger — the semantic family's
# capped-k regime trains on 50*k vectors up to 1.6M — keeps the
# distributed Spark loop unchanged.
_LOCAL_TRAIN_MAX_CELLS = 1 << 22


def _collect_bounded_train(vecs: DataFrame):
    """Collect a training projection iff it fits the cell budget.

    One dim-probe job + one limit-capped collect; returns the row list,
    or None when the input exceeds the budget (the caller then runs the
    distributed path — at that scale one extra partial pass over the
    sample is noise against the iterations it keeps distributed).
    Expects the vector column to be named ``__v``."""
    first = vecs.limit(1).collect()
    if not first:
        return []
    dim = max(len(first[0]["__v"]), 1)
    row_cap = max(1, _LOCAL_TRAIN_MAX_CELLS // dim)
    rows = vecs.limit(row_cap + 1).collect()
    if len(rows) > row_cap:
        return None
    return rows


def _lloyd_local(rows, n_clusters: int, iters: int, init: str):
    """Driver-side twin of the Spark Lloyd loop: same seeds (lowest-id /
    hash-spread via the collected xxhash64), same lexicographic
    (distance, id) farthest-first tie-breaks, same lowest-cluster-id
    argmin ties (cids ascending, first minimum wins), same drop of
    empty clusters. Distances use the same |v|^2 - 2 v.C^T + |c|^2
    float64 matmul as the Arrow assignment kernels, whose documented
    semantics (knife-edge last-ulp ties may differ from the JVM fold)
    already cover every rows-only trained-model operator; the recall
    floors, codebook-structure and determinism pins in tests/test_pq.py,
    test_sq8.py, test_recall_floors.py and test_semantic_dedup.py hold
    unchanged. ``rows``: (vid, vec, xxhash64(vid)) tuples.

    Float-semantics note: for k <= _ARROW_ASSIGN_MIN_K the Spark loop
    assigns with the JVM zip_with+fold (sequential over dims), and the
    planted-pair pins in test_semantic_dedup sit close enough to
    cluster boundaries that a pairwise-summed numpy distance flips one
    assignment — so this twin accumulates distances sequentially over
    dims (bit-matching the fold's add order) in that regime and only
    uses the gemm form above it, exactly mirroring the Spark path's own
    kernel split (_nearest below _ARROW_ASSIGN_MIN_K, Arrow matmul
    above). Means accumulate members in ascending-id order."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    vids = np.array([r[0] for r in rows], dtype="int64")
    V = np.array([list(r[1]) for r in rows], dtype="float64")
    hs = [r[2] for r in rows]

    def dist_matrix(C: "np.ndarray") -> "np.ndarray":
        if len(C) > _ARROW_ASSIGN_MIN_K:
            cn = (C * C).sum(axis=1)
            return (V * V).sum(axis=1)[:, None] - 2.0 * (V @ C.T) + cn[None, :]
        # sequential fold over dims: acc += (x_t - y_t)^2, t ascending —
        # the JVM _l2sq add order, reproduced elementwise
        d2 = np.zeros((len(V), len(C)))
        for t in range(V.shape[1]):
            diff = V[:, t, None] - C[None, :, t]
            d2 += diff * diff
        return d2
    if init == "spread":
        # per hash-bucket, the member with the smallest xxhash64(vid)
        # (ties on vid for determinism; Spark's min_by tie is unordered
        # but hash ties over distinct ids are ~impossible)
        best: dict = {}
        for i, (vid, h) in enumerate(zip(vids.tolist(), hs)):
            b = h % n_clusters
            cur = best.get(b)
            if cur is None or (h, vid) < cur[:2]:
                best[b] = (h, vid, i)
        cents = {b: V[i].copy() for b, (_h, _vid, i) in best.items()}
    elif init == "farthest":
        cents = {0: V[0].copy()}
        dmin = dist_matrix(V[0:1])[:, 0]
        for i in range(1, n_clusters):
            cand = np.nonzero(dmin == dmin.max())[0]
            pick = cand[-1]  # vids ascending -> max vid among ties
            cents[i] = V[pick].copy()
            dmin = np.minimum(dmin, dist_matrix(V[pick : pick + 1])[:, 0])
    else:
        raise ValueError(f"unknown init {init!r}")
    for _ in range(iters):
        cids = sorted(cents)
        a = np.argmin(dist_matrix(np.stack([cents[c] for c in cids])), axis=1)
        cents = {}
        for j, cid in enumerate(cids):
            members = np.nonzero(a == j)[0]
            if len(members):
                acc = np.zeros(V.shape[1])
                for i in members:  # ascending-vid sequential sum
                    acc += V[i]
                cents[cid] = acc / float(len(members))
    return [
        (int(c), [float(x) for x in cents[c]]) for c in sorted(cents)
    ]


def kmeans_fit(
    corpus: DataFrame, n_clusters: int = 8, iters: int = 3,
    vec_col: str = "embedding", id_col: str = "vec_id",
    init: str = "farthest",
) -> DataFrame:
    """Lloyd k-means over an embedding column, pure DataFrame ops — the
    trained coarse quantizer for IVF ANN (the reference has no ANN; this is
    the Tier-C scale path the north star mandates).

    Deterministic: init = the ``n_clusters`` lowest-id vectors; a fixed
    iteration count; argmin ties break on cluster_id. Returns
    (cluster_id int, centroid array<double>).

    Scale shape per iteration: assignment is shuffle-free — for k <=
    _ARROW_ASSIGN_MIN_K centroids ride along as ONE broadcast row
    holding an array<struct> and argmin is an inline JVM expression,
    never touching the driver; for larger k the JVM HOF argmin is
    interpreted (k x dim interpreted ops per row — the measured wall at
    k=2000) so the centroid table (k x dim doubles, KBs-to-MBs) is
    collected into an Arrow matmul UDF closure instead, the standard
    model-as-broadcast shape. The mean update is posexplode +
    (cluster, dim) hash aggregate — 2 shuffles whose width is rows x
    dims, with map-side partial aggregation collapsing it to clusters x
    dims x partitions.
    """
    vecs = corpus.select(
        F.col(id_col).alias("__vid"), _as_double(F.col(vec_col)).alias("__v")
    )
    # Bounded-sample fast path (r17): train where the sample lives —
    # see _LOCAL_TRAIN_MAX_CELLS. Over-budget inputs (the semantic
    # k-cap regime) fall through to the distributed loop below.
    local = _collect_bounded_train(
        vecs.select("__vid", "__v", F.xxhash64("__vid").alias("__h"))
    )
    if local is not None:
        fitted = _lloyd_local(
            [(r["__vid"], r["__v"], r["__h"]) for r in local],
            n_clusters, iters, init,
        )
        # model-sized frame: bound the slice count at the RDD level —
        # the default 32-way parallelize makes every downstream
        # checkpoint/broadcast pay 32 near-idle Python tasks (r17
        # profile on q_sim_ivfpq: four 32-task stages of 6-8
        # executor-run-sec at ~0.2 cpu-sec). A plan-level coalesce(1)
        # was measured instead and REJECTED: q_sim_ivfpq 6.5 -> 21.9 s.
        sess = corpus.sparkSession
        return sess.createDataFrame(
            sess.sparkContext.parallelize(fitted, 4),
            schema="cluster_id int, centroid array<double>",
        )
    if init == "spread":
        # One-pass hash-spread init for LARGE k (PQ codebooks: m x k
        # trainings, where farthest-first's k-1 sequential passes per
        # training dominate wall-clock): bucket every vector by
        # xxhash64(id) % k and seed each bucket with its min-hash member.
        # ONE shuffle with map-side min_by partial agg; hash spreading
        # decorrelates seeds from id order (the failure the lowest-k-ids
        # init has), trading farthest-first's k-center guarantee for a
        # k-independent cost — Lloyd iterations then do the refinement.
        # Empty buckets (hash collisions) just yield < k clusters, which
        # every consumer already tolerates (codes are keyed by
        # cluster_id, not position — see pq_topk's map lookup).
        cents = (
            vecs.withColumn(
                "__h", F.pmod(F.xxhash64("__vid"), F.lit(n_clusters)).cast("int")
            )
            .groupBy("__h")
            .agg(F.min_by("__v", F.xxhash64("__vid")).alias("centroid"))
            .select(F.col("__h").alias("cluster_id"), "centroid")
            .localCheckpoint(eager=True)
        )
    elif init != "farthest":
        raise ValueError(f"unknown init {init!r}")
    else:
        # Farthest-first init (deterministic k-center traversal): seed with
        # the lowest-id vector, then k-1 times add the point farthest from
        # the chosen set. Guarantees one seed per well-separated cluster —
        # the lowest-k-ids init degenerates when the id order correlates
        # with the clustering. Costs k passes — right for coarse
        # quantizers (small k, quality-critical); use init="spread" when
        # k is large.
        cents = vecs.orderBy("__vid").limit(1).select(
            F.lit(0).cast("int").alias("cluster_id"), F.col("__v").alias("centroid")
        )
        for i in range(1, n_clusters):
            cent_row = cents.agg(
                F.collect_list(F.struct("cluster_id", "centroid")).alias("__cents")
            )
            far = (
                vecs.join(F.broadcast(cent_row))
                .withColumn(
                    "__dmin",
                    F.array_min(
                        F.transform(
                            F.col("__cents"),
                            lambda c: _l2sq(F.col("__v"), c["centroid"]),
                        )
                    ),
                )
                .agg(
                    F.max_by(
                        F.col("__v"), F.struct("__dmin", "__vid")
                    ).alias("centroid")
                )
                .select(F.lit(i).cast("int").alias("cluster_id"), "centroid")
            )
            # checkpoint per step: far's plan embeds cents twice (scan +
            # union), so an unbroken lineage doubles every iteration
            cents = cents.unionByName(far).localCheckpoint(eager=True)
    use_arrow = n_clusters > _ARROW_ASSIGN_MIN_K
    for _ in range(iters):
        iter_bc = None
        if use_arrow:
            # large k: interpreted HOF argmin is the wall (see
            # _ARROW_ASSIGN_MIN_K); one numpy matmul per Arrow batch,
            # model hoisted into an explicit broadcast (ship-once per
            # iteration, not per consuming stage).
            #
            # Kernel choice by regime (r12 revision of the r11 "routed
            # trainer tested and killed" verdict — that A/B ran at the
            # hash-correlation-collapsed sizing, k_eff≈4000, where flat
            # is ONE fast gemm tile and routing indeed lost 40.8 vs
            # 29.9 s; with the correlation fixed the above-cap trainer
            # really runs at k=2^15, where the flat kernel is a tiled
            # memory-bound scan and the A/B reverses DECISIVELY:
            # routed 1.4 s vs tiled-flat 59.7 s per assign pass at
            # k_eff=32768, 1.6 vs 14.7 s at 8192, agreement 1.0 on the
            # separated synthetic slice — SCALE_SPOT_r12
            # trainer_routed_r12). The boundary is _FLAT_ONE_TILE_MAX_K,
            # the same k above which the flat kernel already stops
            # being the verbatim one-matmul: below it flat is a single
            # bit-stable gemm and stays (every gated and benched k);
            # above it training is rows-only by declaration and the
            # routed kernel's group-boundary approximation is the same
            # trade the full-corpus assign already makes.
            fit_rows = cents.collect()
            assign = (
                _assign_model(
                    fit_rows, sc=corpus.sparkSession.sparkContext
                )
                if n_clusters > _FLAT_ONE_TILE_MAX_K
                else _assign_arrow(
                    fit_rows, sc=corpus.sparkSession.sparkContext
                )
            )
            iter_bc = assign._kmr_broadcast
            assigned = vecs.withColumn("__cid", assign(F.col("__v"))).select(
                "__vid", "__v", "__cid"
            )
        else:
            cent_row = cents.agg(
                F.collect_list(F.struct("cluster_id", "centroid")).alias(
                    "__cents"
                )
            )
            assigned = (
                vecs.join(F.broadcast(cent_row))
                .withColumn(
                    "__cid", _nearest(F.col("__v"), F.col("__cents"))["cid"]
                )
                .select("__vid", "__v", "__cid")
            )
        cents = (
            assigned.select("__cid", F.posexplode("__v").alias("__pos", "__x"))
            .groupBy("__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s["__m"],
                ).alias("centroid")
            )
            .select(F.col("__cid").alias("cluster_id"), "centroid")
        )
        # truncate the growing iterative lineage (same pattern as the
        # connected-components loop in operators/dedup.py)
        cents = cents.localCheckpoint(eager=True)
        if iter_bc is not None:
            # the eager checkpoint above is this iteration's
            # materialization barrier — the stale centroid broadcast is
            # dead weight on the executors from here on
            iter_bc.unpersist()
    return cents


def ivf_kmeans_topk(
    probes: DataFrame, corpus: DataFrame, k: int = 5, n_clusters: int = 8,
    iters: int = 3, nprobe: int = 2, vec_col: str = "embedding",
    id_col: str = "vec_id", centroids: DataFrame | None = None,
    train_sample_n: int | None = None,
) -> DataFrame:
    """IVF ANN with a k-means-trained coarse quantizer: corpus rows live in
    their nearest-centroid bucket; each probe searches its ``nprobe``
    nearest buckets (recall knob). One equi-join on bucket id — never an
    all-pairs product. Same output contract as brute_force_topk.

    ``centroids`` (a ``kmeans_fit`` result, typically persisted to a
    parquet table) skips training — the production shape: the quantizer
    is trained once per corpus epoch, then every query and every ingest
    batch reuses it. Without it the quantizer is trained in-call, and
    ``train_sample_n`` bounds what that training scans
    (:func:`train_slice`; no-op mod=1 at every correctness-gated SF,
    pinned in tests/test_recall_floors.py). Bucket ASSIGNMENT of the
    corpus stays a full single pass either way."""
    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(
            train_slice(corpus, id_col, train_sample_n),
            n_clusters, iters, vec_col, id_col,
        )
    )
    cent_row = cents.agg(
        F.collect_list(F.struct("cluster_id", "centroid")).alias("__cents")
    )
    c = (
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("vec")
        )
        .join(F.broadcast(cent_row))
        .withColumn("bkt", _nearest(_as_double(F.col("vec")), F.col("__cents"))["cid"])
        .drop("__cents")
    )
    p = (
        probes.select(
            F.col(id_col).alias("probe_id"), F.col(vec_col).alias("probe_vec")
        )
        .join(F.broadcast(cent_row))
        .withColumn(
            "bkt",
            F.explode(
                F.transform(
                    F.slice(
                        F.array_sort(
                            F.transform(
                                F.col("__cents"),
                                lambda cc: F.struct(
                                    _l2sq(
                                        _as_double(F.col("probe_vec")), cc["centroid"]
                                    ).alias("d"),
                                    cc["cluster_id"].alias("cid"),
                                ),
                            )
                        ),
                        1,
                        nprobe,
                    ),
                    lambda s: s["cid"],
                )
            ),
        )
        .drop("__cents")
    )
    scored = c.join(F.broadcast(p), "bkt").withColumn(
        "sim", cosine(F.col("probe_vec"), F.col("vec"))
    )
    return ranked_topk(scored, k)


# ---- Product quantization (ADC) -------------------------------------------
# The memory side of 100 TB ANN: a 64-dim float32 embedding is 256 bytes;
# its PQ code (m subspaces x 1 byte) is m bytes — 64x compression at m=4 —
# so the searchable corpus representation fits in a fraction of the
# storage/shuffle the raw vectors need. Jegou et al., "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011 (PAPERS.md corpus). The
# reference has no ANN at all; this extends the Tier-C similarity family
# (brute force -> sign-bucket IVF -> k-means IVF -> PQ).


def kmeans_fit_grouped(
    sub: DataFrame, n_clusters: int = 16, iters: int = 3,
    group_col: str = "subspace", vec_col: str = "__sub",
    id_col: str = "__vid", init: str = "spread",
) -> DataFrame:
    """Lloyd k-means over MANY groups at once — every group trains its
    own codebook, but each init pass / Lloyd iteration is ONE job over
    the union instead of one per group. Returns (group, cluster_id,
    centroid) with numerics IDENTICAL to running :func:`kmeans_fit` per
    group (same seeds, same tie-breaks, same mean updates —
    pytest-pinned via the PQ recall floors and codebook tests).

    Why it exists: pq_fit trained its m subspaces sequentially — at
    m=8, k=16, iters=3 that is 8 x (init + 3) blocking jobs of
    fixed-overhead-dominated work. Grouped, the job count is
    k-independent in m (one per init pass + one per iteration), and on
    a cluster each pass is one scan of the (group, subvector) table —
    the shape that survives m x k growing large. Measured at sf0.1
    (1980 vecs, dim 64, min-of-3, train+search): q_sim_pq 10.9 s ->
    6.9 s, q_sim_ivfpq 25.0 s -> 12.8 s.

    Assignment stays shuffle-free: ALL codebooks ride one broadcast row
    as an array indexed by group; the mean update is posexplode +
    (group, cluster, dim) hash aggregate with map-side combine."""
    vecs = sub.select(
        F.col(group_col).alias("__g"),
        F.col(id_col).alias("__vid"),
        _as_double(F.col(vec_col)).alias("__v"),
    )
    # Bounded-sample fast path (r17): same gate as kmeans_fit — the
    # whole (group, subvector) table is collected once and each group's
    # Lloyd runs on the driver; numerics per group replicate the Spark
    # loop the same way _lloyd_local documents.
    local = _collect_bounded_train(
        vecs.select("__g", "__vid", "__v", F.xxhash64("__vid").alias("__h"))
    )
    if local is not None:
        by_g: dict = {}
        for r in local:
            by_g.setdefault(r["__g"], []).append((r["__vid"], r["__v"], r["__h"]))
        fitted = [
            (int(g), cid, cent)
            for g in sorted(by_g)
            for cid, cent in _lloyd_local(by_g[g], n_clusters, iters, init)
        ]
        # bounded slices, same rationale as kmeans_fit's local return
        sess = sub.sparkSession
        return sess.createDataFrame(
            sess.sparkContext.parallelize(fitted, 4),
            schema=f"{group_col} int, cluster_id int, centroid array<double>",
        )

    def book_row(cents: DataFrame):
        """One broadcastable row: array indexed by group of
        array<struct(cluster_id, centroid)>."""
        return (
            cents.groupBy("__g")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("cluster_id", "centroid"))
                ).alias("__cl")
            )
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__g", "__cl"))),
                    lambda s: s["__cl"],
                ).alias("__books")
            )
        )

    if init == "spread":
        # same hash-spread seeding as kmeans_fit(init="spread"), all
        # groups in ONE aggregate
        cents = (
            vecs.withColumn(
                "__h",
                F.pmod(F.xxhash64("__vid"), F.lit(n_clusters)).cast("int"),
            )
            .groupBy("__g", "__h")
            .agg(F.min_by("__v", F.xxhash64("__vid")).alias("centroid"))
            .select("__g", F.col("__h").alias("cluster_id"), "centroid")
            .localCheckpoint(eager=True)
        )
    elif init == "farthest":
        # k-center traversal, one JOINT pass per step: seed with each
        # group's lowest-id vector, then k-1 times add each group's
        # farthest point (ties on __vid, matching kmeans_fit)
        cents = (
            vecs.groupBy("__g")
            .agg(F.min_by("__v", "__vid").alias("centroid"))
            .select(
                "__g", F.lit(0).cast("int").alias("cluster_id"), "centroid"
            )
            .localCheckpoint(eager=True)
        )
        for i in range(1, n_clusters):
            far = (
                vecs.join(F.broadcast(book_row(cents)))
                .withColumn(
                    "__cl", F.element_at(F.col("__books"), F.col("__g") + 1)
                )
                .withColumn(
                    "__dmin",
                    F.array_min(
                        F.transform(
                            F.col("__cl"),
                            lambda c: _l2sq(F.col("__v"), c["centroid"]),
                        )
                    ),
                )
                .groupBy("__g")
                .agg(
                    F.max_by(
                        F.col("__v"), F.struct("__dmin", "__vid")
                    ).alias("centroid")
                )
                .select(
                    "__g",
                    F.lit(i).cast("int").alias("cluster_id"),
                    "centroid",
                )
            )
            cents = cents.unionByName(far).localCheckpoint(eager=True)
    else:
        raise ValueError(f"unknown init {init!r}")

    for _ in range(iters):
        assigned = (
            vecs.join(F.broadcast(book_row(cents)))
            .withColumn(
                "__cid",
                _nearest(
                    F.col("__v"),
                    F.element_at(F.col("__books"), F.col("__g") + 1),
                )["cid"],
            )
            .select("__g", "__v", "__cid")
        )
        cents = (
            assigned.select(
                "__g", "__cid", F.posexplode("__v").alias("__pos", "__x")
            )
            .groupBy("__g", "__cid", "__pos")
            .agg(F.avg("__x").alias("__m"))
            .groupBy("__g", "__cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda s: s["__m"],
                ).alias("centroid")
            )
            .select("__g", F.col("__cid").alias("cluster_id"), "centroid")
            .localCheckpoint(eager=True)
        )
    return cents.select(
        F.col("__g").alias(group_col), "cluster_id", "centroid"
    )


# ---- SQ8: per-dimension scalar quantization -------------------------------
# The simplest point on the compression spectrum the engine covers
# (exact -> SQ8 -> PQ -> IVFADC): 4 bytes/dim -> 1 byte/dim with a
# model that is just two dim-length arrays (per-dimension min/max) — the
# faiss ScalarQuantizer / Lucene int8 HNSW storage shape. Unlike PQ the
# reconstruction is per-dimension, so ADC needs no codebook LUT and
# encode/score are pure JVM expressions.


def sq8_fit(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Train the quantizer: ONE-ROW DataFrame (lo array<double>, span
    array<double>) of per-dimension min and (max - min).

    Scale shape: posexplode to (pos, v) then a pos-keyed min/max hash
    aggregate — map-side combine reduces the shuffle to dim x partitions
    narrow rows (the classifier-gradient pattern); the model never
    touches the driver and broadcasts as one row. Spans are floored at
    1e-12 so constant dimensions encode to 0 instead of dividing by 0."""
    ex = corpus.select(
        F.posexplode(_as_double(F.col(vec_col))).alias("pos", "v")
    )
    stats = ex.groupBy("pos").agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    return stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lo"))),
            lambda s: s["lo"],
        ).alias("lo"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "hi", "lo"))),
            lambda s: F.greatest(s["hi"] - s["lo"], F.lit(1e-12)),
        ).alias("span"),
    )


def sq8_encode(
    corpus: DataFrame, quantizer: DataFrame,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) with codes in [0, 255]:
    round((v - lo) / span * 255). Shuffle-free: the quantizer rides a
    one-row broadcast, encoding is an index-aware transform at scan
    speed. (Stored as array<int> here; a production table would pack to
    binary — the layout choice is orthogonal to the plan shape.)"""
    return (
        corpus.join(F.broadcast(quantizer))
        .select(
            F.col(id_col).alias("id"),
            F.transform(
                _as_double(F.col(vec_col)),
                lambda x, i: F.least(
                    F.greatest(
                        F.floor(
                            (x - F.element_at(F.col("lo"), i + 1))
                            / F.element_at(F.col("span"), i + 1)
                            * 255
                            + F.lit(0.5)
                        ),
                        F.lit(0),
                    ),
                    F.lit(255),
                ).cast("int"),
            ).alias("codes"),
        )
    )


def sq8_topk(
    probes: DataFrame, encoded: DataFrame, quantizer: DataFrame, k: int = 5,
    vec_col: str = "embedding", id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None, shortlist: int = 50,
) -> DataFrame:
    """Approximate top-k over SQ8 codes: probes stay exact, corpus rows
    are decoded per-dimension (lo + code/255 * span) inside the distance
    fold — one corpus-code scan per probe batch, probes broadcast,
    ranked_topk's two-stage partial rank for the survivors. ``sim`` =
    negative squared L2 like pq_topk, so recall is directly comparable.
    ``rerank_corpus`` enables the same shortlist + exact re-rank shape
    as PQ (quantization error then only costs recall when a true
    neighbor misses the shortlist — pinned in tests/test_sq8.py)."""
    p = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
    )
    scored = (
        encoded.select(F.col("id").alias("neighbor_id"), "codes")
        .join(F.broadcast(quantizer))
        .withColumn(
            "__dec",
            F.transform(
                "codes",
                lambda c, i: F.element_at(F.col("lo"), i + 1)
                + c.cast("double")
                / 255.0
                * F.element_at(F.col("span"), i + 1),
            ),
        )
        .join(F.broadcast(p))
        .withColumn("sim", -_l2sq(F.col("__pv"), F.col("__dec")))
        .select("probe_id", "neighbor_id", "sim")
    )
    if rerank_corpus is None:
        return ranked_topk(scored, k)
    short = ranked_topk(scored, shortlist).select("probe_id", "neighbor_id")
    cvecs = rerank_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    exact = (
        short.join(cvecs, "neighbor_id")
        .join(F.broadcast(p), "probe_id")
        .withColumn("sim", -_l2sq(F.col("__pv"), F.col("__cv")))
        .select("probe_id", "neighbor_id", "sim")
    )
    return ranked_topk(exact, k)


def pq_fit(
    corpus: DataFrame, m: int = 4, n_codes: int = 16, iters: int = 3,
    vec_col: str = "embedding", id_col: str = "vec_id",
    init: str = "spread", train_sample_n: int | None = None,
) -> DataFrame:
    """Train per-subspace codebooks: the vector is split into ``m``
    contiguous subvectors and each subspace gets its own ``n_codes``-way
    k-means via :func:`kmeans_fit_grouped` — all m trainings share one
    job per init pass / Lloyd iteration (shuffle-free assignment,
    centroids never on the driver, job count independent of m).
    Returns (subspace int, cluster_id int, centroid array<double>) —
    m x n_codes rows, the persistable codebook table.

    ``train_sample_n`` bounds what training scans via
    :func:`train_slice` (faiss train-on-sample; no-op mod=1 at every
    correctness-gated SF, pinned in tests/test_pq.py) — without it the
    init pass + Lloyd iterations are full-corpus scans, the r9
    verdict's finding #2."""
    corpus = train_slice(corpus, id_col, train_sample_n)
    dim = corpus.select(F.size(vec_col).alias("d")).limit(1).collect()[0]["d"]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    # ONE scan fans every vector out to its m subvectors; the grouped
    # trainer then runs ALL m codebooks through shared init passes and
    # shared Lloyd iterations — job count independent of m (was m
    # sequential kmeans_fit calls, the round-6 fix; numerics identical,
    # recall floors and codebook tests unchanged).
    sub = corpus.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.slice(
                    _as_double(F.col(vec_col)), j * F.lit(d_sub) + 1, d_sub
                ),
            )
        ).alias("subspace", "__sub"),
    )
    return kmeans_fit_grouped(
        sub, n_codes, iters, group_col="subspace", init=init
    )


def _codebook_row(codebooks: DataFrame) -> DataFrame:
    """One broadcastable row: array indexed by subspace of arrays of
    (cluster_id, centroid) structs, each sorted by cluster_id."""
    return (
        codebooks.groupBy("subspace")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("cluster_id", "centroid"))
            ).alias("__book")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "__book"))),
                lambda s: s["__book"],
            ).alias("__books")
        )
    )


def _bq(name: str) -> str:
    """Backtick-quote an identifier for selectExpr interpolation
    (ADVICE r17): embedded backticks are doubled per the SQL parser's
    escape rule, so any column name the Column API accepts parses."""
    return "`" + name.replace("`", "``") + "`"


def _codebook_d_sub(codebooks: DataFrame) -> int:
    """Subvector width implied by the codebook (KB-sized table — the
    limit(1) probe is bounded metadata, not a data scan).

    Merging this probe with :func:`_check_pq_dim` into ONE
    union-of-limits job was measured and REJECTED (r18, executing the
    r17 verdict's guard-probe item): interleaved min-of-8 at sf0.1
    read q_sim_pq 1.965 s split vs 2.139 s merged (q_sim_ivfpq flat) —
    the union defeats CollectLimit's incremental executeTake, so the
    'saved' job launch costs more than it returns. Two bounded probes
    stay."""
    row = codebooks.select(F.size("centroid").alias("d")).limit(1).collect()
    if not row:
        raise ValueError("empty codebook table")
    return row[0]["d"]


def _check_pq_dim(df: DataFrame, vec_col: str, m: int, d_sub: int, what: str):
    """Fail loudly when vectors don't split into m x d_sub — silently
    flooring size/m (the old behavior) would drop the trailing dims from
    codes AND probe LUT slices, skewing every ADC distance."""
    row = df.select(F.size(vec_col).alias("d")).limit(1).collect()
    if row and row[0]["d"] != m * d_sub:
        raise ValueError(
            f"{what} dim {row[0]['d']} != m*d_sub = {m}*{d_sub}; "
            "codebook and vectors disagree"
        )


def pq_encode(
    corpus: DataFrame, codebooks: DataFrame, m: int = 4,
    vec_col: str = "embedding", id_col: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(id, codes array<int>[, *carry]): nearest-centroid code per
    subspace.

    Shuffle-free: the full codebook set rides along as ONE broadcast row
    (m x n_codes x d_sub doubles — KBs), the per-subspace argmin is the
    same inline array_min as IVF assignment. Codes materialize at scan
    speed; at corpus scale this is the representation you persist.

    d_sub comes from the CODEBOOK (with an m*d_sub == dim assertion),
    not floor(dim/m): externally-supplied codebooks with a non-divisible
    dim must fail loudly, not silently truncate the trailing dims.

    ``carry`` (r17, guide §2.4 remove-shuffles): extra input columns to
    pass through to the output row. ivfpq_index previously re-attached
    the bucket id with a full id-keyed shuffle join of the code table
    against a SECOND evaluation of the residual pipeline; carrying the
    column through the same projection removes both."""
    d_sub = _codebook_d_sub(codebooks)
    _check_pq_dim(corpus, vec_col, m, d_sub, "corpus")
    book_row = _codebook_row(codebooks)
    # parsed-expr face (r17): the per-subspace argmin tree built as ONE
    # SQL string — identical expressions (slice bounds, struct field
    # order, double literals), ~0.2 s less py4j per plan build.
    sub = (
        f"slice(transform({_bq(vec_col)}, x -> CAST(x AS DOUBLE)), "
        f"j * {d_sub} + 1, {d_sub})"
    )
    codes = (
        f"transform(sequence(0, {m - 1}), "
        f"j -> {_nearest_sql(sub, '__books[j]')}['cid'])"
    )
    return corpus.join(F.broadcast(book_row)).selectExpr(
        f"{_bq(id_col)} AS id",
        f"{codes} AS codes",
        *[_bq(c) for c in carry],
    )


def pq_topk(
    probes: DataFrame, encoded: DataFrame, codebooks: DataFrame, k: int = 5,
    m: int = 4, vec_col: str = "embedding", id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None, shortlist: int = 50,
) -> DataFrame:
    """Asymmetric-distance top-k: probes stay exact, the corpus is its PQ
    codes. Per probe and subspace, the distance to every centroid is
    precomputed into a lookup table (m x n_codes doubles per probe —
    built inside the broadcast join, so probe LUTs are broadcast, never
    shuffled); a corpus row's distance is then m array lookups + a fold,
    independent of the original dimensionality. One scan of the code
    table per query batch, TakeOrdered top-k per probe via ranked_topk.
    Output contract matches brute_force_topk with ``sim`` = negative
    squared L2 (larger is nearer), so recall is comparable directly.

    ``rerank_corpus`` enables the standard ADC-shortlist + exact-re-rank
    pipeline (Jegou et al. §V): the code scan keeps only the top
    ``shortlist`` per probe, the ORIGINAL vectors are fetched for just
    those candidates (a candidate-sized semi-join against the corpus
    table — the "vectors on disk, shortlist fetch" production shape),
    and exact L2 decides the final top-k. Quantization error then only
    costs recall when a true neighbor falls outside the shortlist, which
    the floor test pins. Measured on the near-random fixture embeddings
    (the PQ-hostile case — no cluster structure for codebooks to
    exploit): plain ADC recall@10 is 0.21-0.37 across m/code sweeps
    (m=4..16, 16-32 codes); re-ranked recall@10 is 0.40 / 0.58 / 0.75 at
    shortlist 25 / 50 / 100. The floor test pins shortlist=100 >= 0.70.
    A fixed few-hundred-row shortlist is a vanishing fraction of a real
    corpus, so the re-rank join stays candidate-sized at any scale."""
    d_sub = _codebook_d_sub(codebooks)
    _check_pq_dim(probes, vec_col, m, d_sub, "probes")
    book_row = _codebook_row(codebooks)
    # parsed-expr face (r17) of the per-subspace LUT: keyed by
    # cluster_id, not position — kmeans_fit drops clusters that lose
    # every point, so codes need not be contiguous, and a positional
    # lookup would silently read the wrong centroid's distance.
    lut = (
        f"transform(sequence(0, {m - 1}), j -> map_from_entries("
        f"transform(__books[j], c -> struct(c.cluster_id AS k, "
        f"{_l2sq_sql(f'slice(__pv, j * {d_sub} + 1, {d_sub})', 'c.centroid')}"
        f" AS v))))"
    )
    p = (
        probes.select(
            F.col(id_col).alias("probe_id"),
            _as_double(F.col(vec_col)).alias("__pv"),
        )
        .join(F.broadcast(book_row))
        .selectExpr("probe_id", f"{lut} AS __lut")
    )
    scored = (
        encoded.select(F.col("id").alias("neighbor_id"), "codes")
        .join(F.broadcast(p))
        .withColumn(
            "sim",
            F.expr(
                "-aggregate(zip_with(codes, __lut, "
                "(code, lut) -> element_at(lut, code)), "
                "0.0D, (acc, x) -> acc + x)"
            ),
        )
        .drop("codes", "__lut")
    )
    if rerank_corpus is None:
        return ranked_topk(scored, k)
    short = ranked_topk(scored, shortlist).select("probe_id", "neighbor_id")
    cvecs = rerank_corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__cv"),
    )
    pvecs = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
    )
    exact = (
        short.join(cvecs, "neighbor_id")
        .join(F.broadcast(pvecs), "probe_id")
        .withColumn("sim", -_l2sq(F.col("__pv"), F.col("__cv")))
        .drop("__pv", "__cv")
    )
    return ranked_topk(exact, k)


# ---- IVFADC: coarse IVF buckets + PQ on residuals --------------------------
# The billion-vector configuration (Jegou TPAMI'11 §VI): the coarse
# quantizer restricts WHICH codes are scanned (nprobe buckets instead of
# the corpus), PQ on the residual (vec - coarse centroid) compresses WHAT
# is scanned. Residuals concentrate near zero, so a residual codebook is
# finer than a raw-vector codebook of the same size.


def ivfpq_index(
    corpus: DataFrame, n_clusters: int = 8, m: int = 4, n_codes: int = 16,
    iters: int = 3, vec_col: str = "embedding", id_col: str = "vec_id",
    centroids: DataFrame | None = None, codebooks: DataFrame | None = None,
    train_sample_n: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Build the IVFADC layout: returns (coarse_centroids, codebooks,
    encoded) where encoded = (id, codes, bkt) — the persistable triple
    (coarse KBs, codebooks KBs, codes m bytes/vector). ``centroids``
    skips coarse training, the per-epoch production shape; passing
    ``codebooks`` too freezes BOTH quantizers, which is the incremental
    ingest API — encode a new batch and union/append its triple rows
    onto the persisted code table; probing the appended layout equals
    probing a full rebuild under the same frozen models because
    encoding is per-row deterministic (pytest-pinned,
    tests/test_pq.py::test_ivfpq_incremental_append_probe_parity).

    Scale: coarse assignment and residual computation are shuffle-free
    (one broadcast centroid row, inline argmin, zip_with subtraction);
    residual codebook training reuses kmeans_fit (grouped across
    subspaces since r6); encoding is pq_encode over the residual column
    — the corpus is scanned, never shuffled.

    The coarse quantizer KEEPS farthest-first init despite its k-1
    sequential passes: spread init was measured at sf0.1 (m=8,
    nprobe=2, re-ranked, min-of-2 end-to-end) as 6.7 s vs 9.5 s but
    cost 6 recall points (recall@10 0.39 vs 0.45) — coarse-centroid
    quality decides WHICH buckets a probe scans, so seeding quality is
    the recall budget here, unlike the residual codebooks where the
    re-rank tail absorbs spread init's marginal loss.

    ``train_sample_n`` bounds what TRAINING scans (faiss's
    train-on-sample practice, and the same caller-side idiom
    :func:`semantic_dedup` uses via ``train_sample_mod``): both
    quantizers fit on a deterministic hash-sample of ~that many vectors
    (mod = corpus_count // train_sample_n, keep xxhash64(id) % mod ==
    0), eagerly checkpointed so the (k-1) farthest-first passes + Lloyd
    iterations x 2 trainings re-scan a bounded MB-sized table instead
    of the corpus — without it, training an 8-centroid quantizer costs
    ~13 full-corpus scans, the one corpus-dependent training term left
    in this family. Assignment, residuals, and encoding stay
    full-corpus single passes, so the returned triple covers every
    vector regardless. mod rounds DOWN to 1 whenever the corpus is
    within ~2x of the target (every correctness-gated test SF), where
    this parameter is numerically a no-op (pytest-pinned)."""
    mod = 1
    if train_sample_n and (centroids is None or codebooks is None):
        mod = max(1, corpus.count() // train_sample_n)

    cents = (
        centroids
        if centroids is not None
        else kmeans_fit(
            _hash_mod_filter(corpus, id_col, mod),
            n_clusters, iters, vec_col, id_col,
        )
    )
    cent_row = cents.agg(
        F.collect_list(F.struct("cluster_id", "centroid")).alias("__cents")
    )
    # parsed-expr face (r17): assignment + residual as two selectExpr
    # steps (bkt must be a named column before the residual lookup
    # references it, exactly like the withColumn chain it replaces).
    resid = (
        corpus.select(F.col(id_col), _as_double(F.col(vec_col)).alias("__v"))
        .join(F.broadcast(cent_row))
        .selectExpr(
            f"{_bq(id_col)}",
            "__v",
            "__cents",
            f"{_nearest_sql('__v', '__cents')} AS __near",
        )
        .selectExpr(
            f"{_bq(id_col)}",
            "__near['cid'] AS bkt",
            "zip_with(__v, element_at(map_from_entries(transform(__cents, "
            "c -> struct(c.cluster_id AS k, c.centroid AS v))), "
            "__near['cid']), (a, b) -> a - b) AS __resid",
        )
        # consume-once barrier (r17, guide §2.4 / §3 plan-truncation):
        # the residual pipeline feeds residual-codebook TRAINING, the
        # encode pass, and (pre-r17) a second full evaluation just to
        # re-attach bkt — without a barrier Catalyst re-evaluates the
        # broadcast-argmin + zip_with subtraction per consumer and each
        # consumer's analysis re-walks the large resid expression tree.
        # Lazily materialized, ContextCleaner-reclaimed; at corpus scale
        # this is the (id, bkt, residual) table the index build scans
        # anyway.
        .localCheckpoint(eager=False)
    )
    books = (
        codebooks
        if codebooks is not None
        else pq_fit(_hash_mod_filter(resid, id_col, mod),
                    m=m, n_codes=n_codes, iters=iters,
                    vec_col="__resid", id_col=id_col)
    )
    # bkt rides through the encode projection (carry=) instead of the
    # pre-r17 id-keyed shuffle join against a second evaluation of
    # resid: one full pass and zero keyed exchanges in the code-table
    # build (plan: 2 full resid evaluations + 1 join -> 1 evaluation).
    encoded = pq_encode(
        resid, books, m=m, vec_col="__resid", id_col=id_col, carry=("bkt",)
    )
    return cents, books, encoded


def ivfpq_topk(
    probes: DataFrame, coarse: DataFrame, codebooks: DataFrame,
    encoded: DataFrame, k: int = 5, m: int = 4, nprobe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
    rerank_corpus: DataFrame | None = None, shortlist: int = 50,
) -> DataFrame:
    """ADC top-k over the IVFADC layout: each probe scans only its
    ``nprobe`` nearest buckets' codes, scoring residual distances via a
    per-(probe, bucket) LUT — the probe's residual differs per bucket, so
    the LUT carries the bucket id and the code join is on bkt (bounded
    candidates, never the corpus). Output contract = pq_topk (sim is
    negative squared L2 to the reconstruction); ``rerank_corpus`` adds
    the exact-re-rank tail stage."""
    cent_row = coarse.agg(
        F.collect_list(F.struct("cluster_id", "centroid")).alias("__cents")
    )
    book_row = _codebook_row(codebooks)
    # parsed-expr faces (r17): nprobe nearest coarse buckets, then the
    # residual vs EACH bucket, then the per-(probe, bucket) LUT — the
    # identical trees the withColumn/lambda chain built, in 3 parses.
    cand = (
        f"slice(array_sort(transform(__cents, c -> struct("
        f"{_l2sq_sql('__pv', 'c.centroid')} AS d, c.cluster_id AS cid, "
        f"c.centroid AS cent))), 1, {nprobe})"
    )
    dsub_i = f"CAST(FLOOR(size(__presid) / {m}) AS INT)"
    lut = (
        f"transform(sequence(0, {m - 1}), j -> map_from_entries("
        f"transform(__books[j], c -> struct(c.cluster_id AS k, "
        + _l2sq_sql(
            f"slice(__presid, j * {dsub_i} + 1, {dsub_i})", "c.centroid"
        )
        + " AS v))))"
    )
    p = (
        probes.select(
            F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
        )
        .join(F.broadcast(cent_row))
        .selectExpr("probe_id", "__pv", f"explode({cand}) AS __c")
        .selectExpr(
            "probe_id",
            "__c['cid'] AS bkt",
            "zip_with(__pv, __c['cent'], (a, b) -> a - b) AS __presid",
        )
        .join(F.broadcast(book_row))
        .selectExpr("probe_id", "bkt", f"{lut} AS __lut")
    )
    scored = (
        encoded.select(F.col("id").alias("neighbor_id"), "bkt", "codes")
        .join(F.broadcast(p), "bkt")
        .withColumn(
            "sim",
            F.expr(
                "-aggregate(zip_with(codes, __lut, "
                "(code, lut) -> element_at(lut, code)), "
                "0.0D, (acc, x) -> acc + x)"
            ),
        )
        .drop("codes", "__lut")
    )
    if rerank_corpus is None:
        return ranked_topk(scored, k)
    short = ranked_topk(scored, shortlist).select("probe_id", "neighbor_id")
    cvecs = rerank_corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("__cv")
    )
    pvecs = probes.select(
        F.col(id_col).alias("probe_id"), _as_double(F.col(vec_col)).alias("__pv")
    )
    exact = (
        short.join(cvecs, "neighbor_id")
        .join(F.broadcast(pvecs), "probe_id")
        .withColumn("sim", -_l2sq(F.col("__pv"), F.col("__cv")))
        .drop("__pv", "__cv")
    )
    return ranked_topk(exact, k)


# ---- Embedding near-dup at scale: random-hyperplane LSH --------------------
# The vector-side twin of the MinHash-LSH text pipeline: q_dedup_embedding's
# all-pairs cosine is the bounded-fixture form; this is the corpus-scale
# path. Charikar SimHash-for-vectors (STOC'02): P(two vectors agree on one
# hyperplane bit) = 1 - theta/pi, so a b-bit table catches a pair with
# p^b and T independent tables with 1-(1-p^b)^T. At the dedup operating
# point (near-identical vectors, cosine >= 0.98 => p ~ 0.94) the default
# b=16, T=8 gives ~0.97 recall while spreading a random corpus over 2^16
# buckets per table — candidates stay ~ n^2/2^b per table, and the hot-
# bucket cap (same policy as the text-LSH skew guard) bounds the
# template-cluster pathology. Unrelated pairs (cosine ~ 0) collide with
# p ~ 2^-16 per table: candidate generation is equi-join, never all-pairs.


def hyperplane_bucket(
    vec_col: Column, dim: int, bits: int = 16, table: int = 0
) -> Column:
    """b-bit random-hyperplane signature: bit j = sign(v . h_j) where
    h_j is a fixed ±1 vector derived from md5(table, j, i) — literal
    coefficients baked into the plan, so the bucket is a deterministic
    pure-JVM expression (no runtime randomness, no model to persist
    beyond the (table, bits, dim) config)."""
    import hashlib

    out = F.lit(0).cast("long")
    for j in range(bits):
        signs = F.array(
            *[
                F.lit(
                    1.0
                    if int(
                        hashlib.md5(f"hp:{table}:{j}:{i}".encode()).hexdigest(),
                        16,
                    )
                    % 2
                    == 0
                    else -1.0
                )
                for i in range(dim)
            ]
        )
        dot = _fold_sum(F.zip_with(_as_double(vec_col), signs, lambda a, b: a * b))
        out = out + F.when(dot > 0, F.lit(2**j)).otherwise(F.lit(0))
    return out


def _hyperplane_sign_matrix(dim: int, bits: int, n_tables: int):
    """(dim, n_tables*bits) ±1 matrix from the same md5 derivation as
    :func:`hyperplane_bucket` — column t*bits+j is table t's hyperplane
    j, so Arrow and JVM signatures are bit-identical by construction."""
    import hashlib

    import numpy as np

    H = np.empty((dim, n_tables * bits), dtype=np.float64)
    for t in range(n_tables):
        for j in range(bits):
            for i in range(dim):
                h = int(
                    hashlib.md5(f"hp:{t}:{j}:{i}".encode()).hexdigest(), 16
                )
                H[i, t * bits + j] = 1.0 if h % 2 == 0 else -1.0
    return H


def hyperplane_buckets_all(
    dim: int, bits: int = 16, n_tables: int = 8
):
    """All ``n_tables`` hyperplane signatures of a vector in ONE Arrow
    batch: returns a pandas-UDF Column factory producing array<long> of
    length n_tables (bucket of table t at position t).

    Why a pandas UDF when the repo's rule is built-ins first: the JVM
    form is T x b higher-order-function folds per row (zip_with +
    aggregate stay INTERPRETED — no codegen for lambda bodies), each
    re-evaluating the array cast, i.e. ~T*b*dim interpreted ops/row.
    Vectorized, the whole signature set is one (batch x dim) @
    (dim x T*b) numpy matmul + a bit-pack — measured at sf0.1 (5k docs,
    dim 32, T=8, b=16), min-of-3 on a checkpointed input: signatures
    6.42 s JVM folds vs 0.21 s Arrow (30x). The staged-projection JVM
    variant (cast hoisted once, per-table signature projections — the
    attach_hash_embed precedent) was measured too and came out SLOWER
    than plain (7.27 s): staging removes the re-cast but not the
    interpreted folds, which are the actual cost. So Arrow wins and the
    JVM expression stays for single-bucket uses and the determinism pin
    (tests assert Arrow == JVM bit-parity). q_dedup_embedding_lsh
    end-to-end at sf0.1: 16.0 s (r5 bench) -> ~6.3 s COLD single-run /
    3.97 s warm min-of-3 (the number BENCH_DETAIL_r06 r5_additions
    records — bench methodology is min-of-3, so the two figures differ
    by design, not regression); the cold-vs-warm gap is the shared
    model-free embedding stage (attach_hash_embed, ~5 s cold
    scan+fold) and the exact-cosine verify over ~209k candidates
    (~2.1 s), not the signatures."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    H = _hyperplane_sign_matrix(dim, bits, n_tables)
    pow2 = (2 ** np.arange(bits, dtype=np.int64))[None, None, :]

    @pandas_udf("array<long>")
    def buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        V = np.array(v.tolist(), dtype=np.float64)  # (n, dim)
        # strict > 0, matching the JVM expression's F.when(dot > 0, ..)
        b = (V @ H) > 0  # (n, n_tables*bits)
        packed = (
            (b.reshape(len(V), n_tables, bits) * pow2)
            .sum(axis=2)
            .astype(np.int64)
        )
        return pd.Series([row.tolist() for row in packed])

    return buckets


def attach_hash_embed_with_buckets(
    df: DataFrame,
    text_col: str,
    dim: int,
    bits: int = 16,
    n_tables: int = 8,
    out_col: str = "embedding",
    buckets_col: str = "__buckets",
) -> DataFrame:
    """Fused embed + all-tables-signature face: ONE Arrow stage (r18,
    guide §4.1 — every JVM↔Python stage pays the per-task worker
    round trip the r17 profile quantified at ~130-200 ms/task, so the
    registered embedding-LSH composition collapses its two Python
    stages into one). Computes the md5 hash-embedding via the EXACT
    kernel :func:`operators.text._hash_embed_batch` (the one
    ``attach_hash_embed_arrow`` runs) and the ``n_tables`` hyperplane
    bucket signatures via the EXACT matmul+pack
    :func:`hyperplane_buckets_all` runs — from the same in-memory
    float64 matrix, so both outputs are bit-identical to the two-stage
    composition (float64 array values round-trip Arrow exactly;
    pinned in tests/test_embedding_lsh.py). The per-operator faces
    stay, individually tested; this is composition-level fusion only."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from kafka_map_reduce_spark.operators.text import _hash_embed_batch

    H = _hyperplane_sign_matrix(dim, bits, n_tables)
    pow2 = (2 ** np.arange(bits, dtype=np.int64))[None, None, :]

    @pandas_udf("struct<emb: array<double>, bkts: array<long>>")
    def both(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(texts) == 0:
            return pd.DataFrame({"emb": [], "bkts": []}, dtype=object)
        V, null = _hash_embed_batch(texts, dim)
        # strict > 0, matching hyperplane_buckets_all / the JVM face
        b = (V @ H) > 0
        packed = (
            (b.reshape(len(V), n_tables, bits) * pow2)
            .sum(axis=2)
            .astype(np.int64)
        )
        emb = pd.Series([row.tolist() for row in V])
        bkts = pd.Series([row.tolist() for row in packed])
        emb[null] = None
        bkts[null] = None
        return pd.DataFrame({"emb": emb, "bkts": bkts})

    fused = both(F.col(text_col))
    return (
        df.withColumn("__eb", fused)
        .withColumn(out_col, F.col("__eb").getField("emb"))
        .withColumn(buckets_col, F.col("__eb").getField("bkts"))
        .drop("__eb")
    )


def cosine_pairs_arrow() -> "object":
    """Vectorized pairwise cosine for candidate VERIFICATION: one numpy
    pass per Arrow batch instead of three interpreted folds per row.
    Measured at sf0.1 (209k candidate pairs, dim 32, min-of-3): 2.09 s
    JVM zip_with/fold vs 0.64 s Arrow (3.3x). Used only where no SQL
    oracle consumes the values (embedding_near_dup — rows-only): numpy's
    pairwise summation can differ from the sequential fold in the last
    ulp, which the oracle-facing :func:`cosine` cannot afford."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.array(a.tolist(), dtype=np.float64)
        B = np.array(b.tolist(), dtype=np.float64)
        dot = (A * B).sum(axis=1)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        return pd.Series(dot / np.maximum(na * nb, 1e-12))

    # asNondeterministic (r18, guide §4.4): embedding_near_dup filters
    # on the UDF-computed sim and then projects it — the optimizer's
    # filter pushdown DUPLICATED the ArrowEvalPython node (plan-verified:
    # two ArrowEvalPython for one cosine in plans/r18/*_before.txt), so
    # every candidate pair paid the numpy pass twice. The function is
    # pure; the flag only stops the optimizer from cloning it.
    return cos.asNondeterministic()


def embedding_near_dup(
    corpus: DataFrame,
    dim: int,
    threshold: float = 0.95,
    bits: int = 16,
    n_tables: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_bucket_size: int | None = 64,
    buckets_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, sim) pairs with cosine >= threshold, candidates from
    T hyperplane-LSH tables — the embedding dedup that scales: per table
    one bucket equi-self-join (shuffle on (table, bucket), narrow rows),
    then ONE exact cosine verify over the distinct candidate set. The
    verify join fetches vectors for candidate ids only (semi-join-sized,
    like jaccard_verify's pushdown). ``max_bucket_size`` drops over-full
    buckets before the self-join — over-threshold mega-clusters route to
    exact dedup, identical policy to the text-LSH/SimHash caps.

    ``buckets_col`` (r18): the corpus already carries the hyperplane
    signatures as an array<long> column (one bucket per table, the
    :func:`attach_hash_embed_with_buckets` /
    :func:`hyperplane_buckets_all` layout — the caller's bits/n_tables
    must match the args here; a row whose array does not hold
    ``n_tables`` signatures fails the job). The operator then skips its
    own Arrow signature stage AND the separate signature
    materialization: the single base checkpoint carries (id, vector,
    buckets), and the signature table is a cheap JVM posexplode over
    it. Same candidates, same pairs (fused-vs-unfused parity pinned)."""
    if buckets_col is not None:
        # One materialization carries vectors AND signatures: the cap
        # count + both self-join sides re-read the checkpoint and pay
        # only a posexplode each (JVM, no Python round trip), so the
        # separate sigs checkpoint below is unnecessary here. A signature
        # array fused with a different n_tables would silently drop
        # candidates, so the consumed __b column itself fails the job on
        # a count mismatch (column pruning cannot drop the check).
        b = F.col(buckets_col)
        checked = F.when(
            b.isNotNull() & (F.size(b) != n_tables),
            F.raise_error(
                F.concat(
                    F.lit(f"embedding_near_dup: {buckets_col} has "),
                    F.size(b).cast("string"),
                    F.lit(f" bucket signatures per row, n_tables={n_tables}"),
                )
            ),
        ).otherwise(b)
        base = corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("__v"),
            checked.alias("__b"),
        ).localCheckpoint(eager=False)
        sigs = base.select("id", F.posexplode("__b").alias("tbl", "bkt"))
    else:
        # Materialize the (id, vector) projection once: three consumers
        # (signatures + both verify-side vector fetches) would otherwise
        # each re-evaluate the upstream — expensive when the input is a
        # computed embedding like attach_hash_embed. At corpus scale this
        # is the persisted embedding table.
        base = corpus.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
        ).localCheckpoint(eager=False)
        # All T signatures in ONE Arrow batch per row (numpy matmul) — the
        # per-table JVM fold explode this replaced was the operator's
        # dominant cost (see hyperplane_buckets_all's measured numbers).
        all_b = hyperplane_buckets_all(dim, bits, n_tables)
        sigs = base.select(
            "id",
            F.posexplode(all_b(_as_double(F.col("__v")))).alias("tbl", "bkt"),
        )
        # Materialize the signatures once: three consumers (bucket-count
        # cap, both sides of the candidate self-join) would otherwise each
        # re-run the Arrow signature stage. At corpus scale this is the
        # table you PERSIST anyway (the LSH band-index pattern of the
        # text pipeline).
        sigs = sigs.localCheckpoint(eager=False)
    if max_bucket_size is not None:
        # Anti-join the HOT buckets (the dedup._drop_hot_buckets r12
        # form): the small-bucket list is nearly the whole bucket table
        # at corpus scale, the hot list is tiny — AQE broadcasts it and
        # the cap costs a map-side anti probe, not an O(rows) shuffle.
        # Keys are (tbl, bkt) hash values — never null, so the anti/inner
        # equivalence holds.
        counts = sigs.groupBy("tbl", "bkt").agg(F.count(F.lit(1)).alias("__n"))
        sigs = sigs.join(
            counts.filter(F.col("__n") > max_bucket_size).select("tbl", "bkt"),
            ["tbl", "bkt"],
            "left_anti",
        )
    left = sigs.select("tbl", "bkt", F.col("id").alias("id_a"))
    right = sigs.select("tbl", "bkt", F.col("id").alias("id_b"))
    cands = (
        left.join(right, ["tbl", "bkt"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = base.select(F.col("id").alias("id_a"), F.col("__v").alias("__va"))
    vb = base.select(F.col("id").alias("id_b"), F.col("__v").alias("__vb"))
    # Arrow verify (see cosine_pairs_arrow: 3.3x over the interpreted
    # folds; safe here because this operator is rows-only — no SQL
    # oracle consumes the last-ulp of sim)
    cos = cosine_pairs_arrow()
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "sim",
            cos(_as_double(F.col("__va")), _as_double(F.col("__vb"))),
        )
        .filter(F.col("sim") >= F.lit(threshold))
        .select(
            "id_a",
            "id_b",
            (F.floor(F.col("sim") * 10000 + F.lit(0.5)) / F.lit(10000)).alias(
                "sim"
            ),
        )
    )


def _normalize_arrow():
    """pandas_udf: L2-normalize array<double> vectors (zero-norm guard
    1e-12, matching cosine's). One pass per vector so the per-pair
    verify can be a bare dot product — each vector joins ~cluster-size
    pairs, and per-pair norms would redo the same sqrt that many
    times."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<double>")
    def norm(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        V = np.array(v.tolist(), dtype=np.float64)
        n = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-12)
        return pd.Series(list(V / n[:, None]))

    return norm


def attach_hash_embed_with_unit(
    df: DataFrame,
    text_col: str,
    dim: int,
    out_col: str = "embedding",
    unit_col: str = "__unit",
) -> DataFrame:
    """Fused embed + L2-normalize face for the SemDeDup compositions
    (r18, guide §4.1 — the attach_hash_embed_with_buckets treatment for
    the semantic family): ONE Arrow stage computes the md5
    hash-embedding (text.py:_hash_embed_batch, the exact
    attach_hash_embed_arrow kernel) AND its re-normalized unit vector
    (the exact arithmetic _normalize_arrow applies downstream) from the
    same in-memory float64 matrix. Both outputs are bit-identical to
    the two-stage composition (float64 round-trips Arrow exactly;
    pinned in tests/test_semantic_dedup.py), so the hash-oracled
    q_dedup_semantic_keep_best row cannot move. The raw embedding stays
    in the output because training/assignment consume it; the unit
    column is what the verify kernel (and the persisted semantic index)
    carries anyway."""
    from pyspark.sql.functions import pandas_udf

    from kafka_map_reduce_spark.operators.text import _hash_embed_batch

    @pandas_udf("struct<emb: array<double>, unit: array<double>>")
    def both(texts: pd.Series) -> pd.DataFrame:
        import numpy as np

        if len(texts) == 0:
            return pd.DataFrame({"emb": [], "unit": []}, dtype=object)
        V, null = _hash_embed_batch(texts, dim)
        # the exact _normalize_arrow ops, applied to the same matrix
        n = np.maximum(np.sqrt((V * V).sum(axis=1)), 1e-12)
        U = V / n[:, None]
        emb = pd.Series([row.tolist() for row in V])
        un = pd.Series([row.tolist() for row in U])
        emb[null] = None
        un[null] = None
        return pd.DataFrame({"emb": emb, "unit": un})

    fused = both(F.col(text_col))
    return (
        df.withColumn("__eu", fused)
        .withColumn(out_col, F.col("__eu").getField("emb"))
        .withColumn(unit_col, F.col("__eu").getField("unit"))
        .drop("__eu")
    )


def _bucket_pairs_fn(threshold: float, max_pairs: int | None = None):
    """applyInPandas kernel: ALL over-threshold pairs of one cluster via
    a single U @ U.T BLAS call on the bucket's unit vectors. The reason
    this exists instead of a bucket self-join + per-pair scorer: a
    self-join materializes ~c rows PER VECTOR each carrying both
    256-byte vectors through Arrow — measured at sf10 (62.5M candidate
    pairs) the transfer, not the math, was the entire verify cost (107 s
    raw-cosine, 14.5/12.8 s dot-vs-cos at sf1 — i.e. pre-normalizing
    bought nothing). Grouped, each vector crosses the wire ONCE (one
    N-row shuffle on bkt) and the c x c similarity matrix is ~2M FLOPs
    of BLAS per bucket. Memory is c^2 floats for the bucket matrix —
    bounded by max_cluster_size^2 (the cap is load-bearing here, not
    just a skew nicety). ids sorted so id_a < id_b deterministically.

    ``max_pairs`` is the PAIR-STREAM governor (r10 verdict item #5: at
    sf100 the fixture's near-dup density put 129M over-threshold pairs
    through materialize+round+sort — the dominant term of the decade
    ratio, and almost all of it from the handful of size-capped hot
    clusters whose c²/2 ≈ 2M pairs each). When one cluster's
    over-threshold pair count exceeds the cap, the kernel emits a
    deterministic dedup-sufficient subset instead of the full clique:
    every node keeps its best witness edge (highest sim, ties to the
    smaller pair), so any doc with an over-threshold neighbor still has
    ≥1 edge and downstream connected-components / keep-best still marks
    it a duplicate, then the remaining budget fills with the globally
    top-sim pairs. Degradation under the cap is component FRAGMENTATION
    only (a weak bridge edge between two dense sub-cliques can drop) —
    the same accepted trade as the LSH families' hot-bucket caps, and
    it only engages on clusters denser than max_pairs (the planted
    fixtures and every gated SF emit orders of magnitude fewer).

    Contract nuance: the witness floor OUTRANKS the cap — if a cluster
    has more witnessed nodes than ``max_pairs`` (only possible when the
    cap is set below the cluster's node count), every witness edge is
    still emitted and the output exceeds ``max_pairs``. Deliberate:
    dedup-sufficiency is the property downstream connected-components
    depends on; a hard clamp would silently un-mark duplicates. The
    "auto" sizing (4 x max_cluster_size ≥ 4 x nodes) can never reach
    this regime.

    fp32 BLAS: measured and REJECTED (r12 micro-benchmark; the one-off
    tool was retired in r17, the numbers are pinned here).
    The float32 gemm is only 1.7-2.1x faster than float64 at cluster
    sizes 500-2000 and the gemm is <10% of kernel wall (triu extraction,
    masking and frame assembly dominate; the stage residual beyond the
    kernel is round+sort+materialize). A bare fp32 swap also breaks the
    4-decimal rounding contract: max |fp64-fp32| error measured 3.1e-7,
    so ~0.3% of pairs would round differently (err/1e-4 granularity) —
    and q_dedup_semantic_keep_best consumes these sims in a HASH-pinned
    row. The exactness-preserving variant (fp32 + fp64 recompute of
    pairs inside an error band of the threshold/rounding edges) spends
    100x its gemm savings scanning the band: 6% of pairs sit within
    10x-max-err of a decision edge on hash-embed-like vectors. float64
    stays."""
    import numpy as np

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        order = np.argsort(pdf["id"].to_numpy())
        ids = pdf["id"].to_numpy()[order]
        V = np.array(pdf["__vn"].tolist(), dtype=np.float64)[order]
        S = V @ V.T
        iu, ju = np.triu_indices(len(ids), k=1)
        s = S[iu, ju]
        m = s >= threshold
        ia, jb, sv = iu[m], ju[m], s[m]
        if max_pairs is not None and len(sv) > max_pairs:
            # witness-first selection: order edges best-sim-first
            # (deterministic tie-break on the id pair), keep the first
            # edge that touches each not-yet-witnessed node, then fill
            # with the best remaining edges up to the cap.
            rank = np.lexsort((ids[jb], ids[ia], -sv))
            ia, jb, sv = ia[rank], jb[rank], sv[rank]
            # each node's best edge = its first occurrence (as either
            # endpoint) in best-first order — all vectorized, no
            # per-edge Python on the up-to-c²/2 hot-cluster stream
            first = np.full(len(ids), len(sv), dtype=np.int64)
            ua, fa = np.unique(ia, return_index=True)
            first[ua] = fa
            ub, fb = np.unique(jb, return_index=True)
            first[ub] = np.minimum(first[ub], fb)
            witness = np.unique(first[first < len(sv)])
            is_w = np.zeros(len(sv), dtype=bool)
            is_w[witness] = True
            budget = max(0, max_pairs - len(witness))
            filler = np.where(~is_w)[0][:budget]
            keep = np.sort(np.concatenate([witness, filler]))
            ia, jb, sv = ia[keep], jb[keep], sv[keep]
        return pd.DataFrame({"id_a": ids[ia], "id_b": ids[jb], "sim": sv})

    return f


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.9,
    n_clusters: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
    init: str = "farthest",
    train_sample_mod: int = 1,
    max_pairs_per_cluster: int | None | str = "auto",
    unit_col: str | None = None,
) -> DataFrame:
    """(id_a, id_b, sim) pairs with cosine >= threshold, candidates
    bounded by trained k-means clusters — the SemDeDup shape (Abbas et
    al. 2023, arXiv:2303.09540): cluster the embedding space, then
    compare only WITHIN clusters.

    Complementary to :func:`embedding_near_dup`, not redundant with it:
    hyperplane LSH's collision probability (1 - theta/pi per bit)
    collapses below ~0.95 cosine — at the SEMANTIC thresholds where
    paraphrases and boilerplate variants live (0.7-0.9), b=16 tables
    catch almost nothing. K-means candidates have no per-pair collision
    decay: any pair whose members co-assign is compared exactly, so the
    operating threshold is a free parameter. The cost model flips
    accordingly: within-cluster all-pairs is O(sum c_i^2) <= N^2/k for
    balanced clusters — scale k with the corpus (k ~ N/c for a target
    cluster size c, the SemDeDup paper's own regime) and the term stays
    ~N*c, linear in the corpus. ``max_cluster_size`` is the same
    hot-bucket governor as every other dedup modality: over-full
    clusters (template blobs) drop out of the quadratic join and route
    to exact dedup. Misses are only pairs split across a cluster
    boundary — the epsilon-ball-at-the-border case the paper accepts.
    Operating constraint: target cluster size must EXCEED the expected
    dup-group size, or Lloyd splits dup groups across clusters and
    recall collapses (k is a resolution knob, not free — size k ~ N/c
    with c comfortably above the largest dup family you care about).
    Recall on planted near-dups and the split-at-small-c behavior are
    pytest-pinned (tests/test_semantic_dedup.py).

    Scale shape (r7 sf10 decomposition: train 26.1 s / assign 2.6 s /
    join+verify 107.1 s at 500k docs, k=2000 — verify dominates, train
    is the emerging quadratic term): k-means TRAINS on a deterministic
    hash-sample (``train_sample_mod`` > 1 keeps rows with
    xxhash64(id) % mod == 0 — the faiss train-on-sample practice; Lloyd
    cost becomes O(sample x k) independent of the corpus) and then ONE
    full Arrow-matmul assignment pass covers every vector; vectors are
    L2-normalized in that same pass so the per-pair verify is a bare
    dot product (per-pair norms would redo each vector's sqrt
    ~cluster-size times); ONE equi-self-join on cluster id bounds the
    candidates. Iterative training => rows-only declaration, like every
    trained-model operator here.

    ``unit_col`` (r18): the corpus already carries the L2-normalized
    vector (the :func:`attach_hash_embed_with_unit` fused-face layout —
    must equal ``_normalize_arrow`` of ``vec_col``, which the fused
    face guarantees bit-exactly). The operator then skips its own
    Arrow normalize stage; same pairs, same sims (parity-pinned)."""
    cols = [F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("__v")]
    if unit_col is not None:
        cols.append(F.col(unit_col).alias("__u"))
    base = corpus.select(*cols).localCheckpoint(eager=False)
    train = (
        # salted like _hash_mod_filter (r12): an unsalted filter on the
        # same hash the spread-init seeder buckets with restricts the
        # seedable buckets to k/gcd(mod, k) — the r11 "collapse"
        base.filter(
            F.pmod(
                F.xxhash64(F.lit("train-slice"), F.col("id")),
                F.lit(train_sample_mod),
            )
            == 0
        )
        if train_sample_mod > 1
        else base
    )
    cents = kmeans_fit(
        train, n_clusters, iters, vec_col="__v", id_col="id", init=init
    )
    if n_clusters > _ARROW_ASSIGN_MIN_K:
        assign = _assign_model(
            cents.collect(), sc=corpus.sparkSession.sparkContext
        )
        assigned = base.withColumn("bkt", assign(F.col("__v")))
    else:
        cent_row = cents.agg(
            F.collect_list(F.struct("cluster_id", "centroid")).alias(
                "__cents"
            )
        )
        assigned = base.join(F.broadcast(cent_row)).withColumn(
            "bkt", _nearest(F.col("__v"), F.col("__cents"))["cid"]
        )
    # unit vectors once per row => verify is dot-only; with unit_col the
    # caller's fused embed stage already produced them (bit-equal), so
    # the separate Arrow normalize stage disappears (r18)
    if unit_col is not None:
        assigned = assigned.select(
            "id", "bkt", F.col("__u").alias("__vn")
        ).localCheckpoint(eager=False)  # cap-count + join sides consume
    else:
        unit = _normalize_arrow()
        assigned = assigned.select(
            "id", "bkt", unit(F.col("__v")).alias("__vn")
        ).localCheckpoint(eager=False)  # cap-count + join sides consume
    if max_cluster_size is not None:
        counts = assigned.groupBy("bkt").agg(F.count(F.lit(1)).alias("__n"))
        assigned = assigned.join(
            counts.filter(F.col("__n") <= max_cluster_size).select("bkt"),
            "bkt",
        )
    # Pair-stream governor (r10 verdict #5): "auto" sizes the per-
    # cluster emitted-pair cap at 4× the size governor — a size-capped
    # hot cluster's full clique is max_cluster_size²/2 pairs (2M at the
    # 2000 default, and ~60 such template-blob clusters produced
    # essentially all of sf100's 129M-pair stream); under the cap it
    # emits ≤8k witness-first pairs instead. Ordinary clusters near the
    # TARGET size emit c·dup_density pairs, far below the cap. The
    # append-vs-rebuild parity with semantic_dedup_ingest is stated at
    # the uncapped regime (the ingest face never sees a standing
    # cluster's full clique, only batch-vs-cluster rectangles, so its
    # stream is batch-bounded by construction).
    if max_pairs_per_cluster == "auto":
        max_pairs_per_cluster = (
            4 * max_cluster_size if max_cluster_size else None
        )
    pairs = assigned.groupBy("bkt").applyInPandas(
        _bucket_pairs_fn(threshold, max_pairs=max_pairs_per_cluster),
        "id_a long, id_b long, sim double",
    )
    return pairs.select(
        "id_a",
        "id_b",
        (F.floor(F.col("sim") * 10000 + F.lit(0.5)) / F.lit(10000)).alias(
            "sim"
        ),
    )


def _bucket_pairs_vs_new_fn(threshold: float):
    """applyInPandas kernel for INCREMENTAL semantic dedup: one cluster's
    over-threshold pairs that involve at least one NEW row, via a
    rectangular B_new @ U_all.T matmul (cheaper than the full square —
    the batch side is small). Output pairs are (min_id, max_id) with
    new-new duplicates dropped, so appending a batch emits exactly the
    pairs a full rebuild would add."""
    import numpy as np

    def f(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
            {"id_a": "int64", "id_b": "int64", "sim": "float64"}
        )
        new = pdf[pdf["is_new"]]
        if len(new) == 0 or len(pdf) < 2:
            return empty
        Vn = np.array(new["__vn"].tolist(), dtype=np.float64)
        Va = np.array(pdf["__vn"].tolist(), dtype=np.float64)
        S = Vn @ Va.T
        ids_n = new["id"].to_numpy()
        ids_a = pdf["id"].to_numpy()
        ii, jj = np.where(S >= threshold)
        if len(ii) == 0:
            return empty
        a = ids_n[ii]
        b = ids_a[jj]
        keep = a != b
        a, b, s = a[keep], b[keep], S[ii, jj][keep]
        lo = np.minimum(a, b)
        hi = np.maximum(a, b)
        out = pd.DataFrame({"id_a": lo, "id_b": hi, "sim": s})
        # a new-new pair appears twice (once from each side's row in Vn)
        return out.drop_duplicates(subset=["id_a", "id_b"])

    return f


def semantic_dedup_ingest(
    batch: DataFrame,
    centroids: DataFrame,
    index: DataFrame,
    threshold: float = 0.9,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int | None = None,
    unit_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental ingest for the SemDeDup modality — the symmetry
    partner of the LSH band index / digest index / IVFADC append paths:
    dedup state persists as (centroids, assigned unit-vector index) and
    each batch probes it at batch-tracking cost, never a corpus rescan.

    Returns ``(pairs, new_index_rows)``: pairs are every over-threshold
    pair involving >= 1 batch member (exactly what a full rebuild under
    the same frozen centroids would ADD — append-vs-rebuild parity is
    pytest-pinned), and new_index_rows are the batch's (id, bkt, __vn)
    rows to append to the persisted index (encoding is per-row
    deterministic under a frozen model, the ivfpq_index incremental
    contract).

    Scale shape: the batch assigns against the frozen centroids (Arrow
    matmul above _ARROW_ASSIGN_MIN_K, JVM argmin below); the index is
    SEMI-JOINED down to the clusters the batch actually touched before
    the per-cluster rectangular matmul (B_new @ U_all.T — the all side
    is cluster-sized, the new side batch-sized), so cost tracks
    batch x cluster, not the corpus. ``max_cluster_size`` counts the
    UNION (index + batch) per touched cluster — a cluster the corpus
    already showed to be a template blob stays routed to exact dedup
    even mid-ingest.

    Local-mode harness sizing (r14, SCALE_SPOT_r14 heap_cliff_r14):
    the full governed 16M-doc pipeline (embed -> train -> assign+index
    -> governed pairs) runs in the DEFAULT 8 GiB local[32] heap
    provided (a) each corpus point runs in its OWN JVM — the r13
    "needs 48g, 8g/20g OOM" rule was shared-JVM residue (local-mode
    spark.stop() leaves the gateway JVM and prior-point state alive,
    so a new get_session is NOT isolation); 6/6 process-isolated
    probes green at 8-32g, both r13 crash points included — and
    (b) the pair-stream governor stays on: UNCAPPED
    16M pair emission crash-loops the Arrow python workers via host
    RAM, independent of JVM heap. On a real cluster this pressure is
    executor memory; the driver holds only the collected centroid
    model (k x dim doubles, ~8 MB at k=2^15).

    Index LAYOUT (r14, SCALE_SPOT_r14 assign_decomp_r14): the index
    rows deliberately CARRY the unit vectors. The measured 16M-doc
    stage split (warm min-of-3) is routed-argmin 17.7 s + Arrow
    normalize 8.1 s isolated (both LINEAR in N: 3.2x and 2.8x per
    3.2x docs) + fat parquet write ~0 — the write volume an
    (id, bkt)-only layout would save is nil, while re-deriving vectors
    at pair time costs a corpus-wide id-join per batch probe (measured
    pair stage 54.3 s thin vs 35.3-43.8 s carried at 16M; the totals,
    73.5 vs 71.5 at 16M and 21.1 vs 18.2 at 5M, are WITHIN session
    noise — the r14 drift witness moved ~19% at 16M, more than that
    gap — so the rejection rests on the structural terms, not the
    totals) and re-introduces exactly the
    O(corpus)-per-batch term this probe contract exists to avoid. The
    r13 note attributing the stage's scale-up residual to 'index write
    volume' was wrong: warm min-of-3 gives 8.4 -> 27.7 s per 5M -> 16M
    (3.3x per 3.2x N, linear); the r13 43.3 s carried first-execution
    cost."""
    n_cents = centroids.count()
    cols = [F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("__v")]
    if unit_col is not None:
        # fused-face layout (r18, see semantic_dedup's unit_col): the
        # batch already carries the bit-exact unit vector — skip the
        # Arrow normalize stage below
        cols.append(F.col(unit_col).alias("__u"))
    base = batch.select(*cols)
    if n_cents > _ARROW_ASSIGN_MIN_K:
        assign = _assign_model(
            centroids.collect(), sc=batch.sparkSession.sparkContext
        )
        assigned = base.withColumn("bkt", assign(F.col("__v")))
    else:
        cent_row = centroids.agg(
            F.collect_list(F.struct("cluster_id", "centroid")).alias(
                "__cents"
            )
        )
        assigned = base.join(F.broadcast(cent_row)).withColumn(
            "bkt", _nearest(F.col("__v"), F.col("__cents"))["cid"]
        )
    if unit_col is not None:
        new_rows = assigned.select(
            "id", "bkt", F.col("__u").alias("__vn")
        ).localCheckpoint(eager=False)
    else:
        unit = _normalize_arrow()
        new_rows = assigned.select(
            "id", "bkt", unit(F.col("__v")).alias("__vn")
        ).localCheckpoint(eager=False)
    touched = new_rows.select("bkt").distinct()
    old_rows = index.join(F.broadcast(touched), "bkt").select(
        "id", "bkt", "__vn"
    )
    union = new_rows.withColumn("is_new", F.lit(True)).unionByName(
        old_rows.withColumn("is_new", F.lit(False))
    )
    if max_cluster_size is not None:
        counts = union.groupBy("bkt").agg(F.count(F.lit(1)).alias("__n"))
        union = union.join(
            counts.filter(F.col("__n") <= max_cluster_size).select("bkt"),
            "bkt",
        )
    pairs = union.groupBy("bkt").applyInPandas(
        _bucket_pairs_vs_new_fn(threshold),
        "id_a long, id_b long, sim double",
    )
    out = pairs.select(
        "id_a",
        "id_b",
        (F.floor(F.col("sim") * 10000 + F.lit(0.5)) / F.lit(10000)).alias(
            "sim"
        ),
    )
    return out, new_rows
