"""Hyperplane-LSH embedding near-dup (operators/similarity.py:
embedding_near_dup): planted-pair recall floor vs brute force, candidate
precision (no low-sim pairs emitted), hot-bucket cap linearity, and
signature determinism."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from kafka_map_reduce_spark.operators.similarity import (
    cosine,
    embedding_near_dup,
    hyperplane_bucket,
)

DIM = 64


def _vec(i: int) -> list[float]:
    # deterministic pseudo-random unit-ish vector, no RNG
    raw = [math.sin(0.7 * i + 1.3 * d) for d in range(DIM)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


def _perturb(v: list[float], eps: float, salt: int) -> list[float]:
    raw = [x + eps * math.sin(2.1 * salt + 0.9 * d) for d, x in enumerate(v)]
    n = math.sqrt(sum(x * x for x in raw))
    return [x / n for x in raw]


@pytest.fixture(scope="module")
def planted(spark):
    """200 base vectors + a near-dup (cosine ~0.99+) of every 4th one."""
    rows = [(i, _vec(i)) for i in range(200)]
    rows += [
        (1000 + i, _perturb(_vec(i), 0.02, i)) for i in range(0, 200, 4)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_planted_recall_floor(spark, planted):
    """Every planted (i, 1000+i) pair has cosine >= 0.98; the default
    b=16, T=8 config must recover >= 90% of the brute-force >= 0.98
    pairs (theory: ~0.97 at p=0.94)."""
    truth = (
        planted.alias("a")
        .join(
            planted.alias("b"),
            F.col("a.vec_id") < F.col("b.vec_id"),
        )
        .withColumn(
            "sim", cosine(F.col("a.embedding"), F.col("b.embedding"))
        )
        .filter(F.col("sim") >= 0.98)
        .select(
            F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
        )
        .collect()
    )
    truth_pairs = {(r.id_a, r.id_b) for r in truth}
    assert len(truth_pairs) >= 40  # the planted pairs exist
    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup(planted, DIM, threshold=0.98).collect()
    }
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.9, f"LSH recall {recall:.2f} < 0.9"
    # precision is exact by construction: verify stage recomputes cosine
    assert got <= truth_pairs


def test_bucket_cap_bounds_candidates(spark):
    """A mega-cluster of identical vectors lands in one bucket per
    table; the cap drops it, so pair count stays bounded instead of
    going quadratic (the template-cluster policy shared with text LSH)."""
    v = _vec(7)
    clones = [(i, v) for i in range(300)]
    df = spark.createDataFrame(clones, "vec_id long, embedding array<double>")
    capped = embedding_near_dup(df, DIM, threshold=0.5, max_bucket_size=64)
    assert capped.count() == 0  # all buckets over-full -> routed away
    uncapped = embedding_near_dup(
        df.filter(F.col("vec_id") < 20), DIM, threshold=0.5,
        max_bucket_size=None,
    )
    assert uncapped.count() == 20 * 19 // 2  # clones all pair up


def test_signature_is_deterministic(spark, planted):
    a = planted.select(
        "vec_id", hyperplane_bucket(F.col("embedding"), DIM, 16, 0).alias("b")
    ).collect()
    b = planted.select(
        "vec_id", hyperplane_bucket(F.col("embedding"), DIM, 16, 0).alias("b")
    ).collect()
    assert sorted((r.vec_id, r.b) for r in a) == sorted(
        (r.vec_id, r.b) for r in b
    )
    # different tables give different partitions of the space
    c = planted.select(
        hyperplane_bucket(F.col("embedding"), DIM, 16, 1).alias("b")
    ).collect()
    assert sorted(r.b for r in c) != sorted(r.b for r in b)


def test_fused_embed_buckets_bit_parity(spark):
    """r18 fusion pin: attach_hash_embed_with_buckets (ONE Arrow stage)
    must be bit-identical to the two-stage composition —
    attach_hash_embed_arrow for the embedding, hyperplane_buckets_all
    over that embedding for the signatures — and embedding_near_dup fed
    the precomputed buckets must return exactly the pairs the unfused
    path returns."""
    from kafka_map_reduce_spark.operators.similarity import (
        attach_hash_embed_with_buckets,
        hyperplane_buckets_all,
    )
    from kafka_map_reduce_spark.operators.text import attach_hash_embed_arrow

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta tok{i} gamma delta tok{i * 7 % 13} end")
            for i in range(60)
        ]
        # planted near-dups: same text twice -> identical embeddings
        + [(1000 + i, f"alpha beta tok{i} gamma delta tok{i * 7 % 13} end")
           for i in range(0, 60, 5)],
        "doc_id long, text string",
    )
    dim, bits, n_tables = 32, 16, 8
    fused = attach_hash_embed_with_buckets(
        docs, "text", dim=dim, bits=bits, n_tables=n_tables
    )
    two_stage = attach_hash_embed_arrow(docs, "text", "embedding", dim=dim)
    two_stage = two_stage.select(
        "doc_id",
        "embedding",
        hyperplane_buckets_all(dim, bits, n_tables)(
            F.col("embedding")
        ).alias("__buckets"),
    )
    a = {
        r["doc_id"]: (r["embedding"], r["__buckets"])
        for r in fused.collect()
    }
    b = {
        r["doc_id"]: (r["embedding"], r["__buckets"])
        for r in two_stage.collect()
    }
    assert a == b  # bit-identical embeddings AND signatures

    emb = fused.select(
        F.col("doc_id").alias("vec_id"), "embedding", "__buckets"
    )
    got_fused = {
        tuple(r)
        for r in embedding_near_dup(
            emb, dim=dim, threshold=0.95, buckets_col="__buckets"
        ).collect()
    }
    got_plain = {
        tuple(r)
        for r in embedding_near_dup(
            emb.drop("__buckets"), dim=dim, threshold=0.95
        ).collect()
    }
    assert got_fused == got_plain and len(got_fused) >= 12


def test_fused_embed_faces_on_an_empty_partition(spark):
    """Both fused embed faces over a frame with an empty partition must
    equal the unfused faces they replace."""
    from kafka_map_reduce_spark.operators.similarity import (
        _normalize_arrow,
        attach_hash_embed_with_buckets,
        attach_hash_embed_with_unit,
        hyperplane_buckets_all,
    )
    from kafka_map_reduce_spark.operators.text import attach_hash_embed_arrow

    sc = spark.sparkContext
    rows = [(i, f"alpha tok{i} beta tok{i % 3}") for i in range(7)]
    docs = spark.createDataFrame(
        sc.parallelize([], 1).union(sc.parallelize(rows, 2)),
        "doc_id long, text string",
    )
    assert 0 in docs.rdd.glom().map(len).collect()
    dim, bits, n_tables = 32, 16, 4

    def by_id(df, cols):
        return {
            r["doc_id"]: tuple(
                None if r[c] is None else tuple(r[c]) for c in cols
            )
            for r in df.collect()
        }

    plain = attach_hash_embed_arrow(docs, "text", "embedding", dim=dim)
    unfused = plain.select(
        "doc_id",
        "embedding",
        hyperplane_buckets_all(dim, bits, n_tables)(
            F.col("embedding")
        ).alias("__buckets"),
        _normalize_arrow()(F.col("embedding")).alias("__unit"),
    )
    want = by_id(unfused, ["embedding", "__buckets", "__unit"])
    assert len(want) == 7
    buckets = attach_hash_embed_with_buckets(
        docs, "text", dim=dim, bits=bits, n_tables=n_tables
    )
    assert by_id(buckets, ["embedding", "__buckets"]) == {
        k: v[:2] for k, v in want.items()
    }
    unit = attach_hash_embed_with_unit(docs, "text", dim=dim)
    assert by_id(unit, ["embedding", "__unit"]) == {
        k: (v[0], v[2]) for k, v in want.items()
    }


def test_arrow_buckets_match_jvm_expression(spark, planted):
    """The vectorized Arrow signature (one numpy matmul for all T
    tables) must be bit-identical to the per-table JVM fold expression —
    same md5 sign derivation, same strict dot > 0 convention."""
    from kafka_map_reduce_spark.operators.similarity import (
        hyperplane_buckets_all,
    )

    T, B = 4, 16
    arrow = planted.select(
        "vec_id",
        F.posexplode(
            hyperplane_buckets_all(DIM, B, T)(F.col("embedding"))
        ).alias("tbl", "bkt"),
    ).collect()
    got = {(r.vec_id, r.tbl): r.bkt for r in arrow}
    for t in range(T):
        jvm = planted.select(
            "vec_id", hyperplane_bucket(F.col("embedding"), DIM, B, t).alias("b")
        ).collect()
        for r in jvm:
            assert got[(r.vec_id, t)] == r.b, (r.vec_id, t)


def test_buckets_col_with_another_table_count_fails_loudly(spark):
    """A signature array fused with n_tables=4 handed to an operator
    left at the default 8 must fail the job, naming both counts, rather
    than silently probe only the tables it carries."""
    from kafka_map_reduce_spark.operators.similarity import (
        attach_hash_embed_with_buckets,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta tok{i % 5} gamma") for i in range(20)],
        "doc_id long, text string",
    )
    emb = attach_hash_embed_with_buckets(
        docs, "text", dim=32, bits=16, n_tables=4
    ).select(F.col("doc_id").alias("vec_id"), "embedding", "__buckets")
    with pytest.raises(Exception, match=r"__buckets has 4 .*n_tables=8"):
        embedding_near_dup(
            emb, dim=32, threshold=0.95, buckets_col="__buckets"
        ).collect()
