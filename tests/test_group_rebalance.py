"""Consumer-group rebalance simulation (streaming/group.py): the A10
state machine (reference lib.rs:392-462) exercised without a broker —
partition moves mid-stream resume from the GROUP's committed offsets,
revoke-before-commit redelivers, and an idempotent keyed sink upgrades
the at-least-once window to exactly-once."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_map_reduce_spark.streaming.group import (
    FileTopic,
    GroupConsumer,
    GroupCoordinator,
)

N_PARTS = 4
FILES_PER_PART = 6
ROWS_PER_FILE = 3


@pytest.fixture()
def topic(spark, tmp_path):
    t = FileTopic(str(tmp_path / "topic"), N_PARTS)
    for p in range(N_PARTS):
        for f in range(FILES_PER_PART):
            base = (p * FILES_PER_PART + f) * ROWS_PER_FILE
            t.produce(
                spark.range(base, base + ROWS_PER_FILE).select(
                    F.col("id").alias("event_id")
                ),
                p,
            )
    return t


def _drain(consumer, sink_rows, max_files=2):
    """Poll-commit until caught up, appending (partition, offset,
    event_id) tuples to sink_rows."""
    while True:
        df = consumer.poll(max_files_per_partition=max_files)
        if df is None:
            return
        sink_rows.extend(
            (r.partition, r.offset, r.event_id) for r in df.collect()
        )
        consumer.commit()


def _expected(parts):
    out = set()
    for p in parts:
        for f in range(FILES_PER_PART):
            base = (p * FILES_PER_PART + f) * ROWS_PER_FILE
            out |= {(p, f, base + i) for i in range(ROWS_PER_FILE)}
    return out


def test_rebalance_moves_partition_without_loss_or_duplication(
    spark, topic, tmp_path
):
    """The headline A10 scenario: A owns {0,1}, B owns {2,3}; after
    partial progress p1 is revoked from A and assigned to B. B must
    resume p1 from the group's committed offset (not earliest), and the
    union of both sinks is every record exactly once."""
    coord = GroupCoordinator(str(tmp_path / "group"))
    a = GroupConsumer(spark, topic, coord)
    b = GroupConsumer(spark, topic, coord)
    a.assign({0, 1})
    b.assign({2, 3})

    rows_a: list = []
    rows_b: list = []
    # mid-stream: each consumer polls twice (2 files/partition each) and
    # commits — partial progress in the group log
    for _ in range(2):
        df = a.poll(max_files_per_partition=1)
        rows_a.extend((r.partition, r.offset, r.event_id) for r in df.collect())
        a.commit()
        df = b.poll(max_files_per_partition=1)
        rows_b.extend((r.partition, r.offset, r.event_id) for r in df.collect())
        b.commit()
    assert coord.committed(1) == 2  # A committed 2 of p1's 6 files

    # REBALANCE: p1 moves A -> B
    a.revoke({1})
    b.assign({1})

    before_b = len(rows_b)
    _drain(a, rows_a)
    _drain(b, rows_b)

    # B's first p1 record resumed at offset 2 — the group's commit, not 0
    p1_b = sorted((o for p, o, _ in rows_b[before_b:] if p == 1))
    assert p1_b[0] == 2

    got = set(rows_a) | set(rows_b)
    assert got == _expected(range(N_PARTS))
    assert len(rows_a) + len(rows_b) == len(got)  # no duplicates anywhere
    for p in range(N_PARTS):
        assert coord.committed(p) == FILES_PER_PART


def test_revoke_before_commit_redelivers_to_next_assignee(
    spark, topic, tmp_path
):
    """The at-least-once window: A polls p0 but is revoked BEFORE
    committing (crash analogue). The next assignee re-reads the same
    offsets — nothing is lost; a keyed idempotent sink (dedup on
    partition+offset+event, the batch-keyed-overwrite convention)
    yields exactly-once downstream."""
    coord = GroupCoordinator(str(tmp_path / "group"))
    a = GroupConsumer(spark, topic, coord)
    a.assign({0})
    df = a.poll(max_files_per_partition=2)
    seen_by_a = {(r.partition, r.offset, r.event_id) for r in df.collect()}
    a.revoke({0})  # in-flight, uncommitted -> dropped
    assert coord.committed(0) == 0

    b = GroupConsumer(spark, topic, coord)
    b.assign({0})
    rows_b: list = []
    _drain(b, rows_b)
    # redelivery: B saw everything A had in flight, plus the rest
    assert seen_by_a <= set(rows_b)
    # idempotent keyed sink: dedup on the stable key recovers exact-once
    sink = set(rows_b) | seen_by_a
    assert sink == _expected([0])


def test_fresh_consumer_after_full_drain_polls_nothing(
    spark, topic, tmp_path
):
    """Checkpoint-recovered offsets: once the group log says every
    partition is at its end offset, a brand-new consumer assigned the
    whole topic (a full-group rebalance) reads zero records — the A9
    redelivery-idempotence contract across consumer generations."""
    coord = GroupCoordinator(str(tmp_path / "group"))
    a = GroupConsumer(spark, topic, coord)
    a.assign(set(range(N_PARTS)))
    rows: list = []
    _drain(a, rows, max_files=3)
    assert set(rows) == _expected(range(N_PARTS))

    fresh = GroupConsumer(spark, topic, coord)
    fresh.assign(set(range(N_PARTS)))
    assert fresh.poll() is None
    # and new production is picked up from the committed frontier only
    topic.produce(
        spark.range(10_000, 10_003).select(F.col("id").alias("event_id")), 2
    )
    df = fresh.poll(max_files_per_partition=4)
    got = [(r.partition, r.offset, r.event_id) for r in df.collect()]
    assert sorted(got) == [
        (2, FILES_PER_PART, 10_000),
        (2, FILES_PER_PART, 10_001),
        (2, FILES_PER_PART, 10_002),
    ]


def test_commit_rewind_is_rejected(spark, topic, tmp_path):
    """The commit log is monotone per partition — a stale consumer
    generation cannot rewind the group (zombie fencing's observable
    half)."""
    coord = GroupCoordinator(str(tmp_path / "group"))
    coord.commit(0, 3)
    with pytest.raises(ValueError, match="rewind"):
        coord.commit(0, 1)
    assert coord.committed(0) == 3


def test_corrupt_commit_file_raises_not_rewinds(spark, tmp_path):
    """A present-but-corrupt commit file must RAISE, not silently
    return 0 — returning 0 would rewind the whole partition (mass
    redelivery) with no operational signal. Only a missing file means
    'no commit yet'."""
    coord = GroupCoordinator(str(tmp_path / "group"))
    assert coord.committed(0) == 0  # missing file: legitimate zero
    coord.commit(0, 5)
    assert coord.committed(0) == 5
    with open(coord._f(0), "w") as fh:
        fh.write("{not json")
    with pytest.raises(ValueError):
        coord.committed(0)


def test_concurrent_producers_never_clobber(spark, tmp_path):
    """Two producers racing to the same partition must both land their
    batch (exclusive-create + EEXIST retry), never silently overwrite —
    simulated by pre-claiming the offset the producer will compute."""
    t = FileTopic(str(tmp_path / "topic"), 1)
    t.produce(spark.range(0, 3).select(F.col("id").alias("event_id")), 0)
    # rival claims offset 1 between end_offset() and the link
    rival = t.files(0)[0]
    import shutil as _sh

    _sh.copy(rival, t._pdir(0) + "/000001.parquet")
    off = t.produce(
        spark.range(10, 13).select(F.col("id").alias("event_id")), 0
    )
    assert off == 2  # retried past the claimed slot
    assert t.end_offset(0) == 3
    got = {
        r.event_id for r in spark.read.parquet(*t.files(0)).collect()
    }
    assert got == {0, 1, 2, 10, 11, 12}  # rival's copy AND ours both live


def test_produce_falls_back_when_hard_links_unsupported(
    spark, tmp_path, monkeypatch
):
    """Filesystems without hard-link support (EPERM from some
    FUSE/network mounts) must not abort produce: the exclusive-create
    copy fallback lands the batch AND keeps the no-clobber offset
    claim (a pre-claimed slot still forces a retry, never an
    overwrite)."""
    import errno
    import os as _os

    def no_links(src, dst, *a, **k):
        raise OSError(errno.EPERM, "hard links not supported")

    monkeypatch.setattr(_os, "link", no_links)
    t = FileTopic(str(tmp_path / "topic"), 1)
    off0 = t.produce(
        spark.range(0, 3).select(F.col("id").alias("event_id")), 0
    )
    assert off0 == 0
    # rival pre-claims offset 1: the fallback's O_CREAT|O_EXCL must
    # EEXIST past it, same as the link path
    import shutil as _sh

    _sh.copy(t.files(0)[0], t._pdir(0) + "/000001.parquet")
    off = t.produce(
        spark.range(10, 13).select(F.col("id").alias("event_id")), 0
    )
    assert off == 2
    got = {r.event_id for r in spark.read.parquet(*t.files(0)).collect()}
    assert got == {0, 1, 2, 10, 11, 12}


def test_registered_rebalance_query_delivers_each_record_once(spark):
    """The driver-facing q_group_rebalance row: the delivered set is
    exactly the 36 produced records — one row per (partition, offset,
    event_id), no loss from the revoke, no duplicate from the
    redelivery (keyed overwrite collapsed it)."""
    from kafka_map_reduce_spark.registry import all_queries

    out = all_queries()["q_group_rebalance"].fn(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(out) == 36
    assert len({r.event_id for r in out}) == 36  # exactly-once per record
    by_part = {}
    for r in out:
        by_part.setdefault(r.partition, set()).add(r.offset)
    assert set(by_part) == {0, 1, 2}
    assert all(offs == {0, 1, 2, 3} for offs in by_part.values())


def test_produce_many_matches_sequential_produce(spark, tmp_path):
    """The batching producer (ONE partitioned write + per-file offset
    claims) yields byte-equivalent topic state to a sequential
    produce-per-batch loop: same files per partition, same offsets,
    same rows at each (partition, offset)."""
    rows = spark.range(0, 18).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 3).cast("int").alias("pk"),
        ((F.col("id") / 3) % 2).cast("int").alias("fi"),
    ).localCheckpoint(eager=True)

    seq = FileTopic(str(tmp_path / "seq"), 3)
    for p in range(3):
        for i in range(2):
            seq.produce(
                rows.filter(
                    (F.col("pk") == p) & (F.col("fi") == i)
                ).drop("pk", "fi"),
                p,
            )
    bat = FileTopic(str(tmp_path / "bat"), 3)
    bat.produce_many(rows, "pk", "fi")

    for p in range(3):
        assert bat.end_offset(p) == seq.end_offset(p) == 2
        for off, (fs, fb) in enumerate(
            zip(seq.files(p), bat.files(p))
        ):
            ids_seq = {
                r.event_id for r in spark.read.parquet(fs).collect()
            }
            ids_bat = {
                r.event_id for r in spark.read.parquet(fb).collect()
            }
            assert ids_bat == ids_seq, (p, off)


def test_poll_rejects_a_non_conforming_record_file(spark, tmp_path):
    """A stray ``*.parquet`` in a partition directory is not an offset
    claim: poll must name it instead of tagging its rows with a null
    partition/offset."""
    import shutil as _sh

    t = FileTopic(str(tmp_path / "topic"), 1)
    t.produce(spark.range(0, 3).select(F.col("id").alias("event_id")), 0)
    stray = t._pdir(0) + "/stray.parquet"
    _sh.copy(t.files(0)[0], stray)
    consumer = GroupConsumer(spark, t, GroupCoordinator(str(tmp_path / "g")))
    consumer.assign({0})
    with pytest.raises(ValueError, match="stray.parquet"):
        consumer.poll(max_files_per_partition=2)
    # the conforming prefix is still readable one file at a time
    rows = consumer.poll(max_files_per_partition=1).collect()
    assert {(r.partition, r.offset) for r in rows} == {(0, 0)}
