"""File-backed consumer-group simulation: the reference's rebalance
state machine (A10) made testable without a broker.

The reference's consumer actor (/root/reference/src/lib.rs:392-462)
implements the Kafka group protocol's client half: on ASSIGN it resumes
each partition from the GROUP's committed offset, on REVOKE it flushes
in-flight work and commits what completed, and offsets are committed to
a store shared by the whole group (lib.rs:944-994) — not to the
individual consumer — which is precisely what makes a partition able to
move between consumers mid-stream without loss. Spark's Kafka source
owns all of this when a real broker exists (SURVEY §7.3's delegation);
this module re-creates the *protocol semantics* over the file-replay
twin so the behavior can be exercised and pinned in the sandbox:

- **FileTopic**: a directory per partition; each record file appended
  gets the next integer offset (one file = one offset, the replay
  analogue of a record batch).
- **GroupCoordinator**: the shared commit log — per-partition committed
  offsets in one JSON file per partition, written atomically
  (temp + rename) so a crash mid-commit leaves the previous offset.
- **GroupConsumer**: holds an assignment. ``poll`` reads each assigned
  partition from its committed offset (a Spark batch read of the next
  files, tagged with partition/offset columns); ``commit`` advances the
  group log to what the last poll delivered; ``revoke`` drops the
  partition AND its uncommitted poll progress — the redelivery seam.

Delivery contract matches the reference: at-least-once between poll and
commit (a revoke or crash before commit redelivers from the last
committed offset to the next assignee), upgraded to exactly-once at the
sink by keyed-overwrite idempotence — the same convention as
ingest_micro_batch's batch-keyed overwrite partitions
(queries/streaming_live.py).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# The (partition, offset) claim of a record file path, as produce() names
# it. poll() checks each path against it on the driver and tags each row
# with its two groups JVM-side (the pattern means the same in Java).
_RECORD_FILE = re.compile(r"p(\d+)/(\d+)\.parquet$", re.ASCII)


class FileTopic:
    """A topic as partition subdirectories of ordered parquet files."""

    def __init__(self, path: str, n_partitions: int):
        self.path = path
        self.n_partitions = n_partitions
        for p in range(n_partitions):
            os.makedirs(self._pdir(p), exist_ok=True)

    def _pdir(self, partition: int) -> str:
        return os.path.join(self.path, f"p{partition:03d}")

    def files(self, partition: int) -> list[str]:
        d = self._pdir(partition)
        return sorted(
            os.path.join(d, f)
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    def end_offset(self, partition: int) -> int:
        return len(self.files(partition))

    def produce(self, df: DataFrame, partition: int) -> int:
        """Append one record file to a partition; returns its offset.
        The replay analogue of a produced record batch.

        The offset is claimed with an exclusive ``os.link`` (never
        ``os.replace``): two producers racing to the same partition
        both compute the same next offset, and a clobbering rename
        would silently drop one batch — a no-loss violation. The loser
        hits EEXIST and retries the next offset, so every produced
        batch lands exactly once, in SOME order (the broker's own
        contract for concurrent producers without keys).

        Filesystems without hard-link support (some FUSE/network
        mounts raise EPERM/ENOTSUP) fall back to an exclusive-create
        copy (``open(dst, 'xb')`` = O_CREAT|O_EXCL), which keeps the
        no-clobber offset claim exactly; what it gives up is tear-
        freedom — a crash mid-copy can leave a truncated claimed file,
        which the atomic link path cannot. That is a crash-durability
        caveat of the degraded-portability path only, not a protocol
        change: both paths never lose a batch to a concurrent racer."""
        tmp = os.path.join(
            self.path, f".produce-{uuid.uuid4().hex[:8]}"
        )
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part_file = os.path.join(
            tmp,
            next(f for f in os.listdir(tmp) if f.endswith(".parquet")),
        )
        offset = self.end_offset(partition)
        while True:
            dst = os.path.join(
                self._pdir(partition), f"{offset:06d}.parquet"
            )
            try:
                os.link(part_file, dst)
                break
            except FileExistsError:
                offset += 1
            except OSError:
                # no hard-link support here: exclusive-create copy
                # keeps the offset claim (loser still gets EEXIST)
                try:
                    with open(part_file, "rb") as src, open(dst, "xb") as out:
                        shutil.copyfileobj(src, out)
                    break
                except FileExistsError:
                    offset += 1
        shutil.rmtree(tmp, ignore_errors=True)
        return offset

    def produce_many(
        self, df: DataFrame, partition_col: str, batch_col: str
    ) -> None:
        """Produce every (partition, batch) group of ``df`` as one record
        file each, in ``batch_col`` order within each partition — the
        batching producer (r17, guide §1.2 fewer passes): ONE partitioned
        Spark write replaces one write job per batch, then each part
        file claims its offset through the same exclusive-link loop as
        :meth:`produce`, so ordering, offset assignment and the
        no-clobber contract are byte-identical to a sequential
        produce-per-batch loop (pinned in tests/test_group_rebalance.py).
        12 produce jobs -> 1 for q_group_rebalance's fixture."""
        tmp = os.path.join(self.path, f".produce-{uuid.uuid4().hex[:8]}")
        (
            df.repartition(partition_col, batch_col)
            .write.mode("overwrite")
            .partitionBy(partition_col, batch_col)
            .parquet(tmp)
        )
        groups: dict[int, list[tuple[int, str]]] = {}
        for pdir in os.listdir(tmp):
            if not pdir.startswith(f"{partition_col}="):
                continue
            p = int(pdir.split("=", 1)[1])
            for bdir in os.listdir(os.path.join(tmp, pdir)):
                if not bdir.startswith(f"{batch_col}="):
                    continue
                b = int(bdir.split("=", 1)[1])
                d = os.path.join(tmp, pdir, bdir)
                part_file = os.path.join(
                    d,
                    next(
                        f for f in os.listdir(d) if f.endswith(".parquet")
                    ),
                )
                groups.setdefault(p, []).append((b, part_file))
        for p, batches in sorted(groups.items()):
            for _b, part_file in sorted(batches):
                offset = self.end_offset(p)
                while True:
                    dst = os.path.join(
                        self._pdir(p), f"{offset:06d}.parquet"
                    )
                    try:
                        os.link(part_file, dst)
                        break
                    except FileExistsError:
                        offset += 1
                    except OSError:
                        try:
                            with open(part_file, "rb") as src, open(
                                dst, "xb"
                            ) as out:
                                shutil.copyfileobj(src, out)
                            break
                        except FileExistsError:
                            offset += 1
        shutil.rmtree(tmp, ignore_errors=True)


class GroupCoordinator:
    """The group's shared commit log (lib.rs:944-994): per-partition
    committed offsets, atomically replaced so every read observes a
    fully-written commit — a consumer crash mid-commit leaves the prior
    offset, which redelivers (at-least-once), never loses."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _f(self, partition: int) -> str:
        return os.path.join(self.path, f"p{partition:03d}.json")

    def committed(self, partition: int) -> int:
        """Only a MISSING commit file means offset 0 (no commit yet).
        A present-but-unreadable or corrupt file raises: silently
        returning 0 would rewind the whole partition (mass redelivery)
        with no signal, and the atomic temp+rename write contract means
        a well-behaved crash can never produce a torn file — corruption
        here is an operational fault, not a protocol state."""
        try:
            with open(self._f(partition)) as fh:
                return int(json.load(fh)["offset"])
        except FileNotFoundError:
            return 0

    def commit(self, partition: int, offset: int) -> None:
        if offset < self.committed(partition):
            raise ValueError(
                f"commit would rewind p{partition}: "
                f"{offset} < {self.committed(partition)}"
            )
        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as fh:
            json.dump({"offset": int(offset)}, fh)
        os.replace(tmp, self._f(partition))


class GroupConsumer:
    """One member of the group. The assign/revoke transitions mirror
    lib.rs:392-462: assign resumes from the GROUP log (never from the
    consumer's own memory — the previous owner's commits are visible),
    revoke forgets both the partition and any uncommitted poll."""

    def __init__(
        self, spark: SparkSession, topic: FileTopic, coord: GroupCoordinator
    ):
        self.spark = spark
        self.topic = topic
        self.coord = coord
        self.assigned: set[int] = set()
        self._pending: dict[int, int] = {}  # partition -> next offset

    def assign(self, partitions: set[int]) -> None:
        self.assigned |= set(partitions)

    def revoke(self, partitions: set[int]) -> None:
        for p in set(partitions):
            self.assigned.discard(p)
            self._pending.pop(p, None)  # uncommitted progress is lost

    def poll(self, max_files_per_partition: int = 1) -> DataFrame | None:
        """Read up to N record files per assigned partition starting at
        each partition's committed offset, as ONE batch DataFrame tagged
        with (partition, offset). Returns None when fully caught up.
        Progress is pending until ``commit`` — the reference's
        in-flight window.

        One Spark read per poll (r18, guide §1.2 fixed costs /
        r17-verdict item #7): the per-file ``spark.read.parquet`` +
        unionByName chain paid one driver-side schema inference and
        plan per record file (the q_group_rebalance profile read 97%
        driver wall for <1 task-second). All polled files go into a
        single multi-path read, and the (partition, offset) tags are
        recovered from each row's file path — which IS the offset
        claim (``pNNN/OFFSET.parquet``, see FileTopic.produce), so the
        tags are byte-equal to the per-file literals they replace
        (equivalence pinned in tests/test_group_rebalance.py). The
        poll/commit/revoke seams — what this simulation exists to
        demonstrate — are untouched: batching is WITHIN one poll.

        Every polled path is checked on the driver to be
        ``p<partition>/<offset>.parquet`` with the partition it was
        listed under and the offset its position claims; anything else
        (a stray ``*.parquet``, a gap) raises ``ValueError`` naming the
        path, instead of reaching the read as a null tag.

        Single producer schema: the multi-path read takes ONE schema,
        inferred from a file footer without ``mergeSchema``. The topic
        assumes every record file was written with the same schema; a
        file with extra columns would lose them and a file missing a
        column would read it as null."""
        paths: list[str] = []
        self._pending = {}
        for p in sorted(self.assigned):
            start = self.coord.committed(p)
            files = self.topic.files(p)[
                start : start + max_files_per_partition
            ]
            if not files:
                continue
            for offset, path in enumerate(files, start):
                m = _RECORD_FILE.search(path)
                if m is None or (int(m[1]), int(m[2])) != (p, offset):
                    raise ValueError(
                        f"record file {path!r} is not "
                        f"p{p:03d}/{offset:06d}.parquet"
                    )
            paths.extend(files)
            self._pending[p] = start + len(files)
        if not paths:
            return None
        src = F.input_file_name()
        return (
            self.spark.read.parquet(*paths)
            .withColumn(
                "partition",
                F.regexp_extract(src, _RECORD_FILE.pattern, 1).cast("int"),
            )
            .withColumn(
                "offset",
                F.regexp_extract(src, _RECORD_FILE.pattern, 2).cast("long"),
            )
        )

    def commit(self) -> dict[int, int]:
        """Advance the group log to the last poll's end positions."""
        for p, off in self._pending.items():
            self.coord.commit(p, off)
        done, self._pending = self._pending, {}
        return done
