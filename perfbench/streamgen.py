"""Open-loop event generator for the stream_ingest workload.

Runs as its own single-threaded process so that a slow consumer cannot slow
it down. Each file holds JSON payload records ``{partition, offset, ts}``
(the shape of the reference pipeline's ``parse`` stage input); a
seed-chosen 1% are malformed and belong in the dead-letter queue. Files are
written under a hidden name and renamed into the watched directory at
their due time; ``ts`` is the due time in ms. At the end the generator
writes a JSON log of every file's due and actual (post-rename) time.

Usage: python3 perfbench/streamgen.py SPEC.json  (see ``Schedule``)
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
from dataclasses import asdict, dataclass

PARTITIONS = 8
MALFORMED_FRAC = 0.01


@dataclass
class Schedule:
    seed: int
    in_dir: str
    log_path: str
    start: float  # epoch s of the first steady file
    steady_files: int
    file_interval: float
    events_per_file: int
    burst_at: float  # epoch s the burst backlog is released
    burst_files: int
    burst_events_per_file: int

    def files(self):
        """(file index, due epoch s, number of events) in schedule order."""
        for i in range(self.steady_files):
            yield i, self.start + i * self.file_interval, self.events_per_file
        for j in range(self.burst_files):
            yield self.steady_files + j, self.burst_at, self.burst_events_per_file


def file_name(index: int) -> str:
    return f"f{index:06d}.json"


def events(seed: int, index: int, count: int, due: float):
    """The records of file ``index``: (payload line, (partition, offset,
    ts) the parse stage must produce, or None when the line is malformed)."""
    rng = random.Random(f"{seed}/{index}")
    ts = int(round(due * 1000))
    out = []
    for k in range(count):
        partition, offset = k % PARTITIONS, index * 1_000_000 + k
        if rng.random() >= MALFORMED_FRAC:
            line = json.dumps({"partition": partition, "offset": offset, "ts": ts})
            out.append((line, (partition, offset, ts)))
            continue
        kind = rng.randrange(3)
        if kind == 0:  # truncated payload
            line = json.dumps({"partition": partition, "offset": offset, "ts": ts})[:-4]
        elif kind == 1:  # wrongly typed field
            line = json.dumps({"partition": partition, "offset": f"{offset}x", "ts": ts})
        else:  # missing field
            line = json.dumps({"partition": partition, "offst": offset, "ts": ts})
        out.append((line, None))
    return out


def _stage(sched: Schedule, index: int, due: float, count: int) -> str:
    """Write file ``index`` under a hidden name, which the file source skips."""
    tmp = os.path.join(sched.in_dir, f".{file_name(index)}")
    with open(tmp, "w") as f:
        f.write("".join(line + "\n" for line, _ in events(sched.seed, index, count, due)))
    return tmp


def main(spec_path: str) -> int:
    with open(spec_path) as f:
        sched = Schedule(**json.load(f))
    log = []

    def release(index: int, due: float, tmp: str) -> None:
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        os.rename(tmp, os.path.join(sched.in_dir, file_name(index)))
        log.append({"file": file_name(index), "due": due, "written": time.time()})

    files = list(sched.files())
    for index, due, count in files[: sched.steady_files]:
        release(index, due, _stage(sched, index, due, count))
    # The whole backlog is staged before its release time.
    backlog = [(i, d, _stage(sched, i, d, c)) for i, d, c in files[sched.steady_files :]]
    for index, due, tmp in backlog:
        release(index, due, tmp)
    with open(sched.log_path, "w") as f:
        json.dump(log, f)
    return 0


def write_spec(path: str, sched: Schedule) -> None:
    with open(path, "w") as f:
        json.dump(asdict(sched), f)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
