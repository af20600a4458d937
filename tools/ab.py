"""Interleaved A/B of per-query walls between two commits; times nothing itself.

Usage: python tools/ab.py <base-ref> [query ...] [--ref-b REF] [--pairs N]

Clones <base-ref> (and --ref-b, else the change side is this working tree)
and runs each side's own ``tools/qtime.py n queries`` as its own process,
one at a time, for N pairs, alternating the side that starts a pair. Both
sides inherit $SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS and n =
$SPARK_GRAFT_BENCH_N (default 3). Prints per query (default bench.HEADLINE)
the median, min and max over pairs of the change/base ratio of min-of-n
walls. TOTAL counts only pairs where both sides reported every query;
exit status 1 if any pair did not.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def clone(ref: str, dest: str) -> str:
    rev = ["git", "-C", REPO, "rev-parse", "--verify", f"{ref}^{{commit}}"]
    sha = subprocess.check_output(rev, text=True).strip()
    subprocess.run(["git", "clone", "-q", "--no-checkout", REPO, dest], check=True)
    subprocess.run(["git", "-C", dest, "checkout", "-q", sha], check=True)
    return dest


def parse_qtime(stdout: str) -> dict[str, float]:
    """{query: min wall} from qtime.py's one-JSON-line-per-query output."""
    rows = (json.loads(s) for s in stdout.splitlines() if s.startswith("{"))
    return {r["query"]: r["min"] for r in rows}


def run_qtime(tree: str, n: str, queries: list[str]) -> dict[str, float]:
    proc = subprocess.run([sys.executable, "tools/qtime.py", n, *queries],
                          cwd=tree, capture_output=True, text=True)
    if proc.returncode:
        sys.stderr.write(f"[ab] {tree}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
    return parse_qtime(proc.stdout)


def interleave(run, pairs: int) -> tuple[list[dict], list[dict]]:
    """run(side) -> {query: wall}; even pairs start with base, odd with change."""
    runs = {"base": [], "change": []}
    for i in range(pairs):
        for side in ("base", "change") if i % 2 == 0 else ("change", "base"):
            runs[side].append(run(side))
    return runs["base"], runs["change"]


def _summary(r: list[float]) -> dict:
    vals = [round(f(r), 3) for f in (statistics.median, min, max)] if r else [None] * 3
    return {"pairs": len(r), **dict(zip(("median", "min", "max"), vals))}


def paired_ratios(base: list[dict], change: list[dict], queries: list[str]) -> dict:
    """change/base per query, and TOTAL over pairs complete on both sides."""
    pairs = list(zip(base, change))
    out = {q: _summary([c[q] / b[q] for b, c in pairs if b.get(q) and q in c])
           for q in queries}
    out["TOTAL"] = _summary([
        sum(c[q] for q in queries) / sum(b[q] for q in queries)
        for b, c in pairs if all(q in b and q in c for q in queries)])
    return out


def main() -> int:
    sys.path.insert(0, REPO)
    from bench import HEADLINE

    ap = argparse.ArgumentParser(description="interleaved per-query A/B")
    ap.add_argument("base_ref")
    ap.add_argument("queries", nargs="*", default=list(HEADLINE))
    ap.add_argument("--ref-b", help="change-side ref (default: working tree)")
    ap.add_argument("--pairs", type=int, default=5)
    args = ap.parse_args()
    n = os.environ.get("SPARK_GRAFT_BENCH_N", "3")
    with tempfile.TemporaryDirectory(prefix="ab-") as work:
        trees = {"base": clone(args.base_ref, os.path.join(work, "base")),
                 "change": clone(args.ref_b, os.path.join(work, "change"))
                 if args.ref_b else REPO}
        base, change = interleave(
            lambda side: run_qtime(trees[side], n, args.queries), args.pairs)
    print(f"change={args.ref_b or 'working tree'} / base={args.base_ref}, {args.pairs} "
          f"pairs, min-of-{n} walls\n{'query':<26}  median     min     max pairs")
    for q, s in (rows := paired_ratios(base, change, args.queries)).items():
        print(f"{q:<26}", *[f"{s[k]:7.3f}" if s[k] else f"{'-':>7}"
                            for k in ("median", "min", "max")], f"{s['pairs']:5}")
    return int(rows["TOTAL"]["pairs"] < args.pairs)


if __name__ == "__main__":
    sys.exit(main())
