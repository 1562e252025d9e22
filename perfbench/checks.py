"""Answer checks.  Every op is counted per phase (setup, measured,
verify) as attempted, and as failed when it raised or its answer was
wrong; nothing is swallowed silently."""

from __future__ import annotations

import sys
import traceback
from collections import defaultdict


class Tally:
    def __init__(self) -> None:
        self.attempted: dict[str, int] = defaultdict(int)
        self.failed: dict[str, int] = defaultdict(int)
        self.errors: list[str] = []

    def record(self, phase: str, ok: bool, why: str = "") -> bool:
        self.attempted[phase] += 1
        if not ok:
            self.failed[phase] += 1
            self.errors.append(f"{phase}: {why}")
            print(f"CHECK FAILED [{phase}] {why}", file=sys.stderr, flush=True)
        return ok

    def run(self, phase: str, what: str, fn):
        """Call ``fn`` (which returns (ok, why) or raises); count it."""
        try:
            ok, why = fn()
        except Exception:  # a raising op is a failed op, with its traceback kept
            return self.record(phase, False, f"{what} raised\n{traceback.format_exc()}")
        return self.record(phase, ok, f"{what}: {why}")

    def totals(self) -> tuple[int, int]:
        return sum(self.attempted.values()), sum(self.failed.values())

    def as_dict(self) -> dict:
        return {
            p: {"attempted": self.attempted[p], "failed": self.failed[p]}
            for p in sorted(self.attempted)
        }


def topk_structure(rows, batch) -> tuple[bool, str]:
    """≤k rows per query, ranks 1..n contiguous, (score desc, doc asc)."""
    ks = {q.query_id: q.k for q in batch}
    by_q = defaultdict(list)
    for r in rows:
        if r["query_id"] not in ks:
            return False, f"row for unknown query {r['query_id']}"
        by_q[r["query_id"]].append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        if len(rs) > ks[qid]:
            return False, f"query {qid}: {len(rs)} rows > k={ks[qid]}"
        if [r["rank"] for r in rs] != list(range(1, len(rs) + 1)):
            return False, f"query {qid}: ranks not 1..n"
        order = [(-r["score_q"], r["doc_id"]) for r in rs]
        if order != sorted(order):
            return False, f"query {qid}: not in (score desc, doc asc) order"
    return True, ""


def topk_matches_relational(idx, rows, q) -> tuple[bool, str]:
    """One query of a ``topk_batch`` answer against the independent
    relational scoring path."""
    got = [
        (r["doc_id"], r["score_q"])
        for r in sorted((r for r in rows if r["query_id"] == q.query_id), key=lambda r: r["rank"])
    ]
    want = [(r["doc_id"], r["score_q"]) for r in idx.topk_relational(q.terms, q.k, q.mode).collect()]
    return got == want, f"query {q.query_id} {q.terms} {q.mode}: {got[:3]} != {want[:3]}"


def batch_equals_single(batch_rows, single_rows, qid) -> tuple[bool, str]:
    """A family's batch answer for panel ``qid`` equals its per-call
    sibling's answer, compared on the sibling's columns."""
    if not single_rows:
        mine = [r for r in batch_rows if r["query_id"] == qid]
        return not mine, f"panel {qid}: batch has {len(mine)} rows, single has 0"
    cols = list(single_rows[0].asDict())
    mine = sorted(
        tuple(r[c] for c in cols) for r in batch_rows if r["query_id"] == qid
    )
    theirs = sorted(tuple(r[c] for c in cols) for r in single_rows)
    return mine == theirs, f"panel {qid}: {mine[:2]} != {theirs[:2]}"
