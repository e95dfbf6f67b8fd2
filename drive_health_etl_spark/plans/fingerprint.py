"""Physical-plan fingerprints: the join-strategy / shuffle-count signature of
a query, cheap enough to compute at bench time and stable enough to pin in a
regression test. A silently demoted broadcast (BroadcastHashJoin ->
SortMergeJoin after a threshold change) or a new shuffle shows up as a
fingerprint diff and fails loudly — not as an unexplained timing blip
(VERDICT r2 item 7).

The fingerprint counts marker substrings in the executed-plan string (the
AQE initial plan when adaptive is on — deterministic for a fixed Spark
version and query, which is exactly what a regression guard needs).
"""

from __future__ import annotations

import re

# Shuffle exchanges are counted separately from broadcast exchanges: the
# former are the scale-relevant events, the latter are the cheap dim ships.
_SHUFFLE_MARKS = (
    "Exchange hashpartitioning",
    "Exchange rangepartitioning",
    "Exchange SinglePartition",
    "Exchange RoundRobinPartitioning",
)
_JOIN_MARKS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


_MARKER = re.compile(r"[ :]*?[+:]- ")


def _marker_col(line: str) -> int | None:
    """Column of the line's "+-"/":-" tree marker (None for a root line)."""
    m = _MARKER.match(line)
    return m.end() - 3 if m else None


class _Section:
    """One "== Final/Initial Plan ==" rendering inside a cached build. Its
    lines form a tree rooted just right of the header; ``accepts`` follows
    that tree (a line is the previous line's child — 3 columns right, or 6
    for the inner children InMemoryTableScan/InMemoryRelation render — or a
    sibling of a node whose marker was ":-"), so the section ends exactly
    where the tree does, whatever the indent of the line that follows."""

    def __init__(self, header_indent: int):
        self.header_indent = header_indent
        self.prev: int | None = None  # marker column of the previous line
        self.open: set[int] = set()  # columns still expecting a sibling

    def accepts(self, line: str) -> bool:
        col = _marker_col(line)
        if self.prev is None:  # the rendering's root line
            self.prev = col if col is not None else len(line) - len(line.lstrip()) - 3
            return True
        if col is None or (col - self.prev not in (3, 6) and col not in self.open):
            return False
        self.open = {c for c in self.open if c < col}
        if line[col] == ":":
            self.open.add(col)
        self.prev = col
        return True


def _live_plan(plan: str) -> str:
    """Drop every InMemoryRelation subtree from the plan string. The cached
    build plan embedded under an InMemoryRelation never re-executes, and its
    text depends on WHICH query materialized the shared cache entry first
    (Spark's CacheManager keys on plan equality) — counting it made
    fingerprints order-dependent (observed 12 vs 24 shuffles for
    dedup_minhash_pairs depending on sibling-test order). Subtree extent is
    the structural indentation of the tree rendering.

    A MATERIALIZED cached relation renders its build as "AdaptiveSparkPlan
    isFinalPlan=true" with "== Final Plan ==" / "== Initial Plan =="
    sections, and when that build reads another cached relation, the inner
    build's headers and trees DEDENT below the outer cache boundary (first
    seen as 9 dead shuffles of dedup_prefix_join's prefix relation over the
    shingle sets). A fresh, unexecuted outer plan is isFinalPlan=false and
    never renders these headers, so every header inside a skip opens a
    dead section; each section is followed as a tree (``_Section``), and
    once no open section accepts a line the plain indent rule against the
    cache boundary decides again — so a live sibling whose indent falls
    between a dedented header and the boundary is still counted."""
    out: list[str] = []
    skip_indent = -1
    sections: list[_Section] = []  # innermost last
    for line in plan.splitlines():
        # structural depth = the " "/":" prefix before the "+-"/":-" marker
        # (codegen "*(n)" tags live AFTER the marker, so they don't shift it)
        indent = len(line) - len(line.lstrip(" :"))
        if skip_indent >= 0:
            if "== Final Plan ==" in line or "== Initial Plan ==" in line:
                # an Initial Plan header closes its Final Plan sibling (and
                # every section nested in it)
                same = [i for i, s in enumerate(sections) if s.header_indent == indent]
                del sections[same[-1] if same else len(sections):]
                sections.append(_Section(indent))
                continue
            while sections and not sections[-1].accepts(line):
                sections.pop()
            if sections or indent > skip_indent:
                continue
            skip_indent = -1
        if "InMemoryRelation" in line:
            skip_indent = indent
            continue
        if "InMemoryTableScan" in line:
            # the scan itself is live, but everything rendered UNDER it is
            # the cached build plan (executedPlan().toString() inlines it
            # directly beneath the scan when the cache was materialized by
            # an AQE query — no InMemoryRelation line in that rendering;
            # round 11: text_bigram_logprob counted 6 dead shuffles)
            out.append(line)
            skip_indent = indent
            continue
        out.append(line)
    return "\n".join(out)


def plan_fingerprint(df) -> dict[str, int]:
    """Counts of shuffle exchanges, broadcast exchanges, and each join
    strategy in ``df``'s LIVE physical plan (cached subtrees excluded,
    zero-count keys omitted)."""
    plan = _live_plan(df._jdf.queryExecution().executedPlan().toString())
    fp: dict[str, int] = {}
    shuffles = sum(plan.count(m) for m in _SHUFFLE_MARKS)
    if shuffles:
        fp["shuffle_exchange"] = shuffles
    n = plan.count("BroadcastExchange")
    if n:
        fp["broadcast_exchange"] = n
    for m in _JOIN_MARKS:
        n = plan.count(m)
        if n:
            fp[m] = n
    return fp
