"""The capped driver fast path's two shared pieces.

Several operators swap a multi-round distributed plan for driver work
when the input is small: connected components, the Lloyd loop, the
heap-tree rollup, the eps-grid cell cascade, the nation-graph BFS and
the bucketed-rank offsets. Each one needs a bounded fetch of a frame
onto the driver, and the graph ones label components with a
union-find. Both live here once.
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import DataFrame


def bounded_collect(df: DataFrame, cap: int, contract: str | None = None):
    """Fetch `df` to the driver as a pyarrow Table if it has at most
    `cap` rows.

    ONE action serves as both the size probe and the fetch:
    `limit(cap + 1).toArrow()` bounds the driver transfer at cap + 1
    rows whatever the frame's size, and Arrow skips the per-Row object
    conversion a `collect()` pays. A separate `count()` probe would run
    the whole upstream plan a second time.

    Over the cap the partial result is discarded. With `contract=None`
    the call returns None, so the caller runs its distributed fallback.
    With a contract string it raises a ValueError that names the
    contract and the cap, for callers whose input is bounded by
    construction and for which an over-cap frame is a broken caller, not
    a big one. A cap of -1 forces the over-cap outcome (tests use it to
    pin a fast path against its fallback)."""
    head = df.limit(cap + 1).toArrow()
    if head.num_rows <= cap:
        return head
    if contract is None:
        return None
    raise ValueError(f"{contract} (bounded driver collect: more than {cap} rows)")


def min_label_components(edges: Iterable[tuple[int, int]]) -> dict[int, int]:
    """Connected components of a driver-side graph: union-find with
    min-label union and path compression. Returns {node: component
    minimum} for every node in an edge (a self-edge seeds an isolated
    node). Union by smaller root is order-independent, so the labels
    equal those of the distributed min-label propagation in
    operators.dedup."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)  # min-label union
    return {n: find(n) for n in parent}
