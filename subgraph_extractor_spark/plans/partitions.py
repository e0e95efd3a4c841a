"""Hierarchical block-range partition planner.

Re-implements (from behaviour, not code) the reference's one nontrivial
algorithm, ``get_partitions`` (reference cli.py:171-186, property-tested at
tests/test_partitioning.py): a greedy, size-aligned, largest-first cover of
the block interval between the subgraph's earliest and latest block.

Semantics preserved (SURVEY §2.11):

- Sizes are tried largest→smallest; each size contributes every complete,
  size-aligned partition between the current cursor (aligned *down*, which
  may reach below ``earliest`` — the empty-prefix file) and
  ``floor(latest / size) * size``.
- The cover is contiguous, gap-free, non-overlapping, with partition sizes
  monotonically non-increasing left→right.
- The incomplete tail above ``floor(latest / smallest) * smallest`` is
  excluded — only complete partitions are ever exported, which is what makes
  re-runs idempotent and late data impossible by construction (SURVEY §2.9).
- Re-coarsening: as ``latest`` grows, several small partitions are
  superseded by one larger aligned partition covering the same range; the
  delta planner below handles extraction of the new large partition, and the
  manifest (plans.manifest) is what keeps readers off the stale small files.

This is plan *metadata*: pure driver-side Python over a handful of tuples.
The per-partition *data* work is a Spark job (see extract.run_extraction).
"""

from __future__ import annotations

from itertools import repeat
from typing import Iterable, NamedTuple, Sequence


class Partition(NamedTuple):
    """Half-open, size-aligned block range [start, end), end = start + size.

    A named tuple: it orders and hashes as ``(size, start, end)``, and a
    cover of millions of one-block partitions is built without a Python
    call per partition (see ``get_partitions``).
    """

    size: int
    start: int
    end: int

    def as_tuple(self) -> tuple[int, int, int]:
        return (self.size, self.start, self.end)


def _validate_sizes(partition_sizes: Sequence[int]) -> list[int]:
    sizes = sorted(set(int(s) for s in partition_sizes), reverse=True)
    if not sizes:
        raise ValueError("partition_sizes must be non-empty")
    if any(s <= 0 for s in sizes):
        raise ValueError(f"partition sizes must be positive: {partition_sizes}")
    # The gap-free invariant requires a divisibility chain largest→smallest
    # (reference builds size stacks multiplicatively,
    # tests/test_partitioning.py:7-14).
    for bigger, smaller in zip(sizes, sizes[1:]):
        if bigger % smaller != 0:
            raise ValueError(
                f"each partition size must divide the next larger one; "
                f"{smaller} does not divide {bigger}"
            )
    return sizes


def get_partitions(
    earliest_block: int, latest_block: int, partition_sizes: Sequence[int]
) -> list[Partition]:
    """Plan the complete-partition cover of [earliest_block, latest_block]."""
    sizes = _validate_sizes(partition_sizes)
    cover: list[Partition] = []
    cursor = int(earliest_block)
    latest = int(latest_block)
    for size in sizes:
        lo = (cursor // size) * size  # align down — may dip below earliest
        hi = (latest // size) * size  # only complete partitions of this size
        # tuple.__new__ over zip is Partition._make without its per-item
        # Python frame: a cover can hold ~1e7 partitions.
        cover.extend(
            map(
                tuple.__new__,
                repeat(Partition),
                zip(
                    repeat(size),
                    range(lo, hi, size),
                    range(lo + size, hi + size, size),
                ),
            )
        )
        cursor = max(cursor, hi)
    return cover


def plan_delta(
    previous: Iterable[Partition] | None, current: Iterable[Partition]
) -> list[Partition]:
    """Incremental work set: partitions in the current cover not present in
    the previous one (reference cli.py:302-313 — Python set difference).

    Stays driver-side on purpose: this is O(#partitions) metadata, not data.
    Re-coarsened (larger, newly-complete) partitions naturally appear here
    because their (size, start, end) tuple is new.
    """
    prev = set(previous or ())
    return sorted(p for p in set(current) if p not in prev)
