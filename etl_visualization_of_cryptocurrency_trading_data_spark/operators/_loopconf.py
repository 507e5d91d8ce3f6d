"""Scale-gated session-conf pinning for driver-side iterative loops
(OPTIMIZATION_r14, guide §1.2/§2.2).

Iterative operators (star connected components, classifier gradient
rounds, k-means style fixpoints) run K small Spark jobs whose inputs
are bounded frames a few MB in size. With the session defaults each
round pays AQE's stage-by-stage re-optimization plus
``spark.sql.shuffle.partitions`` tasks per exchange — pure scheduling
overhead at that size (measured: 0.7-1.9 s/round on a 300-row edge
frame at local[32]; ~0.15 s with the loop pinned). This helper pins
the two relevant confs for the duration of the loop ONLY when the
measured input size says the whole loop is small, and always restores
the previous values:

- the gate is a ROW COUNT the caller has already paid for (an eager
  checkpoint, a persisted frame's count) — never a guess;
- above the threshold nothing is touched, so the 100 TB path keeps
  AQE coalescing/skew handling and the session partitioning;
- the partition count is derived from the measured rows-per-partition
  target, not from the local core count, so the same derivation is
  the right *kind* of sizing on a cluster.

Thread-safety note: session confs are session-global, so a pinned
loop must not run concurrently with other queries on the same session
(the bench, the driver harness and the registry builders are all
sequential; foreachBatch handlers never call these loops).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Iterator

#: loops whose TOTAL input is below this many rows run pinned
SMALL_LOOP_ROWS = 16_000_000
#: target rows per shuffle partition inside a pinned loop
ROWS_PER_PARTITION = 500_000


@contextmanager
def pinned_small_loop(
    spark,
    n_rows: int,
    threshold: int = SMALL_LOOP_ROWS,
    rows_per_partition: int = ROWS_PER_PARTITION,
    cap: int = 32,
) -> Iterator[bool]:
    """Context manager: pin (AQE off, shuffle partitions derived from
    ``n_rows``) while the body runs iff ``n_rows < threshold``; yield
    whether the pin engaged. Always restores the prior conf values,
    including the unset state."""
    if n_rows >= threshold:
        yield False
        return
    partitions = max(1, min(int(n_rows // rows_per_partition) + 1, cap))
    saved: dict[str, str | None] = {}
    for key, val in (
        ("spark.sql.adaptive.enabled", "false"),
        ("spark.sql.shuffle.partitions", str(partitions)),
    ):
        try:
            saved[key] = spark.conf.get(key)
        except Exception:  # noqa: BLE001 — unset conf restores to unset
            saved[key] = None
        spark.conf.set(key, val)
    try:
        yield True
    finally:
        for key, val in saved.items():
            if val is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, val)
