"""Batching / retry control flow (SURVEY.md 2.12 R1-R3).

The reference batches API payloads with ``np.array_split``
(code/ukg_open_census.py:549-554), retries a failed batch
element-by-element (``generate_err_batchs`` with size 1, :434-474,
:580-585), and skips-and-logs persistent failures
(code/ukg_wrkload_dtl.py:219-230).  These are *control-plane* utilities
— they batch driver-side API calls, not Spark data — so plain Python
is the right level; the data plane never loops.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any


def generate_batches(items: Sequence[Any], batch_size: int) -> list[list[Any]]:
    """Split into contiguous batches of at most ``batch_size`` (R1)."""
    if batch_size <= 0:
        raise ValueError("batch_size must be positive")
    return [list(items[i : i + batch_size]) for i in range(0, len(items), batch_size)]


@dataclass
class BatchReport:
    """Outcome ledger for a batched, retried run (R2/R3)."""

    succeeded: list[Any] = field(default_factory=list)
    failed: list[tuple[Any, str]] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.failed


def run_batched_with_retry(
    items: Sequence[Any],
    action: Callable[[list[Any]], Any],
    batch_size: int,
) -> BatchReport:
    """Apply ``action`` per batch; on failure, re-try that batch's
    elements one at a time (the reference's shrink-to-1 policy);
    persistent failures are recorded and skipped, never raised (R3
    skip-and-log)."""
    report = BatchReport()
    for batch in generate_batches(items, batch_size):
        try:
            action(batch)
            report.succeeded.extend(batch)
        except Exception:
            for x in batch:
                try:
                    action([x])
                    report.succeeded.append(x)
                except Exception as e:  # noqa: BLE001 - ledger, not crash
                    report.failed.append((x, str(e)))
    return report
