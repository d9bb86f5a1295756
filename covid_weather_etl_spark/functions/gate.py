"""The one driver-collapse gate.

A bounded query tail (a horizon-, domain- or construction-bounded
frame) is resolved on the driver or in one task with a bit-exact
replay; above its cap the distributed plan is the scale path. Every
such gate asks this module, so one switch forces them all onto the
distributed path:

    with distributed_only():
        df = query.fn(spark, sf_dir)   # every gate takes its fallback

Callers keep their own degenerate-input checks (NULLs, empty input,
singular systems) and fall through to the distributed path on them.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar

from pyspark.sql import DataFrame

_forced: ContextVar[bool] = ContextVar("distributed_only", default=False)


@contextmanager
def distributed_only():
    """Force every gate onto its distributed path inside the block."""
    token = _forced.set(True)
    try:
        yield
    finally:
        _forced.reset(token)


def collect_upto(df: DataFrame, cap: int) -> list | None:
    """The rows of ``df`` if it has at most ``cap`` of them, else None
    (one bounded ``limit(cap + 1)`` fetch). None under
    ``distributed_only()``."""
    if _forced.get():
        return None
    rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def fits(n: int, cap: int) -> bool:
    """True when an ``n``-row input may run in one task (``n <= cap``).
    False under ``distributed_only()``."""
    return not _forced.get() and n <= cap
