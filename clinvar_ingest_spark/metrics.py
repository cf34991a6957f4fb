"""Driver-side stage clock for the ingest path.

Every stage of a batch (profile scan, merge+write action, commit,
sidecar writes) is a *blocking driver call*, so wall-clock
context managers on the driver capture the true per-stage split without
touching the executor path. The accumulator makes per-stage time part of
the bench artifact (``BENCH_r{N}.json`` ingest block), so a throughput
regression is attributable from the artifact alone.

Reference analog: the reference logs per-step wall times around its
copy/parse/create steps (clinvar_ingest/workflow.py — step timing via
log records); here the split is a first-class queryable dict.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

_ACC: dict[str, float] = {}
_CNT: dict[str, int] = {}


@contextmanager
def stage(name: str):
    """Accumulate wall seconds under ``name`` (re-entrant safe: nested
    stages double-count by design — report leaf stages)."""
    t0 = time.monotonic()
    try:
        yield
    finally:
        dt = time.monotonic() - t0
        _ACC[name] = _ACC.get(name, 0.0) + dt
        _CNT[name] = _CNT.get(name, 0) + 1


def snapshot() -> dict[str, float]:
    return {k: round(v, 3) for k, v in sorted(_ACC.items())}


def counts() -> dict[str, int]:
    return dict(_CNT)


def reset() -> None:
    _ACC.clear()
    _CNT.clear()
