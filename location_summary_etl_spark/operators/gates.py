"""Size gates: the one byte-threshold compare behind every plan
choice that is only safe while an input is small.

* :func:`fits` -- the raw compare: KNOWN bytes under a cap; unknown
  bytes fail;
* :func:`path_fits` -- :func:`fits` over a filesystem path, for
  driver-side readers that decide before any DataFrame exists;
* :func:`source_fits` -- :func:`fits` over a DataFrame lineage's
  source bytes, capped by the session broadcast threshold by default.

Callers: ``session.broadcast_if_small`` (the plan-time broadcast hint,
:func:`source_fits`), ``sources.registry.compile_tiny_dim``
(broadcast-by-compilation, pre-gating its pyarrow read with
:func:`path_fits`) and the n-gram scratch floor
(``plans.corpus_dedup._ngram_scratch``, :func:`path_fits`).  Every
caller arranges that a failed gate -- including unknown stats --
selects the plan that is safe at ANY size: a plan that is only correct
while an input is small must prove the input small before it runs.
The measured constants (caps, floors) stay with their callers,
because they are facts about those plans, not about gating.
"""

from __future__ import annotations

from location_summary_etl_spark.session import (
    broadcast_cap_bytes,
    source_bytes,
)


def fits(nbytes: int | None, *, cap_bytes: int) -> bool:
    """The raw compare every size gate reduces to: KNOWN bytes under
    ``cap_bytes``; unknown bytes (``None``) conservatively fail.
    Callers that already hold a byte count (or obtain it off-DataFrame,
    see :func:`path_fits`) use this directly; DataFrame lineages go
    through :func:`source_fits`."""
    return nbytes is not None and nbytes <= cap_bytes


def path_fits(path: str, *, cap_bytes: int) -> bool:
    """:func:`fits` over a filesystem path (file, or directory summed
    recursively) -- the gate for driver-side readers that decide
    BEFORE any table object exists (e.g. ``registry.compile_tiny_dim``
    must refuse to pyarrow-read an oversized file at all, not discover
    the overage after materializing it on the driver).  ``cap_bytes``
    is required: with no session in hand there is no conf to default
    from.  Unlistable paths fail conservatively, like unknown stats."""
    import os

    try:
        if os.path.isdir(path):
            b = sum(os.path.getsize(os.path.join(dp, fn))
                    for dp, _dns, fns in os.walk(path) for fn in fns)
        else:
            b = os.path.getsize(path)
    except OSError:
        return False
    return fits(b, cap_bytes=cap_bytes)


def source_fits(df, *, cap_bytes: int | None = None) -> bool:
    """True when the lineage's source bytes are KNOWN and stay under
    ``cap_bytes``, which defaults to the session's
    autoBroadcastJoinThreshold -- the repo-wide broadcast policy -- so
    tuning one session conf moves every gate coherently.

    Unknown stats (non-file source, unlistable path) return False:
    callers must arrange that False selects the plan that is safe at
    ANY size.  Same proxy caveat as ``session.source_bytes``: the
    estimate is the lineage's INPUT bytes, so callers must not pass
    expanding relations (explode, fan-out joins).
    """
    if cap_bytes is None:
        cap_bytes = broadcast_cap_bytes(df.sparkSession)
    return fits(source_bytes(df), cap_bytes=cap_bytes)
