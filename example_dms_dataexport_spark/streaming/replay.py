"""The exactly-once replay guard every foreachBatch sink shares.

A sink records the last batch it committed as (checkpoint lineage,
batch_id) in a meta sidecar, strictly after (or atomically with) the
data commit. A re-delivered batch — crash between that commit and the
streaming checkpoint advance — is then recognised with one JSON read
and skipped with zero data I/O.
"""

from __future__ import annotations

import os


def replayed(
    meta: dict, lineage: str, batch_id: int, ckpt_key: str, batch_key: str
) -> bool:
    """True when ``meta`` records that this stream already committed
    ``batch_id``: ``meta[ckpt_key]`` names the same checkpoint lineage
    (compared by realpath, so a fresh checkpoint — batch ids restart at
    0 — never matches a stale marker) and ``meta[batch_key]`` is at or
    past ``batch_id``."""
    stored, last = meta.get(ckpt_key), meta.get(batch_key)
    return (
        stored is not None
        and last is not None
        and os.path.realpath(stored) == lineage
        and batch_id <= last
    )
