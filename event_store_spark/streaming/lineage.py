"""Checkpoint-lineage identity shared by Replicator and Subscription.

Spark streaming batch ids are only comparable within ONE checkpoint's
lifetime: if the checkpoint directory is lost, ids restart at 0 while the
file source relists every file. Any idempotence gate of the form
``batch_id <= stored_batch_id`` therefore needs to know WHICH checkpoint
produced the stored id — otherwise the whole relisted backlog (including
never-processed events) can land in a "stale" batch 0 and be silently
skipped. The marker lives INSIDE the checkpoint dir so it dies with it.

(The reference never faces this: its progress cursor lives in one Kafka
transaction with the data, `EventReplicatorWorker.java:184-208`.)
"""

from __future__ import annotations

import os


def checkpoint_lineage_id(ckpt_dir: str) -> str:
    """Return the lineage id for a checkpoint dir, minting one if absent.

    The mint is ATOMIC (`core.state.atomic_write`) and an empty marker is
    treated as absent: a plain truncate-then-write could be killed mid-way,
    leaving an existing empty marker that would be returned as lineage ''
    forever — and two checkpoints sharing lineage '' makes their batch ids
    wrongly comparable, re-opening the silent-skip hole this module exists
    to close.
    """
    os.makedirs(ckpt_dir, exist_ok=True)
    marker = os.path.join(ckpt_dir, "_esp_lineage")
    try:
        with open(marker) as f:
            existing = f.read().strip()
        if existing:
            return existing
    except FileNotFoundError:
        pass
    import uuid

    from event_store_spark.core.state import atomic_write

    ckpt_id = uuid.uuid4().hex
    atomic_write(marker, ckpt_id)
    # a concurrent minter may have won the replace race — the file's
    # content, not our local value, is the lineage
    with open(marker) as f:
        return f.read().strip() or ckpt_id
