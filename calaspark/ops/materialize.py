"""Lineage truncation with a reliable-storage upgrade path
(SURVEY.md §2.5 E24 adjunct; round-2 verdict "What's wrong" item 2).

Iterative plans (connected components) and reused intermediates (LSH
fingerprint tables) must cut lineage or the plan tree grows without
bound. ``localCheckpoint`` does that but stores blocks on executors:
on a real cluster an executor loss mid-iteration kills the job,
because the truncated lineage cannot be recomputed.

:func:`materialize` picks the robust variant automatically: if the
session has a RELIABLE checkpoint directory configured
(``sc.setCheckpointDir("hdfs://.../ckpt")`` — HDFS/S3 in production,
any shared path in tests), it uses ``DataFrame.checkpoint`` (blocks
written to that storage, survive executor loss); otherwise it falls
back to ``localCheckpoint`` (correct and fastest on local[...]).
Callers never branch — set the dir once at session build time and
every iterative operator upgrades.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate lineage: reliable ``checkpoint()`` when the session
    has a checkpoint dir, else ``localCheckpoint()``.

    Eager by default, and measured to stay that way (round-18 A/B,
    12 materialize-heavy ids via tools/floor_probe.py): deferring
    every checkpoint to its first consumer (``eager=False``) read
    42.2 s → 46.4 s build+exec — a plan whose SAME action consumes
    the un-persisted RDD twice (LSH band self-joins: both sides of
    the join scan the same to-be-checkpointed table, and their stages
    run concurrently before either persists a block) recomputes the
    upstream once per side, which costs far more than the dedicated
    build-time job the eager form pays (lsh_minhash_pairs alone went
    3.1 s → 6.0 s). The eager job is also what keeps multi-consumer
    reuse deterministic on a cluster.
    """
    try:
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - defensive vs API drift
        has_dir = False
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)

