"""Distributed exact rank — the scale-safe substitute for a
``Window.partitionBy(group).orderBy(value)`` rank when the group key
has LOW cardinality (or none at all, for a global rank).

A plain window rank hash-partitions on the group key alone, so a
3-value key pins the whole sort to 3 tasks at ANY scale — the same
query that looks fine at sf0.1 serializes 33 TB per task at 100 TB.
This operator decomposes the rank instead:

    global rank(v) = bucket_offset(bucket(v)) + rank within bucket

where ``bucket(v) = floor(v / width)`` is an ORDER-PRESERVING integer
division. The within-bucket window partitions by (group, bucket) —
hundreds/thousands of parallel sort partitions — and the offsets come
from a bucket-grain count prefix (domain-constant rows, broadcast
back). Tie blocks never cross a bucket (equal values share a bucket),
so tie-averaged ranks stay exact.

The emitted column is the DOUBLED tie-averaged rank
``r2 = 2·rank_min + ties − 1`` (an exact BIGINT — q145's
Mann-Whitney identity): fractional .5 mid-ranks stay integer, and
the doubling cancels in every downstream ratio (Spearman,
Kruskal-Wallis, rank-sum tests).

Reference anchor: the reference exposes ordered querysets over
versioned filings (SURVEY.md §2.4); this is the §2.5 E13 ranking
primitive those semantics need at warehouse scale. Same proof
pattern as ops/islands.py (bucket + stitch ≡ the single-window
idiom): q166/q175's oracles ARE plain window ranks, so the driver
hash proves the decomposition exact.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..memo import session_memo


def _input_files_hash(df: DataFrame) -> int | None:
    """Hash of the plan's sorted input file paths — changes on any
    same-path rewrite (Spark part-file names embed a fresh job UUID).
    Non-file plans hash the empty list. Returns ``None`` on any
    metadata failure: the caller must then SKIP memoization entirely
    (round-13 advice — the previous ``id(df)`` fallback was still
    inserted into the memo, and CPython recycles ids after GC, so two
    distinct frames could collide on a stale verdict)."""
    try:
        return hash(tuple(sorted(df.inputFiles())))
    except Exception:  # pragma: no cover - defensive vs API drift
        return None


def with_rank2(
    df: DataFrame,
    value_col: str,
    *,
    group_cols: list[str] | None = None,
    bucket_width: int = 65536,
    out_col: str | None = None,
    broadcast_limit: int = 1_000_000,
) -> DataFrame:
    """Add ``out_col`` (default ``r2_<value_col>``): the doubled
    tie-averaged rank of ``value_col`` within ``group_cols`` (global
    rank when empty).

    ``value_col`` must be integral (cast money to cents first —
    order- and tie-preserving for 2-decimal-clean values) and
    NON-NULL: a NULL value has no order-preserving bucket
    (``floor(NULL/width)`` is NULL) and its row would vanish in the
    offset equi-join — filter or impute NULLs BEFORE ranking; a
    caller that needs NULLS FIRST semantics should rank the non-null
    subset and union the NULL rows back with rank offsets.
    ``bucket_width`` trades offset-table size (value_range / width
    rows per group) against within-bucket sort size; both ends are
    safe, only parallelism shifts. rank() is promoted to long before
    the doubling (an int32 2·rank wraps past ~1.07e9 rows/bucket).

    The offset table is ``groups × value_range/bucket_width`` rows —
    domain-constant for cents-scale money/quantity columns, but
    data-sized for a wide-domain integral column (a 64-bit hash at
    the default width yields ~2.8e14 buckets). A forced broadcast of
    that would OOM the driver, so the broadcast is GUARDED: the
    bucket-grain row count is measured first (one cheap plan-time
    job, same pattern as ops/lsh.bitmask_encode's vocabulary probe)
    and past ``broadcast_limit`` rows the hint is dropped — the
    equi-join then plans as a normal shuffle join (AQE may still
    elect a broadcast if the measured bytes allow). Semantics are
    identical either way; only the join strategy changes.
    """
    gcols = list(group_cols or [])
    name = out_col or f"r2_{value_col}"
    rows = df.withColumn(
        "_rk_b", F.floor(F.col(value_col) / F.lit(bucket_width))
    )
    off = rows.groupBy(*gcols, "_rk_b").agg(F.count(F.lit(1)).alias("_rk_c"))
    # Plan-time size probe on the bucket-grain agg (pre-window, so the
    # probe job is a partial-agg count, not a sorted prefix scan).
    # The verdict is model state of the canonical plan: keyed on the
    # plan's input files and semanticHash, a (vanishingly unlikely)
    # hash collision only flips a JOIN-STRATEGY hint, never semantics.
    def probe() -> bool:
        return off.limit(broadcast_limit + 1).count() <= broadcast_limit

    files_h = _input_files_hash(df)
    off_small = (
        probe()
        if files_h is None
        else session_memo(
            df.sparkSession,
            "rank.broadcast_probe",
            (files_h, off.semanticHash(), broadcast_limit),
            probe,
        )
    )
    wb = (
        Window.partitionBy(*gcols)
        .orderBy("_rk_b")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    off = off.select(
        *gcols,
        "_rk_b",
        (F.sum("_rk_c").over(wb) - F.col("_rk_c")).alias("_rk_pb"),
    )
    w_in = Window.partitionBy(*gcols, "_rk_b").orderBy(value_col)
    w_tie = Window.partitionBy(*gcols, "_rk_b", value_col)
    # Broadcast only a provably small offset table; otherwise let the
    # optimizer (incl. AQE) pick the join strategy.
    off_side = F.broadcast(off) if off_small else off
    return (
        rows.join(off_side, gcols + ["_rk_b"])
        .withColumn(
            name,
            2 * (F.col("_rk_pb") + F.rank().over(w_in).cast("long"))
            + F.count(F.lit(1)).over(w_tie)
            - 1,
        )
        .drop("_rk_b", "_rk_pb")
    )
