"""Table loading — the engine's source layer (SURVEY.md §2.1 S7).

The reference declares a fixed, code-declared schema per table
(`calaccess_raw/models/base.py §CalAccessBaseModel`,
`calaccess_raw/fields.py`); here the testdata tables come with
parquet footers, so "fixed schema" means: we verify what we read and
normalize the one parquet type Spark cannot ingest natively
(TIMESTAMP(NANOS) → int64 ns → µs-truncated TIMESTAMP_NTZ, matching
DuckDB's own ns→µs truncation bit for bit).

100 TB notes: `spark.read.parquet` gives vectorized columnar scans
with predicate pushdown and column pruning for free; the µs
normalization is a single projection, stays inside whole-stage
codegen, and does not break pushdown on the other columns.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from .session import prepare

#: tables whose parquet stores TIMESTAMP(NANOS) — read as int64 ns
#: (spark.sql.legacy.parquet.nanosAsLong) and truncated to µs NTZ.
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _stat_key(path: str) -> tuple:
    """Freshness key of a source path, for the session plan memo here
    and for calaspark.memo.

    Single-file tables change (mtime_ns, size, ino) on rewrite;
    directory tables change the dir mtime on any file create/delete/
    rename (a parquet commit does both). An in-place edit of a file
    INSIDE an unchanged directory is not detected — Spark's own
    committers never do that. A missing path memoizes as absent so
    the read error stays the reader's, not the memo's.
    """
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def table_path(sf_dir: str, name: str) -> str:
    """Parquet path of testdata table ``name`` under ``sf_dir``."""
    return f"{sf_dir}/{name}.parquet"


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table, normalizing nanosecond timestamps.

    `ts div 1000` is integer division (truncation toward zero; all
    epochs here are positive) — identical to DuckDB's ns→µs read
    behavior, which the correctness oracle observes.

    SESSION PLAN MEMO (optimization round, guide §6 file-listing
    cache / §5.3 driver work): re-resolving the same parquet path
    (`spark.read.parquet`) costs ~0.15 s of driver wall PER CALL —
    Hadoop path resolution, file listing and footer schema read are
    not cached for path-based reads the way catalog tables cache
    their file index. The registry makes ~273 load_table calls per
    full pass, every one re-paying that, so the resolved DataFrame
    (a lazy PLAN — no rows, no results; every action still scans the
    parquet) is memoized per session keyed on (path, file stat).
    The stat key drops the memo when the file changes; the memo dict
    lives on the session object, so it dies with the session and
    never crosses sessions. At cluster scale the win is larger, not
    smaller: resolution there lists thousands of files per table.
    DataFrames are immutable, so handing the same plan object to
    every consumer is safe; branches that self-join go through
    aliases or string keys exactly as they already did when sharing
    one load_table result within a query.
    """
    prepare(spark)
    path = table_path(sf_dir, name)
    memo = getattr(spark, "_calaspark_table_memo", None)
    if memo is None:
        memo = {}
        spark._calaspark_table_memo = memo
    key = (path, _stat_key(path))
    df = memo.get(key)
    if df is not None:
        return df
    df = spark.read.parquet(path)
    for col in _NANOS_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(col) == "bigint":
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"{col} div 1000")).cast("timestamp_ntz"),
            )
    memo[key] = df
    return df


def spread(df: DataFrame) -> DataFrame:
    """Round-robin rebalance to full parallelism BEFORE a CPU-heavy
    per-row projection (tokenize/shingle/hash-fold).

    Why: a single parquet file scans as ONE input split, so every
    expression above it runs on one core. At cluster scale the same
    hazard appears whenever upstream produced few/large files. The
    fix is one cheap shuffle of the *raw* rows (narrow columns, no
    computed state) so the expensive projection — which costs orders
    of magnitude more CPU than the row transfer — runs on every core.
    Downstream lineage branches (LSH builds signatures AND verify
    sides from the same input) each recompute through this exchange,
    staying parallel without caching the corpus.
    """
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> list[str]:
    """Expose the source tables as temp views so the WHOLE surface is
    queryable in plain ``spark.sql`` — the reference's consumers
    query their loaded tables in SQL (SURVEY.md §2.4: the reference
    delegates querying to SQL users), and DataFrame code and SQL
    compile to the same Catalyst plan, so nothing here is a second
    engine path. Returns the registered view names.
    """
    from . import TABLES

    out = []
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
        out.append(name)
    return out


def register_lake_views(spark: SparkSession, lake_dir: str) -> list[str]:
    """Register every ingested CAL-ACCESS parquet table under
    ``lake_dir`` (the orchestrator's output layout:
    ``{lake_dir}/{TABLE_NAME}``) as a temp view named after the
    table (lowercased, e.g. ``rcpt_cd``) for direct SQL access.
    Directories without a parquet ``_SUCCESS`` marker are skipped —
    half-written loads never become queryable views.
    """
    from pathlib import Path

    prepare(spark)
    out = []
    for d in sorted(Path(lake_dir).iterdir() if Path(lake_dir).exists() else []):
        if d.is_dir() and (d / "_SUCCESS").exists():
            view = d.name.lower()
            spark.read.parquet(str(d)).createOrReplaceTempView(view)
            out.append(view)
    return out
