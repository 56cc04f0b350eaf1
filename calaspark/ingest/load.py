"""Load + verify sinks (SURVEY.md §2.1 S4/S5/S6, §2.3 V1).

The reference bulk-loads clean CSVs into PostgreSQL/MySQL
(`calaccess_raw/management/commands/loadcalaccessrawfile.py
§Command.handle`) and verifies the loaded row count against the
cleaned file. The Spark-native sink is partitioned parquet in a lake
layout; the clean-CSV sink is kept for byte-level parity with the
reference's artifact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """S5 twin: columnar load. ``partition_by`` (E24) gives
    partition-pruned reads downstream (e.g. by FORM_TYPE or load
    date); at 100 TB choose low-cardinality columns only."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def _observe_rows(df: DataFrame):
    """``df`` with a row-count metric attached, plus the Observation
    that holds the count once an action on it ran."""
    import pyspark.sql.functions as F
    from pyspark.sql import Observation

    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("n_rows")), obs


def write_parquet_observed(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> int:
    """S5 + V1 in ONE pass: attach an observable metric
    (``df.observe`` — executor-side accumulators, exactly-once per
    task in batch mode) to the load so the written-row count is
    measured DURING the write instead of by a separate count job.
    At 100 TB that removes a full extra scan per table; the read-back
    count in the orchestrator stays as the INDEPENDENT check of what
    actually landed (the reference's `model.objects.count()`
    semantics, `verifycalaccessrawfile.py §Command.handle`), so the
    two numbers cross-check write-path loss.

    Returns the observed row count.
    """
    observed, obs = _observe_rows(df)
    w = observed.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    return int(obs.get["n_rows"])


def write_parquet_wap(
    spark,
    df: DataFrame,
    dest: str,
    partition_by: list[str] | None = None,
) -> dict[str, int | float]:
    """S5 with a WRITE-AUDIT-PUBLISH commit protocol (round-10 verdict
    item 4): the reference's per-table load is transactional (Postgres
    COPY inside a transaction, `loadcalaccessrawfile.py
    §Command.handle` — a failed load leaves the old table intact); a
    plain ``mode("overwrite")`` parquet write is NOT (it deletes the
    old data first, so a killed job leaves a torn, half-written
    directory that readers can see). This sink restores the
    transactional contract for the lake:

    1. WRITE   — the full dataset lands in a sibling stage dir
                 (``dest__stage``), observed-counted during the write;
    2. AUDIT   — an independent parquet read-back of the stage counts
                 what actually landed; mismatch aborts and removes the
                 stage, leaving the published table untouched;
    3. PUBLISH — atomic directory renames swap the stage in (old dir
                 retired then removed). Readers therefore only ever
                 see the COMPLETE old version or the COMPLETE new one.

    Crash-safety by window (the partial-failure test walks these):
    pre-publish crash → old table still published, stale stage is
    removed on the next run; crash between the two renames → the
    table is briefly absent (never torn — the lake view layer skips
    dirs without ``_SUCCESS``) and the next run FIRST RESTORES the
    retired dir to ``dest`` (at that instant it holds the only
    complete copy — deleting it before the new publish succeeds
    would let a second failure lose the table permanently), then
    retries; post-publish crash → only the retired dir lingers,
    and because ``dest`` exists it is swept, not restored.

    At 100 TB the renames are per-table metadata operations (HDFS
    rename is atomic; on S3-style stores the same protocol runs
    against a table format's manifest swap — Iceberg/Delta commit —
    with identical semantics). Returns ``{"observed": n, "audited":
    n}`` plus each phase's wall seconds: ``write_s`` (stale-dir
    recovery and the staged write — the write runs the input's whole
    plan, so it includes any scan and transform upstream of ``df``),
    ``audit_s`` and ``publish_s``.
    """
    import shutil
    import time
    from pathlib import Path

    t0 = time.perf_counter()
    stage, retired = f"{dest}__stage", f"{dest}__retired"
    # Recovery from a previously killed run, in dependency order:
    # a crash BETWEEN the publish renames leaves dest absent and
    # retired holding the ONLY complete copy — restore it (rename
    # back) before anything is deleted, so the "failed load leaves
    # the previous version intact" contract survives a second
    # failure in this run. Only then sweep true leftovers.
    if Path(retired).exists() and not Path(dest).exists():
        Path(retired).rename(dest)
    for leftover in (stage, retired):  # from a previously killed run
        if Path(leftover).exists():
            shutil.rmtree(leftover)
    observed = write_parquet_observed(df, stage, partition_by)
    t1 = time.perf_counter()
    audited = spark.read.parquet(stage).count()
    t2 = time.perf_counter()
    if audited != observed:
        shutil.rmtree(stage)
        raise RuntimeError(
            f"WAP audit failed for {dest}: observed {observed} written, "
            f"{audited} read back from stage — stage discarded, "
            "published table untouched"
        )
    if Path(dest).exists():
        Path(dest).rename(retired)
    Path(stage).rename(dest)
    # Remove the retired copy only AFTER the new version is fully
    # published (the rename above) — never while it is the sole copy.
    if Path(retired).exists():
        shutil.rmtree(retired)
    return {
        "observed": observed,
        "audited": audited,
        "write_s": t1 - t0,
        "audit_s": t2 - t1,
        "publish_s": time.perf_counter() - t2,
    }


def write_clean_csv(df: DataFrame, path: str) -> None:
    """S4 twin: the reference's cleaned-CSV artifact (RFC-4180
    quoting, header). Distributed writer — one file per task."""
    (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "false")
        .option("escape", '"')
        .csv(path)
    )


def write_quarantine(df: DataFrame, path: str) -> int:
    """The ``.errors.csv`` sidecar twin. Returns the row count observed
    during the write (as :func:`write_parquet_observed` does), so V1
    counts what the sidecar received."""
    observed, obs = _observe_rows(df)
    observed.write.mode("overwrite").option("header", "true").csv(path)
    return int(obs.get["n_rows"])


def verify_counts(
    n_lines_body: int, n_good: int, n_quarantine: int
) -> dict[str, int | bool]:
    """V1: cleaned + quarantined must account for every body line."""
    return {
        "n_body_lines": n_lines_body,
        "n_good": n_good,
        "n_quarantine": n_quarantine,
        "accounted": n_good + n_quarantine == n_lines_body,
    }


def archive_raw(src_path: str, out_dir: str) -> str:
    """S6 twin: gzip the original raw file into ``out_dir`` (the
    reference's --keep-files archive of state-published TSVs).
    Streaming driver-side I/O — one archive per input file, bounded
    memory."""
    import gzip
    import shutil
    from pathlib import Path

    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    dest = out / (Path(src_path).name + ".gz")
    with open(src_path, "rb") as fin, gzip.open(dest, "wb") as fout:
        shutil.copyfileobj(fin, fout, 1 << 20)
    return str(dest)


def read_clean_csv(spark, path: str, columns: list[str]):
    """Read an S4 clean-CSV artifact back as the all-string frame the
    typing layer consumes — the `loadcalaccessrawfile` reload path
    (the reference re-loads its cleaned CSVs into tables at any
    time; this is that entry point for the lake). Schema is declared
    from the registry column order (never inferred — inference scans
    the data twice and can flip types between releases); typing then
    happens through the same `clean.type_table` templates as the
    direct path, so both routes produce byte-identical tables.
    """
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType([StructField(c, StringType(), True) for c in columns])
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("escape", '"')
        .csv(path)
    )
