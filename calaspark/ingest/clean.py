"""Distributed TSV clean + quarantine + typing (SURVEY.md §2.1 S3/S4,
§2.2 C1–C4 / T1–T3).

The reference's cleaner (`calaccess_raw/management/commands/
cleancalaccessrawfile.py §Command.handle`) streams a state-published
TSV line by line: repairs line endings, strips control characters,
quarantines rows whose tab-field count doesn't match the declared
schema (sidecar ``.errors.csv``), and re-writes a clean CSV. The
typing step happens at DB load time via per-field SQL templates
(`calaccess_raw/fields.py §*.copy_template`).

Here the same semantics are lazy DataFrame plans over one text scan:

- ``spark.read.text`` scans lines in parallel (splittable at 100 TB);
- cleaning is two ``regexp_replace`` projections (codegen);
- :func:`flag_lines` yields the ONE cleaned frame that carries each
  line's tab-field count (``_nf``); the good/quarantine split is a
  filter on that flag, so both sides derive from the same frame. No
  shuffle is involved. Each action on an unpersisted side re-scans
  the text, so a caller that writes both sides persists the flagged
  frame first (``orchestrator.update`` does: the good-row write is its
  only text scan, and the quarantine write reads the persisted frame);
- typing is a per-column expression from the declarative schema kind
  (``try_``-casts: invalid values become NULL, never a job failure —
  the reference's COPY templates behave the same);
- the sidecar is a normal DataFrame write.

Nothing here collects to the driver except the (schema-declared)
header literal.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..session import prepare

#: C4 — control characters to strip, EXCLUDING tab (the field
#: separator) and newline (the line terminator, already consumed by
#: the text reader). A stray mid-line ``\r`` (split CRLF) is included.
_CTRL_RE = r"[\x00-\x08\x0B-\x1F\x7F]"

#: C2 — encoding normalization: the reference decodes mixed-encoding
#: state files to clean UTF-8 (csvkit's in2csv step). Spark's text
#: scan is UTF-8; what survives of other encodings is BOMs and
#: Windows-1252 punctuation mapped into Unicode — normalize to ASCII
#: equivalents so downstream string semantics are stable.
_ENC_FROM = "‘’“”–— ﻿"
_ENC_TO = "''\"\"-- "  # positional map; BOM past the end → deleted


@dataclass(frozen=True)
class CleanResult:
    """Outcome of one clean pass (the reference's per-file log row).

    ``flagged`` is the cleaned non-header line frame with its
    tab-field count ``_nf``; ``good`` and ``quarantine`` are filters
    of it. ``body`` is the same lines BEFORE the good/quarantine split
    — the V1 verifier counts it independently, so ``|good| +
    |quarantine| == |body|`` is a real accounting check (not derivable
    from the other two counts).
    """

    good: DataFrame
    quarantine: DataFrame
    body: DataFrame
    flagged: DataFrame


def read_lines(spark: SparkSession, path: str) -> DataFrame:
    """S3: raw line scan. One splittable text scan, no parsing yet."""
    return prepare(spark).read.text(path)


def clean_line(col: str | Column = "value") -> Column:
    """C2 + C3 + C4: encoding normalization (BOM strip, Win-1252
    punctuation → ASCII), trailing-``\\r`` repair, control-char
    strip. Three codegen string ops, no Python."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.translate(c, _ENC_FROM, _ENC_TO)
    return F.regexp_replace(F.regexp_replace(c, r"\r$", ""), _CTRL_RE, "")


def _fields() -> Column:
    # limit=-1 keeps trailing empty fields — a row ending in tabs has
    # the right arity for the count check.
    return F.split("line", "\t", -1)


def flag_lines(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """The cleaned non-header lines of ``path`` as ``(line, _nf)``,
    ``_nf`` being each line's tab-field count (C1's flag).

    Header lines are recognized by exact match against the
    schema-declared header — the only driver-side literal; works
    across many input files.
    """
    header = "\t".join(columns)
    lines = read_lines(spark, path).select(clean_line("value").alias("line"))
    return lines.filter(F.col("line") != header).withColumn(
        "_nf", F.size(_fields())
    )


def split_flagged(flagged: DataFrame, columns: list[str]) -> CleanResult:
    """Split a :func:`flag_lines` frame into typed-ready good rows vs
    quarantine.

    A row is GOOD iff its tab-field count equals ``len(columns)``
    (the reference's csvkit field-count rule, C1). Quarantine rows
    keep the raw line plus diagnostics (field count, reason) — the
    ``.errors.csv`` sidecar twin.
    """
    n = len(columns)
    fields = _fields()
    good = flagged.filter(F.col("_nf") == n).select(
        *[fields.getItem(i).alias(c) for i, c in enumerate(columns)]
    )
    quarantine = flagged.filter(F.col("_nf") != n).select(
        F.col("line").alias("raw_line"),
        F.col("_nf").alias("n_fields"),
        F.lit(n).alias("n_expected"),
        F.concat(
            F.lit("field count "), F.col("_nf"), F.lit(" != "), F.lit(n)
        ).alias("reason"),
    )
    return CleanResult(
        good=good,
        quarantine=quarantine,
        body=flagged.select("line"),
        flagged=flagged,
    )


def split_clean(
    spark: SparkSession, path: str, columns: list[str]
) -> CleanResult:
    """Clean the lines of ``path`` and split them into typed-ready good
    rows vs quarantine (:func:`flag_lines` then :func:`split_flagged`)."""
    return split_flagged(flag_lines(spark, path, columns), columns)


# ---------------------------------------------------------------- typing


def _typed(col: str, kind: str) -> Column:
    """One T1–T3 expression per declarative kind (fields.py twin)."""
    s = F.nullif(F.trim(F.col(col)), F.lit(""))  # T1: empty→NULL
    if kind == "string":
        return s
    if kind in ("int", "long"):
        return s.try_cast(kind)
    if kind.startswith("decimal"):
        return s.try_cast(kind)
    if kind == "date_mdy":
        return F.try_to_timestamp(s, F.lit("M/d/yyyy")).cast("date")
    if kind == "ts_mdy12":
        return F.try_to_timestamp(s, F.lit("M/d/yyyy h:mm:ss a")).cast(
            "timestamp_ntz"
        )
    if kind == "yn":
        return (
            F.when(s == "Y", F.lit(1)).when(s == "N", F.lit(0)).cast("int")
        )
    raise ValueError(f"unknown schema kind {kind!r} for column {col!r}")


def type_table(
    df: DataFrame, schema: dict[str, str], table: str | None = None
) -> DataFrame:
    """Apply the schema's typing templates to an all-string table.

    Invalid values become NULL (``try_`` semantics) — load never
    fails mid-100-TB; data-quality accounting happens in
    :func:`coverage_stats`.

    If ``table`` names a registered table, every output column also
    carries its documentation metadata (help_text / kind / group —
    the reference's field help_text twin, SURVEY §1.1) in
    ``StructField.metadata``; parquet persists it, so downstream
    readers see the docs in ``df.schema``.
    """
    from .schemas import REGISTRY

    meta: dict[str, dict[str, str]] = {}
    if table is not None and table in REGISTRY:
        t = REGISTRY[table]
        meta = {
            c: {"help_text": cd.help, "kind": cd.kind, "group": t.group}
            for c, cd in t.columns.items()
        }
    return df.select(
        *[
            _typed(c, k).alias(c, metadata=meta.get(c))
            for c, k in schema.items()
        ]
    )


def coverage_stats(raw: DataFrame, typed: DataFrame, schema: dict[str, str]) -> DataFrame:
    """V2 twin: per-column raw-non-empty vs typed-non-null counts.

    One aggregate pass over each side (map-side partial agg); the
    difference per column = values nulled by typing (bad dates,
    unparseable numbers) — the reference's verify report shows the
    same per-file coverage.
    """
    cols = list(schema)
    raw_agg = raw.select(
        *[
            F.count(F.nullif(F.trim(F.col(c)), F.lit(""))).alias(c)
            for c in cols
        ]
    )
    typed_agg = typed.select(*[F.count(F.col(c)).alias(c) for c in cols])
    r = raw_agg.select(F.lit("raw_non_empty").alias("metric"), *cols)
    t = typed_agg.select(F.lit("typed_non_null").alias("metric"), *cols)
    return r.unionByName(t)
