"""Run manifest — the `calaccess_raw/models/tracking.py
§RawDataVersion / §RawDataFile` twin (SURVEY.md §2.3 V1/V2, §2.1 O1).

The reference tracks, per downloaded version and per file: byte
sizes, row counts at each phase (download/clean/load), phase
timestamps, and error counts — this is what makes its update command
resumable and idempotent (`updatecalaccessrawdata.py §Command.handle`
skips work already done).

Storage: one JSON file (atomic tmp+rename; a killed run never
corrupts it) PLUS a parquet lake table (:meth:`Manifest.write_table`)
— the SURVEY §1.1 mapping of RawDataVersion/RawDataFile to "a small
manifest Delta/Parquet table". The table is written per-file-
partitioned with DYNAMIC partition overwrite, so each write is an
idempotent upsert of exactly the file keys present in this run:
multi-writer runs over disjoint inputs do not clobber each other,
and re-processing one input replaces only its own partition. The V2
coverage report reads from either form.

Manifest rows are per-INPUT-FILE metadata (thousands of entries even
at 100 TB of data), so the driver-side JSON stays cheap; the lake
table is the multi-writer / SQL-queryable source of truth.
"""

from __future__ import annotations

import copy
import json
import os
import threading
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class FileRecord:
    """RawDataFile twin: one raw input file's lifecycle.

    Clean and load share one pass: the staged write of the typed good
    rows is the only scan of the raw TSV, and it cleans, types and
    writes in the same tasks. The phase timestamps (epoch seconds)
    mark:

    - ``clean_start``: the file's processing begins;
    - ``clean_finish``: that fused scan-clean-write has ended — the
      raw TSV is not read again;
    - ``load_start``: equal to ``clean_finish``; the load phase is
      what follows the scan: the write-audit-publish read-back and
      renames, and the quarantine sidecar written from the persisted
      cleaned frame;
    - ``load_finish``: the sidecar is written and every count is in,
      just before the V1 check.

    ``extra["phases"]`` holds the seconds of each step: ``wap_write_s``,
    ``wap_audit_s``, ``wap_publish_s`` and ``quarantine_write_s`` (0
    when no row was quarantined).
    """

    file_name: str
    size_bytes: int = 0
    mtime_ns: int = 0
    n_body_lines: int = 0
    clean_count: int = 0
    error_count: int = 0
    load_count: int = 0
    clean_start: float | None = None
    clean_finish: float | None = None
    load_start: float | None = None
    load_finish: float | None = None
    status: str = "pending"  # pending | cleaned | loaded | failed
    extra: dict = field(default_factory=dict)


class Manifest:
    """RawDataVersion twin: a keyed collection of FileRecords.

    Safe to share between threads that each process their own files:
    a worker edits a private record from :meth:`stamp_source` and
    publishes it with :meth:`commit`, so :meth:`save` never reads a
    record that another thread is changing.
    """

    def __init__(self, path: str | os.PathLike):
        self.path = Path(path)
        self.files: dict[str, FileRecord] = {}
        self.version_meta: dict = {}
        self._lock = threading.Lock()
        if self.path.exists():
            raw = json.loads(self.path.read_text())
            self.version_meta = raw.get("version", {})
            self.files = {
                k: FileRecord(**v) for k, v in raw.get("files", {}).items()
            }

    def save(self) -> None:
        with self._lock:
            self._write()

    def _write(self) -> None:
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(
            json.dumps(
                {
                    "version": self.version_meta,
                    "files": {k: asdict(v) for k, v in self.files.items()},
                },
                indent=1,
                sort_keys=True,
            )
        )
        os.replace(tmp, self.path)

    def record(self, file_name: str) -> FileRecord:
        if file_name not in self.files:
            self.files[file_name] = FileRecord(file_name=file_name)
        return self.files[file_name]

    def is_current(self, file_name: str, src_path: str) -> bool:
        """Skip-unchanged rule: same size + mtime and fully loaded."""
        rec = self.files.get(file_name)
        if rec is None or rec.status != "loaded":
            return False
        st = os.stat(src_path)
        return rec.size_bytes == st.st_size and rec.mtime_ns == st.st_mtime_ns

    def stamp_source(self, file_name: str, src_path: str) -> FileRecord:
        """A private copy of ``file_name``'s record (a new one if it has
        none), stamped with ``src_path``'s size and mtime. The manifest
        keeps its prior record until :meth:`commit`."""
        st = os.stat(src_path)
        with self._lock:
            prior = self.files.get(file_name)
            rec = copy.deepcopy(prior) if prior else FileRecord(file_name)
        rec.size_bytes, rec.mtime_ns = st.st_size, st.st_mtime_ns
        return rec

    def commit(self, rec: FileRecord) -> None:
        """Store a copy of ``rec`` as its file's record and save."""
        with self._lock:
            self.files[rec.file_name] = copy.deepcopy(rec)
            self._write()

    # ---------------------------------------------- lake table form

    #: row schema of the manifest lake table (RawDataFile columns)
    TABLE_SCHEMA = (
        "file_name string, status string, size_bytes long, mtime_ns long, "
        "n_body_lines long, clean_count long, error_count long, "
        "load_count long, clean_start double, clean_finish double, "
        "load_start double, load_finish double"
    )

    def rows_df(self, spark: SparkSession) -> DataFrame:
        """Current FileRecords as a DataFrame in TABLE_SCHEMA shape."""
        rows = [
            (
                r.file_name,
                r.status,
                r.size_bytes,
                r.mtime_ns,
                r.n_body_lines,
                r.clean_count,
                r.error_count,
                r.load_count,
                r.clean_start,
                r.clean_finish,
                r.load_start,
                r.load_finish,
            )
            for r in self.files.values()
        ]
        return spark.createDataFrame(rows, self.TABLE_SCHEMA)

    def write_table(self, spark: SparkSession, path: str) -> None:
        """Upsert this manifest's rows into the parquet manifest table.

        partitionBy(file_name) + dynamic partition overwrite = an
        idempotent MERGE-by-key: only the file partitions present in
        ``self.files`` are replaced; rows written by other runs for
        other files survive. (file_name is per-input-file cardinality
        — thousands of partitions at most, the documented sweet spot
        for key-partitioned small tables.)
        """
        (
            self.rows_df(spark)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("file_name")
            .parquet(path)
        )

    # -------------------------------------------------- reporting (V2)

    @staticmethod
    def _with_report_cols(df: DataFrame) -> DataFrame:
        import pyspark.sql.functions as F

        return df.select(
            "file_name",
            "status",
            "size_bytes",
            "n_body_lines",
            "clean_count",
            "error_count",
            "load_count",
            F.when(F.col("n_body_lines") > 0,
                   F.col("error_count").cast("double") / F.col("n_body_lines"))
            .otherwise(F.lit(0.0))
            .alias("error_pct"),
        )

    def report_df(self, spark: SparkSession) -> DataFrame:
        """Coverage report as a DataFrame (groupBy-able at any size)."""
        return self._with_report_cols(self.rows_df(spark))

    @classmethod
    def report_from_table(cls, spark: SparkSession, path: str) -> DataFrame:
        """V2 report read from the parquet manifest table — the form a
        multi-writer deployment queries (no JSON file needed)."""
        return cls._with_report_cols(spark.read.parquet(path))


def now() -> float:
    return time.time()
