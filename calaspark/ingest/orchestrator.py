"""Pipeline orchestrator — the `updatecalaccessrawdata.py
§Command.handle` twin (SURVEY.md §2.1 O1).

Drives clean → type → load → verify per raw file with manifest-backed
resumability: a re-run on unchanged inputs does no Spark work at all
(skip-unchanged), and a run killed mid-way resumes from the last
completed file.

Each file's work is independent, and on small files it is bound by
fixed per-job costs, not by the data: one file's ~5 jobs leave most
task slots idle. ``update`` therefore runs its files concurrently, on
a thread pool with one worker per task slot of the session
(``defaultParallelism``, capped at the number of files). The pool size
also bounds how many per-file persisted frames are held at once.
Workers inherit the calling thread's job properties, so every job of
an ``update`` lands in the caller's job group. A file's manifest
record is stamped with its source's size and mtime only when the file
starts; on the first failure no further file starts, the running ones
finish, and ``update`` re-raises the error of the earliest failing
file in discover order.

The reference's download/extract phases (S1/S2: HTTP zip → TSVs) are
I/O-side effects outside the engine proper; ``discover`` accepts any
local/posix directory of ``*.TSV`` the same way the reference's
extract step leaves them.
"""

from __future__ import annotations

import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor, wait
from pathlib import Path

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import Observation, SparkSession
from pyspark.util import inheritable_thread_target

from .clean import flag_lines, split_flagged, type_table
from .load import (
    archive_raw,
    verify_counts,
    write_parquet_wap,
    write_quarantine,
)
from .manifest import Manifest, now
from .schemas import SCHEMAS


def discover(raw_dir: str) -> dict[str, str]:
    """Map schema-known table name → TSV path found in ``raw_dir``."""
    out: dict[str, str] = {}
    for p in sorted(Path(raw_dir).glob("*.TSV")):
        name = p.stem
        if name in SCHEMAS:
            out[name] = str(p)
    return out


def _maybe_compact(
    spark: SparkSession, dest: str, threshold: int, target_bytes: int
) -> dict | None:
    """Post-load lake maintenance (S5/E24): when a freshly loaded
    table landed as ≥ ``threshold`` parquet files, rewrite it toward
    ``target_bytes``-sized files via ``ops.layout.compact_parquet``
    (to a sibling temp dir — the helper refuses in-place — then an
    atomic-enough local rename swap; object stores swap via a
    manifest/rename of their own). Returns the before/after stats
    dict for the manifest, or None when no compaction was needed."""
    import shutil

    from ..ops.layout import compact_parquet

    files = [p for p in Path(dest).rglob("*.parquet")]
    if len(files) < threshold:
        return None
    tmp = f"{dest}__compacting"
    if Path(tmp).exists():  # leftover from a killed run — rebuild it
        shutil.rmtree(tmp)
    stats = compact_parquet(spark, dest, tmp, target_file_bytes=target_bytes)
    shutil.rmtree(dest)
    Path(tmp).rename(dest)
    return stats


def _process_file(
    spark: SparkSession,
    man: Manifest,
    name: str,
    src: str,
    out: Path,
    keep_files: bool,
    compact_threshold: int | None,
    compact_target_bytes: int,
) -> None:
    """Clean, type, load and verify one raw file, then commit its
    manifest record (``loaded``, or ``failed`` before re-raising)."""
    rec = man.stamp_source(name, src)
    rec.extra["last_action"] = "processed"
    schema = SCHEMAS[name]
    cols = list(schema)
    flagged = None
    try:
        rec.clean_start, rec.status = now(), "pending"
        # One text scan per file: the cleaned, field-count-flagged
        # frame stays persisted for this file's life. The WAP write
        # of the typed good rows is the only action that reads the
        # TSV (and fills the cache); the quarantine sidecar is
        # written from the cache.
        flagged = flag_lines(spark, src, cols).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        pre = Observation()
        counted = flagged.observe(
            pre,
            F.count(F.lit(1)).alias("body"),
            F.count_if(F.col("_nf") != len(cols)).alias("bad"),
        )
        good = type_table(
            split_flagged(counted, cols).good, schema, table=name
        )
        dest = str(out / name)
        # Write-audit-publish (load.write_parquet_wap): the full
        # table lands in a stage dir with the V1 count observed
        # DURING the write; an independent stage read-back audits
        # what landed; only then do atomic renames publish —
        # readers never see a torn table and a failed load leaves
        # the previously published version intact (the
        # reference's transactional-COPY semantics).
        wap = write_parquet_wap(spark, good, dest)
        # The staged write cleaned, typed and wrote in one pass;
        # what follows it (audit, publish, sidecar) is the load
        # phase — see FileRecord for what each timestamp marks.
        rec.clean_finish = rec.load_start = (
            now() - wap["audit_s"] - wap["publish_s"]
        )
        rec.status = "cleaned"
        counts = pre.get
        q_s = 0.0
        if counts["bad"]:
            t = time.perf_counter()
            rec.error_count = write_quarantine(
                split_flagged(flagged, cols).quarantine,
                str(out / f"{name}.errors"),
            )
            q_s = time.perf_counter() - t
        else:
            rec.error_count = 0
        if keep_files:
            rec.extra["archive"] = archive_raw(src, str(out / "archive"))
        rec.extra["phases"] = {
            "wap_write_s": wap["write_s"],
            "wap_audit_s": wap["audit_s"],
            "wap_publish_s": wap["publish_s"],
            "quarantine_write_s": q_s,
        }
        # V1 accounting: three counts, each measured at its own
        # plan node, so good + quarantined == body is a real gate,
        # not an identity of derived numbers:
        # - body: the `pre` CollectMetrics node right above the
        #   InMemoryTableScan of the persisted frame, below the
        #   `_nf == n` Filter, in the WAP write's plan;
        # - good: write_parquet_observed's CollectMetrics node
        #   above the typed Project of that Filter (clean_count),
        #   and the WAP audit's own parquet scan of the stage dir
        #   (load_count);
        # - quarantined: write_quarantine's CollectMetrics node
        #   above the `_nf != n` Filter over the InMemoryTableScan,
        #   in the sidecar write's own job.
        # `pre`'s bad count only decides whether a sidecar is
        # written at all.
        rec.n_body_lines = counts["body"]
        rec.clean_count = wap["observed"]
        rec.load_count = wap["audited"]
        rec.load_finish = now()
        v = verify_counts(rec.n_body_lines, rec.clean_count, rec.error_count)
        if not v["accounted"]:
            raise RuntimeError(f"count mismatch for {name}: {v}")
        # Belt-and-braces only: write_parquet_wap already RAISES on
        # any observed/audited mismatch (the audit is a pre-publish
        # read-back of the stage dir), so the two counts it returns
        # are equal by construction on every non-raising path.
        # An explicit raise, not `assert` — asserts vanish under
        # `python -O`, and this backstop must survive even if the
        # WAP-internal invariant is ever weakened (round-12
        # advice). Both counts are already computed: no extra job.
        if rec.load_count != rec.clean_count:
            raise RuntimeError(
                f"write loss for {name}: observed {rec.clean_count} "
                f"written, {rec.load_count} audited"
            )
        if compact_threshold is not None:
            stats = _maybe_compact(
                spark, dest, compact_threshold, compact_target_bytes
            )
            if stats is not None:
                if stats["rows"] != rec.load_count:
                    raise RuntimeError(
                        f"compaction row drift for {name}: "
                        f"{stats['rows']} != {rec.load_count}"
                    )
                rec.extra["compaction"] = stats
        rec.status = "loaded"
    except Exception as e:
        rec.status = "failed"
        rec.extra["error"] = repr(e)
        raise
    finally:
        if flagged is not None:
            flagged.unpersist()
        man.commit(rec)



def _inheriting(spark: SparkSession, fn):
    """``fn`` wrapped to run with a copy of the calling thread's job
    properties (job group included), taken now. Wrap once per file on
    the calling thread: a copy shared by two files would let one
    file's SQL execution id leak into the other's jobs. With PySpark's
    pinned thread mode off, ``inheritable_thread_target`` hands the
    session back instead of a wrapper, and ``fn`` runs as it is."""
    wrap = inheritable_thread_target(spark)
    return fn if wrap is spark else wrap(fn)


def update(
    spark: SparkSession,
    raw_dir: str,
    out_dir: str,
    manifest_path: str | None = None,
    force: bool = False,
    keep_files: bool = False,
    compact_threshold: int | None = 8,
    compact_target_bytes: int = 128 << 20,
) -> Manifest:
    """Run the full pipeline over every known TSV in ``raw_dir``.

    Idempotent: files whose size+mtime match a previously *loaded*
    manifest entry are skipped (``force=True`` overrides); that
    decision is made up front, in discover order.
    ``keep_files`` archives each raw TSV as gzip (the reference's
    --keep-files flag, S6). Returns the saved manifest, its ``files``
    in discover order.

    The files to process run concurrently on
    ``min(n_files, defaultParallelism)`` threads, which inherit the
    caller's job group and other job properties. A file's record is
    stamped with its source's size and mtime only when the file starts,
    and committed to the manifest (saved) when it ends ``loaded`` or
    ``failed``. The first failure starts no further file: a file that
    never started keeps its prior record exactly, so the next run
    processes it again. Files already running finish, and every
    published table stays whole (write-audit-publish). ``update`` then
    re-raises the error of the earliest failing file in discover order
    and skips the manifest table.

    ``compact_threshold``: when a loaded table lands as at least this
    many parquet files, a post-load compaction pass collapses it
    toward ``compact_target_bytes``-sized files and records the
    before/after stats under the table's manifest ``extra``
    ("compaction"); pass None to disable.
    """
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    man = Manifest(manifest_path or out / "manifest.json")

    found = discover(raw_dir)
    todo = []
    for name, src in found.items():
        if not force and man.is_current(name, src):
            man.record(name).extra["last_action"] = "skipped_unchanged"
        else:
            todo.append((name, src))

    stop = threading.Event()

    def run(name: str, src: str) -> None:
        if stop.is_set():
            return  # never started: the record stays as it was
        try:
            _process_file(
                spark, man, name, src, out,
                keep_files, compact_threshold, compact_target_bytes,
            )
        except BaseException:
            stop.set()
            raise

    futures = []
    if todo:
        slots = spark.sparkContext.defaultParallelism
        with ThreadPoolExecutor(min(len(todo), slots)) as pool:
            try:
                futures = [
                    pool.submit(_inheriting(spark, run), *t) for t in todo
                ]
                wait(futures)
            finally:
                stop.set()  # an interrupt here starts no further file
    # discover order first, then records of files no longer in raw_dir
    order = [n for n in found if n in man.files]
    man.files = {**{n: man.files[n] for n in order}, **man.files}
    for fut in futures:
        if (err := fut.exception()) is not None:
            raise err

    man.version_meta["last_update_finish"] = now()
    man.version_meta["raw_dir"] = os.fspath(raw_dir)
    man.save()
    # lake-table twin of the JSON manifest (SURVEY §1.1): idempotent
    # upsert-by-file_name so concurrent runs over disjoint inputs
    # coexist; the V2 report reads from here in table deployments
    man.write_table(spark, str(out / "_manifest"))
    return man
