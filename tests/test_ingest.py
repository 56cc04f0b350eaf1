"""Dirty-fixture pipeline tests (SURVEY.md §5.2): clean/quarantine
accounting, typing semantics, coverage report, orchestrator
resumability — the reference's end-to-end test strategy
(`calaccess_raw/tests §test_commands`) re-expressed over the
FIXTURES.md §2 pathologies."""

from __future__ import annotations

import datetime
import decimal
import os

import pyspark.sql.functions as F

from calaspark.ingest import (
    Manifest,
    coverage_stats,
    split_clean,
    type_table,
    update,
    verify_counts,
)
from calaspark.ingest.schemas import RCPT_CD


def test_split_accounts_for_every_line(spark, dirty_tsv):
    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    n_good, n_bad = res.good.count(), res.quarantine.count()
    assert n_good == dirty_tsv["n_good"]
    assert n_bad == dirty_tsv["n_bad"]
    v = verify_counts(dirty_tsv["n_good"] + dirty_tsv["n_bad"], n_good, n_bad)
    assert v["accounted"]


def test_quarantine_diagnostics(spark, dirty_tsv):
    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    rows = {r["n_fields"]: r for r in res.quarantine.collect()}
    assert set(rows) == {3, len(RCPT_CD) + 1}
    assert all(r["n_expected"] == len(RCPT_CD) for r in rows.values())
    assert "field count 3 !=" in rows[3]["reason"]


def test_cleaning_repairs_crlf_and_control_chars(spark, dirty_tsv):
    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    good = {r["FILING_ID"]: r for r in res.good.collect()}
    # CRLF row survived as good, with no trailing \r on the last field
    assert good["1774446"]["CMTE_ID"] == "C00123"
    # control chars stripped in place
    assert good["1774447"]["CTRIB_EMP"] == "BADCTRLCO"


def test_typing_semantics(spark, dirty_tsv):
    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    typed = type_table(res.good, RCPT_CD)
    rows = {r["FILING_ID"]: r for r in typed.collect()}

    ok = rows[1774444]
    assert ok["RCPT_DATE"] == datetime.date(2001, 3, 5)  # M/d/yyyy (T2)
    assert ok["AMOUNT"] == decimal.Decimal("1234.56")  # decimal (T3)
    assert ok["MEMO_CODE"] == 1  # Y → 1 (T3)
    assert ok["MEMO_REFNO"] is None  # empty → NULL (T1)

    assert rows[1774445]["MEMO_CODE"] == 0  # N → 0

    empt = rows[1774448]
    assert empt["RCPT_DATE"] is None and empt["AMOUNT"] is None
    assert empt["MEMO_CODE"] is None

    bad = rows[1774449]
    assert bad["RCPT_DATE"] is None  # 13/45/20XX → NULL, not a crash
    assert bad["AMOUNT"] is None  # '12,34' → NULL
    assert bad["MEMO_CODE"] is None  # 'X' → NULL

    # dtypes are the declared targets
    dt = dict(typed.dtypes)
    assert dt["FILING_ID"] == "bigint"
    assert dt["RCPT_DATE"] == "date"
    assert dt["AMOUNT"] == "decimal(14,2)"
    assert dt["MEMO_CODE"] == "int"


def test_coverage_report(spark, dirty_tsv):
    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    typed = type_table(res.good, RCPT_CD)
    rep = {r["metric"]: r for r in coverage_stats(res.good, typed, RCPT_CD).collect()}
    raw, tn = rep["raw_non_empty"], rep["typed_non_null"]
    # typing can only null values out, never invent them
    for c in RCPT_CD:
        assert tn[c] <= raw[c]
    # of 7 good rows: one empty date (raw 6) and one unparseable
    # (typed nulls one more → 5); same shape for the Y/N flag
    assert raw["RCPT_DATE"] == 6 and tn["RCPT_DATE"] == 5
    assert raw["MEMO_CODE"] == 6 and tn["MEMO_CODE"] == 5


def test_orchestrator_idempotent_and_resumable(spark, dirty_tsv, tmp_path):
    out = tmp_path / "lake"
    man = update(spark, dirty_tsv["raw_dir"], str(out))
    rec = man.files["RCPT_CD"]
    assert rec.status == "loaded"
    assert rec.load_count == dirty_tsv["n_good"]
    assert rec.error_count == dirty_tsv["n_bad"]
    assert rec.extra["last_action"] == "processed"
    assert rec.clean_start <= rec.clean_finish <= rec.load_start <= rec.load_finish
    phases = rec.extra["phases"]
    assert set(phases) == {
        "wap_write_s", "wap_audit_s", "wap_publish_s", "quarantine_write_s"
    }
    assert all(v >= 0 for v in phases.values())
    assert phases["quarantine_write_s"] > 0  # the fixture has bad rows

    # loaded artifact is typed parquet
    lk = spark.read.parquet(str(out / "RCPT_CD"))
    assert dict(lk.dtypes)["AMOUNT"] == "decimal(14,2)"
    assert lk.count() == dirty_tsv["n_good"]

    # second run: skip-unchanged, no reprocessing
    man2 = update(spark, dirty_tsv["raw_dir"], str(out))
    assert man2.files["RCPT_CD"].extra["last_action"] == "skipped_unchanged"

    # touching the source invalidates the skip
    os.utime(dirty_tsv["path"])
    man3 = update(spark, dirty_tsv["raw_dir"], str(out))
    assert man3.files["RCPT_CD"].extra["last_action"] == "processed"

    # manifest survives reload and feeds the V2 report
    man4 = Manifest(out / "manifest.json")
    rep = man4.report_df(spark)
    row = rep.filter(F.col("file_name") == "RCPT_CD").collect()[0]
    assert row["status"] == "loaded"
    assert row["error_pct"] == dirty_tsv["n_bad"] / (
        dirty_tsv["n_good"] + dirty_tsv["n_bad"]
    )


def test_wap_sink_partial_failure_never_torn(
    spark, dirty_tsv, tmp_path, monkeypatch
):
    """S5 write-audit-publish commit protocol: a load killed in any
    crash window leaves the published table either the COMPLETE old
    version or absent-never-torn, and a re-run converges (reference
    parity: transactional per-table COPY in loadcalaccessrawfile)."""
    from pathlib import Path

    import pytest

    import calaspark.ingest.load as load_mod
    from calaspark.ingest import split_clean, type_table
    from calaspark.ingest.load import write_parquet_wap
    from calaspark.ingest.schemas import RCPT_CD

    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    typed = type_table(res.good, RCPT_CD)
    dest = str(tmp_path / "RCPT_CD")

    out1 = write_parquet_wap(spark, typed, dest)
    assert out1["observed"] == out1["audited"] == dirty_tsv["n_good"]
    v1 = spark.read.parquet(dest).count()

    # window 1: killed after staging, before publish — the state is a
    # stale stage dir next to an untouched published table
    typed.limit(1).write.parquet(dest + "__stage")
    assert spark.read.parquet(dest).count() == v1  # old version intact
    out2 = write_parquet_wap(spark, typed, dest)  # re-run converges
    assert out2["audited"] == v1
    assert not Path(dest + "__stage").exists()
    assert not Path(dest + "__retired").exists()
    assert spark.read.parquet(dest).count() == v1

    # window 2: killed between the two publish renames — the table is
    # ABSENT (a state the _SUCCESS-gated view layer skips), never torn
    Path(dest).rename(dest + "__retired")
    assert not Path(dest).exists()
    write_parquet_wap(spark, typed, dest)  # re-run republishes
    assert spark.read.parquet(dest).count() == v1
    assert not Path(dest + "__retired").exists()

    # window 2b (round-11 ADVICE): after that same crash, the retired
    # dir holds the ONLY complete copy — recovery must RESTORE it
    # before deleting anything, so a re-run that then fails in its
    # WRITE step still leaves the old version published (a second
    # failure must never lose the table permanently).
    Path(dest).rename(dest + "__retired")
    real_writer = load_mod.write_parquet_observed

    def dying(df, path, partition_by=None):
        raise RuntimeError("simulated write crash")

    monkeypatch.setattr(load_mod, "write_parquet_observed", dying)
    with pytest.raises(RuntimeError, match="simulated write crash"):
        write_parquet_wap(spark, typed, dest)
    monkeypatch.setattr(load_mod, "write_parquet_observed", real_writer)
    assert spark.read.parquet(dest).count() == v1  # restored, not lost
    assert not Path(dest + "__retired").exists()
    out2b = write_parquet_wap(spark, typed, dest)  # and converges
    assert out2b["audited"] == v1

    # audit failure: a lying writer (simulated write loss) must abort
    # pre-publish — stage discarded, published table untouched
    real = load_mod.write_parquet_observed

    def lying(df, path, partition_by=None):
        real(df, path, partition_by)
        return 10**9

    monkeypatch.setattr(load_mod, "write_parquet_observed", lying)
    with pytest.raises(RuntimeError, match="WAP audit failed"):
        write_parquet_wap(spark, typed, dest)
    monkeypatch.undo()
    assert spark.read.parquet(dest).count() == v1
    assert not Path(dest + "__stage").exists()

    # A file failing mid-pool tears no table: the files that finished
    # and the failing one (it published before its sidecar crashed)
    # hold their new 4-row version, the never-started ones their prior
    # 3-row version, and no stage or retired dir is left behind.
    st = _fail_mid_pool(spark, tmp_path / "pool", monkeypatch)
    for name in st["names"]:
        rows = 3 if name in st["never"] else 4
        assert spark.read.parquet(str(st["out"] / name)).count() == rows, name
    assert not [
        p for p in st["out"].iterdir()
        if p.name.endswith(("__stage", "__retired"))
    ]


def test_update_v1_catches_quarantine_write_loss(
    spark, dirty_tsv, tmp_path, monkeypatch
):
    """V1 is a three-way check: the quarantined count is the row count
    the sidecar write observed, not the pre-split flag count, so a
    quarantine writer that drops one row must fail the update."""
    import pytest

    import calaspark.ingest.orchestrator as orch_mod

    real = orch_mod.write_quarantine

    def dropping(df, path):  # loses the fixture's short row
        return real(df.filter(F.col("n_fields") != 3), path)

    monkeypatch.setattr(orch_mod, "write_quarantine", dropping)
    out = tmp_path / "lake"
    with pytest.raises(RuntimeError, match="count mismatch"):
        update(spark, dirty_tsv["raw_dir"], str(out))
    rec = Manifest(out / "manifest.json").files["RCPT_CD"]
    assert rec.status == "failed"
    assert rec.n_body_lines == dirty_tsv["n_good"] + dirty_tsv["n_bad"]
    assert rec.error_count == dirty_tsv["n_bad"] - 1


def _assert_released(spark, dirty_tsv, held: set) -> None:
    from pyspark import StorageLevel

    from calaspark.ingest.clean import flag_lines

    assert set(spark.sparkContext._jsc.getPersistentRDDs().keys()) == held
    flagged = flag_lines(spark, dirty_tsv["path"], list(RCPT_CD))
    assert flagged.storageLevel == StorageLevel.NONE  # not in the cache


def _fail_mid_pool(spark, base, monkeypatch) -> dict:
    """Load one file per task slot plus two, rewrite each with one more
    good row, then update again with the first file's quarantine sidecar
    raising. The rest of the first wave waits in its sidecar write until
    that failure, so the last two files never start."""
    import threading

    import pytest

    import calaspark.ingest.orchestrator as orch_mod
    from calaspark.ingest.schemas import SCHEMAS

    slots = spark.sparkContext.defaultParallelism
    names = sorted(SCHEMAS)[: slots + 2]
    assert len(names) == slots + 2
    raw, out = base / "raw", base / "lake"
    raw.mkdir(parents=True)
    for name in names:
        _write_schema_tsv(raw, name)
    update(spark, str(raw), str(out))
    prior = Manifest(out / "manifest.json").files
    for name in names:
        _write_schema_tsv(raw, name, n_good=3)

    bad, failed = names[0], threading.Event()
    real_process, real_write = orch_mod._process_file, orch_mod.write_quarantine

    def process(*args):
        try:
            real_process(*args)
        except RuntimeError:
            failed.set()
            raise

    def write_quarantine(df, path):
        if path.endswith(f"{bad}.errors"):
            raise RuntimeError(f"simulated sidecar crash in {bad}")
        failed.wait(120)
        return real_write(df, path)

    monkeypatch.setattr(orch_mod, "_process_file", process)
    monkeypatch.setattr(orch_mod, "write_quarantine", write_quarantine)
    with pytest.raises(RuntimeError, match=f"simulated sidecar crash in {bad}"):
        update(spark, str(raw), str(out))
    monkeypatch.setattr(orch_mod, "_process_file", real_process)
    monkeypatch.setattr(orch_mod, "write_quarantine", real_write)
    return {
        "names": names, "bad": bad, "finished": names[1:slots],
        "never": names[slots:], "prior": prior, "raw": raw, "out": out,
    }


def test_update_releases_persisted_frame(
    spark, dirty_tsv, tmp_path, monkeypatch
):
    """A long-lived session must not grow executor storage: the
    per-file persisted frame is released after a successful update
    and after one that fails mid-file. Persisted RDDs are compared with
    those held before the call, since other tests of this session may
    hold their own."""
    import pytest

    import calaspark.ingest.orchestrator as orch_mod

    held = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    update(spark, dirty_tsv["raw_dir"], str(tmp_path / "ok"), force=True)
    _assert_released(spark, dirty_tsv, held)

    def dying(df, path):
        raise RuntimeError("simulated sidecar crash")

    monkeypatch.setattr(orch_mod, "write_quarantine", dying)
    with pytest.raises(RuntimeError, match="simulated sidecar crash"):
        update(spark, dirty_tsv["raw_dir"], str(tmp_path / "crash"), force=True)
    _assert_released(spark, dirty_tsv, held)
    monkeypatch.undo()

    # One file fails mid-pool: the files that finished are loaded, the
    # files that never started keep their prior records exactly (so
    # their changed sources are not taken as current), and no frame
    # stays persisted.
    st = _fail_mid_pool(spark, tmp_path / "pool", monkeypatch)
    _assert_released(spark, dirty_tsv, held)
    raw, out = st["raw"], st["out"]
    man = Manifest(out / "manifest.json")
    assert man.files[st["bad"]].status == "failed"
    assert "simulated sidecar crash" in man.files[st["bad"]].extra["error"]
    for name in st["finished"]:
        rec = man.files[name]
        assert rec.status == "loaded", name
        assert (rec.load_count, rec.error_count) == (4, 1), name
        assert man.is_current(name, str(raw / f"{name}.TSV")), name
    for name in st["never"]:
        assert man.files[name] == st["prior"][name], name
        assert not man.is_current(name, str(raw / f"{name}.TSV")), name

    # The resume with the fault gone processes only the failed and the
    # never-started files.
    man2 = update(spark, str(raw), str(out))
    _assert_released(spark, dirty_tsv, held)
    assert list(man2.files) == st["names"]  # discover order
    for name in st["names"]:
        rec = man2.files[name]
        assert rec.status == "loaded", name
        assert rec.load_count == 4, name
        assert rec.extra["last_action"] == (
            "skipped_unchanged" if name in st["finished"] else "processed"
        ), name
    assert Manifest(out / "manifest.json").files == man2.files


def test_update_scans_each_tsv_once(spark, dirty_tsv, tmp_path, monkeypatch):
    """The WAP write is the only action that reads the raw TSV: the
    quarantine sidecar comes from the persisted frame, so it is written
    in full even with the TSV moved away."""
    from pathlib import Path

    import calaspark.ingest.orchestrator as orch_mod

    src = Path(dirty_tsv["path"])
    away = src.with_suffix(".moved")
    real = orch_mod.write_quarantine

    def with_tsv_gone(df, path):
        src.rename(away)
        try:
            return real(df, path)
        finally:
            away.rename(src)

    monkeypatch.setattr(orch_mod, "write_quarantine", with_tsv_gone)
    out = tmp_path / "lake"
    man = update(spark, dirty_tsv["raw_dir"], str(out))
    rec = man.files["RCPT_CD"]
    assert rec.status == "loaded"
    assert rec.error_count == dirty_tsv["n_bad"]
    sidecar = spark.read.option("header", "true").csv(str(out / "RCPT_CD.errors"))
    assert sidecar.count() == dirty_tsv["n_bad"]


def test_update_jobs_stay_in_callers_job_group(spark, tmp_path):
    """The per-file workers inherit the caller's job group: every job of
    a multi-file update is in it, and none runs without a group."""
    from calaspark.ingest.schemas import SCHEMAS

    sc = spark.sparkContext
    raw = tmp_path / "raw"
    raw.mkdir()
    names = sorted(SCHEMAS)[:3]
    for name in names:
        _write_schema_tsv(raw, name)

    def job_ids(group):
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(group))

    ungrouped = job_ids(None)
    sc.setJobGroup("test-update-group", "update")
    try:
        update(spark, str(raw), str(tmp_path / "lake"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(job_ids("test-update-group")) >= len(names)
    assert job_ids(None) - ungrouped == set()


def test_update_with_pinned_threads_off(
    spark, dirty_tsv, tmp_path, monkeypatch
):
    """With PySpark's pinned thread mode off, ``inheritable_thread_target``
    returns the session unwrapped; ``update`` must still run."""
    import calaspark.ingest.orchestrator as orch_mod

    monkeypatch.setattr(orch_mod, "inheritable_thread_target", lambda s: s)
    man = update(spark, dirty_tsv["raw_dir"], str(tmp_path / "lake"))
    assert man.files["RCPT_CD"].status == "loaded"


def test_manifest_commits_from_many_threads(tmp_path):
    """A stamped record is private until committed, and the manifest
    keeps a copy of what was committed; records committed from many
    threads at once are all saved whole."""
    import sys
    import threading

    man = Manifest(tmp_path / "manifest.json")
    src = tmp_path / "SRC.TSV"
    src.write_text("x\n")
    rec = man.stamp_source("PRIVATE", str(src))
    rec.extra["k"] = 1
    assert "PRIVATE" not in man.files
    man.commit(rec)
    rec.extra["k"] = 2
    assert man.files["PRIVATE"].extra == {"k": 1}

    names = [f"F{i:02d}" for i in range(64)]

    def work(name):
        rec = man.stamp_source(name, str(src))
        for i in range(8):
            rec.extra[f"k{i}"] = i
            man.commit(rec)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(n,)) for n in names]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    back = Manifest(tmp_path / "manifest.json").files
    assert sorted(back) == [*names, "PRIVATE"]
    assert all(len(back[n].extra) == 8 for n in names)


def test_acquire_zip_end_to_end(spark, dirty_tsv, tmp_path):
    """S1+S2+full pipeline: zip of dirty TSVs via file:// URL →
    download (size-verified, idempotent) → extract → clean/type/load."""
    import zipfile

    from calaspark.ingest import acquire, update
    from calaspark.ingest.download import download

    src_zip = tmp_path / "src" / "dbwebexport.zip"
    src_zip.parent.mkdir()
    with zipfile.ZipFile(src_zip, "w") as zf:
        # nested path: extract must flatten (and defeat traversal)
        zf.write(dirty_tsv["path"], "CalAccess/DATA/RCPT_CD.TSV")
    url = src_zip.as_uri()

    work = tmp_path / "work"
    info = acquire(url, work)
    assert info["downloaded"] and len(info["extracted"]) == 1
    assert info["extracted"][0].endswith("/raw/RCPT_CD.TSV")

    # second download of the same archive is skipped (size match)
    again = download(url, work / "download.zip")
    assert again["downloaded"] is False

    man = update(spark, info["raw_dir"], str(work / "lake"))
    rec = man.files["RCPT_CD"]
    assert rec.status == "loaded"
    assert rec.load_count == dirty_tsv["n_good"]
    assert rec.error_count == dirty_tsv["n_bad"]


def test_partitioned_write_prunes(spark, dirty_tsv, tmp_path):
    """E24: partitionBy write → a FORM_TYPE filter becomes partition
    pruning (PartitionFilters), not a data filter."""
    from calaspark.ingest import split_clean, type_table, write_parquet
    from calaspark.ingest.schemas import RCPT_CD

    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    typed = type_table(res.good, RCPT_CD)
    dest = str(tmp_path / "rcpt_part")
    write_parquet(typed, dest, partition_by=["FORM_TYPE"])

    import pyspark.sql.functions as F

    back = spark.read.parquet(dest).filter(F.col("FORM_TYPE") == "A")
    assert back.count() == dirty_tsv["n_good"]  # fixture is all FORM_TYPE=A
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(FORM_TYPE" in plan


def test_encoding_normalization(spark, dirty_tsv):
    """C2: BOM stripped, curly quotes / en-dash / NBSP → ASCII."""
    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    good = {r["FILING_ID"]: r for r in res.good.collect()}
    # BOM prefixed the line: if not stripped, FILING_ID would be
    # '﻿1774450' and the row would miss this key.
    assert good["1774450"]["CTRIB_NAML"] == "\"O'HARA-SMITH\" JR"


def test_archive_sink(spark, dirty_tsv, tmp_path):
    """S6: keep_files gzips the raw source next to the lake output."""
    import gzip

    from calaspark.ingest import update

    out = tmp_path / "lake"
    man = update(spark, dirty_tsv["raw_dir"], str(out), keep_files=True)
    arch = man.files["RCPT_CD"].extra["archive"]
    assert arch.endswith("RCPT_CD.TSV.gz")
    with gzip.open(arch, "rt") as f:
        assert f.read() == open(dirty_tsv["path"]).read()


def test_cli_update_and_report(dirty_tsv, tmp_path, capsys):
    """CLI twin of `manage.py updatecalaccessrawdata` end-to-end."""
    from calaspark.__main__ import main

    out = tmp_path / "cli_lake"
    assert main(["update", dirty_tsv["raw_dir"], str(out)]) == 0
    assert main(["report", str(out)]) == 0
    text = capsys.readouterr().out
    assert "RCPT_CD" in text and "loaded" in text


# ------------------------------------------------ schema registry

#: representative raw value per kind (parses cleanly)
_GOOD_VAL = {
    "string": "SOME TEXT",
    "int": "7",
    "long": "1774444",
    "decimal(14,2)": "1234.56",
    "date_mdy": "3/5/2001",
    "ts_mdy12": "3/5/2001 11:30:00 AM",
    "yn": "Y",
}
#: unparseable raw value per kind (types to NULL; row stays good)
_BAD_VAL = {
    "int": "abc",
    "long": "xyz",
    "decimal(14,2)": "12,34",
    "date_mdy": "13/45/20XX",
    "ts_mdy12": "13/45/20XX 99:99:99 ZZ",
    "yn": "X",
}



def _write_schema_tsv(raw_dir, name: str, n_good: int = 2) -> None:
    """``name``.TSV in ``raw_dir``: ``n_good`` good rows, one row whose
    non-string fields type to NULL, and one quarantined row."""
    from calaspark.ingest.schemas import SCHEMAS

    schema = SCHEMAS[name]
    kinds = list(schema.values())
    good = "\t".join(_GOOD_VAL[k] for k in kinds)
    dirty = "\t".join(_BAD_VAL.get(k, _GOOD_VAL[k]) for k in kinds)
    # one field too many for ANY schema → quarantine
    long_row = "\t".join(["X"] * (len(schema) + 1))
    lines = ["\t".join(schema), *[good] * n_good, dirty, long_row]
    (raw_dir / f"{name}.TSV").write_text("\n".join(lines) + "\n")


def test_registry_completeness_golden():
    """The reference enforces that every model is documented and every
    field annotated (models/base.py tests, SURVEY §5.1) — same golden
    rule over this registry."""
    from calaspark.ingest.schemas import REGISTRY, kind_datatype

    assert len(REGISTRY) >= 15
    groups = {"campaign", "lobbying", "common", "other", "inactive"}
    for name, t in REGISTRY.items():
        assert name == name.upper() and name.endswith("_CD"), name
        assert t.docs, f"{name} missing table docs"
        assert t.group in groups, name
        # COMPLETENESS (reference models/base.py golden rule):
        # unique_key must be ANNOTATED on every table — a declared
        # tuple of real columns, or the explicit False ("no unique
        # key"). None = silence = failure.
        assert t.unique_key is not None, f"{name} unique_key not annotated"
        if t.unique_key is not False:
            assert isinstance(t.unique_key, tuple) and t.unique_key, name
            missing = [k for k in t.unique_key if k not in t.columns]
            assert not missing, f"{name} UNIQUE_KEY not in columns: {missing}"
        # forms likewise: a tuple of form IDs, or explicit False for
        # administrative tables no filing form feeds.
        assert t.forms is not None, f"{name} forms not annotated"
        if t.forms is not False:
            assert isinstance(t.forms, tuple) and t.forms, name
            assert all(
                isinstance(f, str) and f for f in t.forms
            ), f"{name} malformed forms {t.forms!r}"
        assert t.columns, name
        for c, cd in t.columns.items():
            assert cd.help, f"{name}.{c} missing help_text"
            kind_datatype(cd.kind)  # unknown kind → KeyError/ValueError
    # every source module of the reference is represented
    assert {t.group for t in REGISTRY.values()} == groups
    # distribution sanity: transactional tables DO declare keys and
    # forms — explicit-False is the exception, not a blanket cop-out
    keyed = sum(1 for t in REGISTRY.values() if isinstance(t.unique_key, tuple))
    formed = sum(1 for t in REGISTRY.values() if isinstance(t.forms, tuple))
    assert keyed >= 40, keyed
    assert formed >= 25, formed


def test_struct_type_metadata():
    """to_struct_type carries the documentation layer into
    StructField.metadata with the declared target types."""
    from calaspark.ingest.schemas import REGISTRY, to_struct_type

    st = to_struct_type("RCPT_CD")
    f = st["AMOUNT"]
    assert f.dataType.simpleString() == "decimal(14,2)"
    assert f.metadata["help_text"] == "Amount received in the period"
    assert f.metadata["kind"] == "decimal(14,2)"
    assert f.metadata["group"] == "campaign"
    assert [f.name for f in st] == list(REGISTRY["RCPT_CD"].columns)


def test_orchestrator_multi_schema_e2e(spark, tmp_path):
    """Orchestrator e2e over EVERY registered schema (≥15): generated
    dirty fixture per table (2 good rows, 1 typed-to-NULL row, 1
    quarantine row) with full clean/typing/quarantine accounting and
    metadata-bearing parquet output."""
    from calaspark.ingest import update
    from calaspark.ingest.schemas import REGISTRY, SCHEMAS, to_struct_type

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    for name in SCHEMAS:
        _write_schema_tsv(raw_dir, name)

    out = tmp_path / "lake"
    man = update(spark, str(raw_dir), str(out))
    assert len(man.files) == len(SCHEMAS) >= 15

    for name, schema in SCHEMAS.items():
        rec = man.files[name]
        assert rec.status == "loaded", name
        assert rec.n_body_lines == 4, name  # measured, not derived
        assert rec.load_count == 3, name
        assert rec.error_count == 1, name

        back = spark.read.parquet(str(out / name))
        expect = to_struct_type(name)
        got = {f.name: f for f in back.schema}
        for ef in expect:
            assert got[ef.name].dataType == ef.dataType, (name, ef.name)
            # documentation metadata survived the parquet round trip
            assert got[ef.name].metadata["help_text"] == ef.metadata["help_text"]

        # the dirty row typed its non-string kinds to NULL
        non_string = [c for c, k in schema.items() if k in _BAD_VAL]
        if non_string:
            c0 = non_string[0]
            assert back.filter(F.col(c0).isNull()).count() == 1, (name, c0)


def test_manifest_lake_table(spark, dirty_tsv, tmp_path):
    """SURVEY §1.1 mapping: the manifest is ALSO a parquet table with
    upsert-by-file_name semantics; the V2 report reads from it."""
    from calaspark.ingest import Manifest, update

    out = tmp_path / "lake"
    update(spark, dirty_tsv["raw_dir"], str(out))

    table = str(out / "_manifest")
    rep = {r["file_name"]: r
           for r in Manifest.report_from_table(spark, table).collect()}
    row = rep["RCPT_CD"]
    assert row["status"] == "loaded"
    assert row["error_pct"] == dirty_tsv["n_bad"] / (
        dirty_tsv["n_good"] + dirty_tsv["n_bad"]
    )

    # dynamic-overwrite upsert: a writer carrying a DIFFERENT file key
    # must not clobber RCPT_CD's partition (multi-writer safety)
    other = Manifest(tmp_path / "other.json")
    r = other.record("OTHER_CD")
    r.status, r.n_body_lines, r.clean_count, r.load_count = "loaded", 5, 5, 5
    other.write_table(spark, table)
    names = {x["file_name"] for x in spark.read.parquet(table).collect()}
    assert names == {"RCPT_CD", "OTHER_CD"}

    # and re-writing the SAME key replaces, not duplicates
    other.write_table(spark, table)
    assert spark.read.parquet(table).filter(
        F.col("file_name") == "OTHER_CD"
    ).count() == 1


def test_clean_csv_roundtrip_reload(spark, dirty_tsv, tmp_path):
    """S4→reload parity: write the clean-CSV artifact, read it back
    with the declared (never inferred) schema, type it through the
    same templates — identical typed rows as the direct path."""
    from calaspark.ingest.load import read_clean_csv, write_clean_csv

    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    direct = type_table(res.good, RCPT_CD)

    path = str(tmp_path / "clean_csv")
    write_clean_csv(res.good, path)
    reloaded = type_table(
        read_clean_csv(spark, path, list(RCPT_CD)), RCPT_CD
    )

    assert reloaded.schema == direct.schema
    key = "FILING_ID"
    a = {r[key]: r.asDict() for r in direct.collect()}
    b = {r[key]: r.asDict() for r in reloaded.collect()}
    assert a == b and a


def test_observed_write_counts_match_readback(spark, tmp_path):
    """write_parquet_observed's metric (measured during the write
    pass) agrees with an independent read-back count."""
    from calaspark.ingest.load import write_parquet_observed

    df = spark.range(1234).selectExpr("id", "id % 7 AS g")
    dest = str(tmp_path / "obs")
    n = write_parquet_observed(df, dest, partition_by=["g"])
    assert n == 1234
    assert spark.read.parquet(dest).count() == 1234


def test_orchestrator_compacts_small_file_loads(spark, tmp_path):
    """S5 lake maintenance end-to-end (round-7 verdict #6): a load
    that lands as many small parquet files triggers the post-load
    compaction pass, which collapses them toward target size and
    records before/after stats in the manifest."""
    from calaspark.ingest.schemas import RCPT_CD

    raw_dir = tmp_path / "raw"
    raw_dir.mkdir()
    idx = {c: i for i, c in enumerate(RCPT_CD)}
    rows = []
    for i in range(4000):
        vals = [""] * len(RCPT_CD)
        vals[idx["FILING_ID"]] = str(1_000_000 + i)
        vals[idx["AMEND_ID"]] = "0"
        vals[idx["AMOUNT"]] = "12.34"
        rows.append("\t".join(vals))
    (raw_dir / "RCPT_CD.TSV").write_text(
        "\n".join(["\t".join(RCPT_CD), *rows]) + "\n"
    )
    out = tmp_path / "lake"
    # shrink input splits so the load fans out into many writer tasks
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(16 * 1024))
    try:
        man = update(spark, str(raw_dir), str(out), compact_threshold=4)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)

    rec = man.files["RCPT_CD"]
    assert rec.status == "loaded"
    stats = rec.extra["compaction"]
    assert stats["files_before"] >= 4
    assert stats["files_after"] < stats["files_before"]
    assert stats["rows"] == rec.load_count == 4000
    # no bad rows: no quarantine count and no sidecar
    assert rec.error_count == 0
    assert not (out / "RCPT_CD.errors").exists()

    # the compacted table still reads whole and typed
    back = spark.read.parquet(str(out / "RCPT_CD"))
    assert back.count() == 4000
    assert dict(back.dtypes)["AMOUNT"] == "decimal(14,2)"
    import glob

    assert len(glob.glob(str(out / "RCPT_CD" / "*.parquet"))) == stats["files_after"]

    # stats survive manifest reload
    man2 = Manifest(out / "manifest.json")
    assert man2.files["RCPT_CD"].extra["compaction"] == stats


def test_cli_compact(spark, tmp_path, capsys):
    """CLI surface for the S5 lake-maintenance pass."""
    from calaspark.__main__ import main

    src = tmp_path / "frag"
    spark.range(10_000).selectExpr("id", "md5(cast(id as string)) p").repartition(
        16
    ).write.parquet(str(src))
    dst = tmp_path / "compacted"
    assert main(["compact", str(src), str(dst), "--target-mb", "64"]) == 0
    text = capsys.readouterr().out
    assert "'files_before': 16" in text
    assert spark.read.parquet(str(dst)).count() == 10_000


def test_split_clean_fuzz_accounting_always_balances(spark, tmp_path):
    """C1-C4 fuzz (hypothesis): for ANY content — control chars, CRLF,
    curly quotes, random tab counts, blank lines — the cleaner never
    crashes and the V1 accounting identity holds exactly:
    good + quarantine == non-header body lines, with good rows having
    exactly the schema's field count."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from calaspark.ingest.clean import split_clean

    cols = ["A", "B", "C"]
    # characters that hit every cleaning rule: printable text, tabs,
    # CR (line-ending repair), control chars, Windows-1252 curlies
    field_chars = st.text(
        alphabet="xy z.,'\x01\x07“’– ", max_size=6
    )
    line = st.lists(field_chars, min_size=1, max_size=6).map("\t".join)

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(body=st.lists(line, max_size=12))
    def check(body):
        p = tmp_path / "fuzz" / "F.TSV"
        p.parent.mkdir(exist_ok=True)
        # some rows pre-damaged with CR endings
        damaged = [
            (ln + "\r") if i % 3 == 0 else ln for i, ln in enumerate(body)
        ]
        p.write_text("\n".join(["\t".join(cols), *damaged]) + "\n")
        res = split_clean(spark, str(p), cols)
        n_good = res.good.count()
        n_bad = res.quarantine.count()
        n_body = res.body.count()
        assert n_good + n_bad == n_body
        # good rows are already split into exactly the schema columns
        assert res.good.columns == cols
        # quarantine rows carry the diagnostics contract
        if n_bad:
            assert {"raw_line", "n_fields", "reason"} <= set(
                res.quarantine.columns
            )

    check()


def test_cli_dedup_exact_and_minhash(spark, tmp_path, capsys):
    """The `dedup` CLI: exact keyed dedup and minhash near-dup dedup
    both write a deduplicated table and report honest counts."""
    import pyspark.sql.functions as F

    from calaspark.__main__ import main

    src = tmp_path / "docs"
    rows = [
        (1, "alpha beta gamma delta"),
        (2, "alpha beta gamma delta"),     # near-exact of 1
        (3, "totally different words here"),
        (3, "totally different words here"),  # duplicate id
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(src)
    )

    out1 = tmp_path / "exact"
    assert main(
        ["dedup", str(src), str(out1), "--id-col", "doc_id"]
    ) == 0
    assert "rows_in=4 rows_out=3" in capsys.readouterr().out

    out2 = tmp_path / "mh"
    assert main(
        [
            "dedup", str(src), str(out2),
            "--id-col", "doc_id", "--method", "minhash",
            "--text-col", "text", "--threshold", "0.5",
        ]
    ) == 0
    text = capsys.readouterr().out
    assert "method=minhash rows_in=4" in text
    kept = spark.read.parquet(str(out2))
    # doc 2 (near-dup of 1) must be gone; min-id 1 survives
    ids = {r["doc_id"] for r in kept.select("doc_id").distinct().collect()}
    assert 1 in ids and 2 not in ids and 3 in ids


def test_wap_sink_partitioned(spark, dirty_tsv, tmp_path):
    """write_parquet_wap with partition_by: the staged layout keeps
    partition pruning after the rename publish, and the audit count
    reads through the partitioned layout correctly."""
    import pyspark.sql.functions as F

    from calaspark.ingest import split_clean, type_table
    from calaspark.ingest.load import write_parquet_wap
    from calaspark.ingest.schemas import RCPT_CD

    res = split_clean(spark, dirty_tsv["path"], list(RCPT_CD))
    typed = type_table(res.good, RCPT_CD)
    dest = str(tmp_path / "RCPT_CD_P")
    out = write_parquet_wap(spark, typed, dest, partition_by=["FORM_TYPE"])
    assert out["observed"] == out["audited"] == dirty_tsv["n_good"]
    back = spark.read.parquet(dest).filter(F.col("FORM_TYPE") == "A")
    assert back.count() == dirty_tsv["n_good"]  # fixture is all 'A'
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "FORM_TYPE" in plan
