"""One fresh benchmark session: set up, run the workload's passes, check
the outputs, write a JSON result file.

Started by ``run.py`` in its own process with a private ``TMPDIR``,
``SPARK_LOCAL_DIRS`` and warehouse dir; not meant to be run by hand.

    python perfbench/worker.py SPEC.json RESULT.json

``SPEC.json`` names the workload, the generated input dirs, the warm
phase length and whether to trace. Timed regions call only the public
entry points a user calls: ``get_spark``, the registry's query functions, the
``noop`` sink and ``ingest.orchestrator.update``. Output checks run
after the last timed pass.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

import duckdb  # noqa: E402

from calaspark import TABLES  # noqa: E402
from calaspark.ingest import orchestrator  # noqa: E402
from calaspark.oracles import ORACLES  # noqa: E402
from calaspark.queries import QUERIES  # noqa: E402
from calaspark.session import get_spark  # noqa: E402
from calaspark.tables import load_table  # noqa: E402
from verify_local import _SPOOLED, _count_full_eval, _spool_to_arrow, _table_info  # noqa: E402

from layers import PASS_METRICS, Tracer, pass_metrics  # noqa: E402


def _check_isolation() -> None:
    """The session must start from empty private dirs: a leftover IVF
    index or package zip would let this session skip work a fresh one
    pays."""
    tmp = os.path.realpath(tempfile.gettempdir())
    if tmp != os.path.realpath(os.environ["TMPDIR"]):
        raise RuntimeError(f"tempdir {tmp} is not the private TMPDIR")
    for d in (tmp, os.environ["SPARK_LOCAL_DIRS"]):
        left = glob.glob(os.path.join(d, "*"))
        if left:
            raise RuntimeError(f"private dir {d} is not empty: {left[:3]}")


class Session:
    """One workload on one fresh SparkSession: passes, failures, checks."""

    def __init__(self, spec: dict) -> None:
        self.spec = spec
        self.wl = spec["wl"]
        self.failures: list[str] = []
        self.checks: list[str] = []
        self.attempted = 0
        self.tracer: Tracer | None = None
        self.passes: list[dict] = []

    # ------------------------------------------------------------ setup

    def setup(self) -> dict:
        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.spec['workload']}")
        t1 = time.perf_counter()
        QUERIES["q05"](self.spark, self.spec["warmup_dir"]).write.format("noop").mode(
            "overwrite"
        ).save()
        t2 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.spec["trace"]:
            self.tracer = Tracer(self.spark)
            self.tracer.install()
        return {"setup_s": t2 - t0, "get_spark_s": t1 - t0}

    # ------------------------------------------------------------- ops

    def _fail(self, what: str, err: str) -> None:
        self.failures.append(f"{what}: {err}")
        print(f"perfbench FAILED {what}: {err}", file=sys.stderr, flush=True)

    def _query_op(self, qid: str, rec: dict) -> None:
        tr, sd = self.tracer, self.spec["data_dir"]
        t0 = time.perf_counter()
        try:
            g_build = tr.group("build") if tr else None
            df = QUERIES[qid](self.spark, sd)
            t1 = time.perf_counter()
            g_exec = tr.group("exec") if tr else None
            rows = _count_full_eval(df)
            t2 = time.perf_counter()
        except Exception as e:  # an op that raises is a counted failure
            self._fail(qid, f"{type(e).__name__}: {str(e)[:300]}")
            return
        finally:
            if tr:
                tr.clear_group()
        rec["op_s"][qid] = t2 - t0
        rec["rows"][qid] = rows
        if tr:
            rec["trace_ops"].append({
                "build_s": t1 - t0, "exec_s": t2 - t1,
                "build": tr.job_stats(g_build), "exec": tr.job_stats(g_exec),
            })

    def _ingest_op(self, rec: dict) -> None:
        tr, truths = self.tracer, self.spec["tsvs"]
        t0 = time.perf_counter()
        try:
            g = tr.group("exec") if tr else None
            man = orchestrator.update(
                self.spark, self.spec["raw_dir"], self.spec["lake_dir"], force=True
            )
            t1 = time.perf_counter()
        except Exception as e:
            self._fail("update", f"{type(e).__name__}: {str(e)[:300]}")
            return
        finally:
            if tr:
                tr.clear_group()
        for name in truths:
            fr = man.files[name]
            rec["op_s"][name] = fr.load_finish - fr.clean_start
            rec["rows"][name] = [fr.n_body_lines, fr.clean_count, fr.error_count, fr.load_count, fr.status]
        if tr:
            st = tr.job_stats(g)
            rec["trace_ops"].append({"build_s": 0.0, "exec_s": t1 - t0,
                                     "build": {"jobs": 0}, "exec": st})
            rec["ingest"] = {
                "update_s": t1 - t0, "jobs": st["jobs"], "files": len(truths),
                "input_bytes": st["input_bytes"],
                "raw_bytes": sum(t["raw_bytes"] for t in truths.values()),
                "good": sum(man.files[n].clean_count for n in truths),
                "body": sum(man.files[n].n_body_lines for n in truths),
            }

    def run_pass(self) -> dict:
        rec = {"op_s": {}, "rows": {}, "trace_ops": [], "ingest": None}
        before = self.tracer.snapshot() if self.tracer else None
        t0 = time.perf_counter()
        if self.wl["kind"] == "ingest":
            self.attempted += 1
            self._ingest_op(rec)
        else:
            for qid in self.wl["ids"]:
                self.attempted += 1
                self._query_op(qid, rec)
        rec["wall_s"] = time.perf_counter() - t0
        if self.tracer:
            rec["layers"] = pass_metrics(before, self.tracer.snapshot(), rec["trace_ops"], rec["ingest"])
        del rec["trace_ops"], rec["ingest"]
        self.passes.append(rec)
        return rec

    # ---------------------------------------------------------- checks

    def _check(self, what: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        self.checks.append(what)
        if not ok:
            self._fail(f"check {what}", detail)

    def check_inputs(self) -> None:
        """The generated ``events.ts`` is nanosecond parquet, so it reads
        as ``bigint`` and ``load_table`` converts it to µs, as on real
        inputs."""
        path = f"{self.spec['data_dir']}/events.parquet"
        got = [dict(self.spark.read.parquet(path).dtypes)["ts"],
               dict(load_table(self.spark, self.spec["data_dir"], "events").dtypes)["ts"]]
        self._check("load_table events.ts ns->us", got == ["bigint", "timestamp_ntz"],
                    f"events.ts [parquet, load_table] types {got}")

    def check_queries_oracle(self) -> None:
        """Each op with a DuckDB twin: same columns, types, row count
        and order-insensitive hash of the normalized rows."""
        con = duckdb.connect()
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")  # untimed: every core
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.spec['data_dir']}/{t}.parquet')"
            )
        for qid in self.wl["ids"]:
            if qid not in ORACLES:
                continue
            try:
                sdf = QUERIES[qid](self.spark, self.spec["data_dir"])
                s_tbl = _spool_to_arrow(sdf) if qid in _SPOOLED else sdf.toArrow()
                d_tbl = con.execute(ORACLES[qid]).fetch_arrow_table()
            except Exception as e:
                self._check(f"oracle {qid}", False, f"{type(e).__name__}: {str(e)[:300]}")
                continue
            s_names, s_types, s_rows = _table_info(s_tbl)
            d_names, d_types, d_rows = _table_info(d_tbl)
            digest = [hashlib.sha256(repr(r).encode()).hexdigest() for r in (s_rows, d_rows)]
            self._check(
                f"oracle {qid}",
                (s_names, s_types, len(s_rows), digest[0]) == (d_names, d_types, len(d_rows), digest[1]),
                f"spark {s_names} {len(s_rows)} rows vs duckdb {d_names} {len(d_rows)} rows",
            )
        con.close()

    def check_queries_rows(self) -> None:
        """Every op returns rows, and the same number in every pass (a
        session memo must not change a result)."""
        cold = self.passes[0]["rows"]
        for qid in self.wl["ids"]:
            counts = [p["rows"].get(qid) for p in self.passes]
            self._check(
                f"rows {qid}",
                bool(cold.get(qid)) and len(set(counts)) == 1,
                f"row counts by pass {counts}",
            )

    def check_ingest(self) -> None:
        """V1 accounting and the injected good-row share on every pass;
        the published tables, typed NULLs and quarantine sidecars once."""
        import pyspark.sql.functions as F

        truths = self.spec["tsvs"]
        for i, p in enumerate(self.passes):
            for name, t in truths.items():
                got = p["rows"].get(name)
                want = [t["body_rows"], t["body_rows"] - t["quarantined"],
                        t["quarantined"], t["body_rows"] - t["quarantined"], "loaded"]
                self._check(
                    f"ingest pass {i} {name}", got == want,
                    f"[body, good, quarantined, loaded, status] {got} != {want}; "
                    f"good-row share {got and got[1] / got[0]} != injected {want[1] / want[0]}",
                )
        lake = self.spec["lake_dir"]
        for name, t in truths.items():
            df = self.spark.read.parquet(f"{lake}/{name}")
            row = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col(t["date_col"]).isNull()).alias("bad_dates"),
                F.count_if(F.col(t["amount_col"]).isNull()).alias("empty_amounts"),
            ).first()
            q = self.spark.read.option("header", "true").csv(f"{lake}/{name}.errors").count()
            got = [row["n"], row["bad_dates"], row["empty_amounts"], q]
            want = [t["body_rows"] - t["quarantined"], t["bad_dates"], t["empty_amounts"], t["quarantined"]]
            self._check(f"ingest lake {name}", got == want,
                        f"[rows, null dates, null amounts, quarantined] {got} != {want}")
        n_manifest = self.spark.read.parquet(f"{lake}/_manifest").count()
        self._check("ingest manifest table", n_manifest == len(truths),
                    f"{n_manifest} manifest rows for {len(truths)} files")

    def check(self) -> None:
        if self.wl["kind"] == "ingest":
            self.check_ingest()
        else:
            self.check_inputs()
            self.check_queries_rows()
            if not self.spec["trace"]:  # once per run; run.py matches the traced rows to these
                self.check_queries_oracle()


def _warm_phase(sess: Session, seconds: float) -> None:
    """Warm passes until ``seconds`` have passed, and at least the
    workload's ``warm_passes``."""
    t0 = time.perf_counter()
    for _ in range(sess.wl["warm_passes"]):
        sess.run_pass()
    while time.perf_counter() - t0 < seconds:
        sess.run_pass()


def main() -> int:
    spec = json.loads(Path(sys.argv[1]).read_text())
    _check_isolation()
    sess = Session(spec)
    out: dict = {"failures": sess.failures}
    try:
        out.update(sess.setup())
        sess.run_pass()  # cold
        _warm_phase(sess, spec["seconds"])
        t0 = time.perf_counter()
        sess.check()
        out["check_s"] = time.perf_counter() - t0
    except Exception:  # record, then report the run as failed
        sess._fail("session", traceback.format_exc(limit=5))
    out["attempted"] = sess.attempted
    out["checks"] = sess.checks
    out["passes"] = sess.passes
    if sess.tracer and len(sess.passes) > 1:
        warm = [p["layers"] for p in sess.passes[1:]]
        out["layers"] = {
            **sess.passes[0]["layers"],
            **{f"warm.{k}": statistics.median(w[k] for w in warm) for k in PASS_METRICS},
        }
    Path(sys.argv[2]).write_text(json.dumps(out))
    spark = getattr(sess, "spark", None)
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
