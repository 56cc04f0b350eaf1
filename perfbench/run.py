"""calaspark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 4 --trace 0

Run from the repository root. The harness

1. records host telemetry (``bench.py``'s pure-Python CPU canary,
   load average, CPU steal, CPU pressure) before and after the run;
2. generates the workload's inputs from ``--seed`` into a private run
   directory under ``.perfbench_runs/``;
3. runs the workload in a fresh process (``worker.py``) with a private
   ``TMPDIR``, ``SPARK_LOCAL_DIRS``, warehouse and ingest output dir,
   on at most 3 task slots (``SPARK_GRAFT_CPUS``);
4. removes the run directory and prints, as the last stdout line,
   ``{"correct", "attempted", "failed", "metrics"}``.

Metrics, per run (``--trace 0``):

- ``setup_s``: ``get_spark()`` plus one warm-up build and ``noop``
  execution of ``q05`` at sf0.1 in the fresh process (JVM, session,
  package ship, warm-up);
- ``cold_pass_s``: the first pass over the workload's op list;
- ``warm_pass_s``: median of the later passes: the workload's
  ``warm_passes``, then more until ``--seconds`` have passed.

``--trace 1`` runs the same session twice, untraced then traced, and
prints the per-layer metrics of the traced session (``layers.py``) plus
``overhead.<metric>``: traced minus untraced for each metric above.

``attempted``/``failed`` count op executions and output checks; a raise
or a failed check is a failure. A JSON record of every run (samples,
per-op warm median and tail latency, telemetry, failures) goes to
stderr and to ``.perfbench_records/``. An op is a query, a demo op, or
one ingested file as timed by its manifest record.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from dataclasses import asdict
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RUNS_DIR = ROOT / ".perfbench_runs"
RECORDS_DIR = ROOT / ".perfbench_records"
#: every run, traced ones included, ends within this many seconds
RUN_DEADLINE_S = 170
#: task slots: one core short of this 4-core host's, so the session's
#: Python process, JIT and GC threads do not compete with tasks; on 4
#: slots the run-to-run spread of llm_dedup's passes was 2-3x wider
MAX_CPUS = 3

E2E = {"setup_s": "s", "cold_pass_s": "s", "warm_pass_s": "s"}


def _require_checkout() -> None:
    missing = [p for p in ("calaspark", "bench.py", "tools/verify_local.py") if not (ROOT / p).exists()]
    if missing:
        sys.exit(f"perfbench: not a calaspark checkout ({ROOT}): missing {missing}")


# ---------------------------------------------------------------- telemetry


def _cpu_times() -> dict:
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return {"total": sum(vals[:8]), "steal": vals[7] if len(vals) > 7 else 0}


def _cpu_pressure() -> dict | None:
    try:
        with open("/proc/pressure/cpu") as fh:
            some = fh.readline().split()[1:]
    except OSError:
        return None
    return {k: float(v) for k, v in (kv.split("=") for kv in some)}


def _telemetry() -> dict:
    from bench import _cpu_canary

    return {
        "canary_s": _cpu_canary(),
        "loadavg": os.getloadavg(),
        "cpu": _cpu_times(),
        "pressure_cpu": _cpu_pressure(),
        "t": time.time(),
    }


def _telemetry_delta(a: dict, b: dict) -> dict:
    dt = b["cpu"]["total"] - a["cpu"]["total"]
    out = {
        "canary_s": [a["canary_s"], b["canary_s"]],
        "loadavg_1m": [a["loadavg"][0], b["loadavg"][0]],
        "steal_share": (b["cpu"]["steal"] - a["cpu"]["steal"]) / dt if dt else 0.0,
        "wall_s": b["t"] - a["t"],
    }
    if a["pressure_cpu"] and b["pressure_cpu"]:
        out["pressure_cpu_some_s"] = (b["pressure_cpu"]["total"] - a["pressure_cpu"]["total"]) / 1e6
        out["pressure_cpu_avg10"] = b["pressure_cpu"]["avg10"]
    return out


# ---------------------------------------------------------------- inputs


def _make_inputs(run_dir: Path, wl: dict, seed: int) -> dict:
    """Generate the run's inputs; return the worker spec's input part."""
    import datagen
    from workloads import WARMUP_SF

    spec = {"warmup_dir": str(run_dir / "warmup")}
    datagen.write_tables(spec["warmup_dir"], seed, WARMUP_SF, 500, 500)
    if wl["kind"] == "ingest":
        raw = run_dir / "raw"
        raw.mkdir()
        spec["raw_dir"] = str(raw)
        spec["tsvs"] = {
            t: asdict(datagen.write_dirty_tsv(str(raw / f"{t}.TSV"), t, n, seed))
            for t, n in wl["tsv_rows"].items()
        }
    else:
        spec["data_dir"] = str(run_dir / "tables")
        datagen.write_tables(spec["data_dir"], seed + 1, wl["sf"], wl["docs"], wl["vecs"])
    return spec


# ---------------------------------------------------------------- sessions


def _group_alive(pgid: int) -> bool:
    """Is any non-zombie process left in process group ``pgid``?"""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] not in "ZX":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """Stop every process the worker left behind and wait until each is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + 10
        while time.monotonic() < deadline and _group_alive(pgid):
            time.sleep(0.1)
    if _group_alive(pgid):
        raise RuntimeError(f"worker process group {pgid} did not exit")


def _run_session(run_dir: Path, name: str, spec: dict, deadline: float) -> dict:
    """One fresh worker process with private dirs; return its result."""
    sdir = run_dir / name
    dirs = {k: sdir / k for k in ("tmp", "local", "warehouse", "cwd")}
    sdir.mkdir()
    for d in dirs.values():
        d.mkdir()  # raises if it already exists: never reuse a session's state
    spec = {**spec, "lake_dir": str(sdir / "lake")}
    (sdir / "spec.json").write_text(json.dumps(spec))
    env = dict(os.environ)
    env.update(
        TMPDIR=str(dirs["tmp"]),
        SPARK_LOCAL_DIRS=str(dirs["local"]),
        SPARK_GRAFT_CPUS=str(min(MAX_CPUS, len(os.sched_getaffinity(0)))),
        PYTHONHASHSEED="0",
        # every JVM (spark-submit's launcher too) keeps its temp files in
        # the session and writes no perf data to the host's /tmp
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.sql.warehouse.dir={dirs['warehouse']} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    result = sdir / "result.json"
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), str(sdir / "spec.json"), str(result)],
        cwd=dirs["cwd"], env=env, stdout=sys.stderr, start_new_session=True,
    )
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise RuntimeError(f"session {name} passed the run deadline")
    finally:
        _stop_group(proc.pid)
    if rc != 0 or not result.exists():
        raise RuntimeError(f"session {name} exited with code {rc}")
    return json.loads(result.read_text())


# ---------------------------------------------------------------- metrics


def _tail(samples: list[float]) -> dict | None:
    """Highest whole percentile with at least ten samples beyond it."""
    n = len(samples)
    if n < 11:
        return None
    p = math.floor(100 * (1 - 10 / n))
    s = sorted(samples)
    return {"pct": p, "value": s[max(0, math.ceil(p / 100 * n) - 1)], "n": n}


def _e2e(res: dict) -> tuple[dict, dict]:
    passes = res["passes"]
    warm = passes[1:]
    op_samples = [t for p in warm for t in p["op_s"].values()]
    metrics = {
        "setup_s": res["setup_s"],
        "cold_pass_s": passes[0]["wall_s"],
        "warm_pass_s": statistics.median(p["wall_s"] for p in warm),
    }
    record = {
        "warm_passes": len(warm),
        "warm_pass_samples": [p["wall_s"] for p in warm],
        "op_samples": len(op_samples),
        "op_p50_s": statistics.median(op_samples),
        "op_cold_s": passes[0]["op_s"],
        "op_rows": passes[0]["rows"],
        "op_tail_s": _tail(op_samples),
        "op_warm_median_s": {
            k: statistics.median(p["op_s"][k] for p in warm if k in p["op_s"])
            for k in passes[0]["op_s"]
        },
    }
    return metrics, record


def _declared() -> dict:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> tuple[dict, dict]:
    from layers import PASS_METRICS
    from workloads import WORKLOADS, workload as sized

    if workload not in WORKLOADS:
        raise SystemExit(f"perfbench: unknown workload {workload!r}; have {sorted(WORKLOADS)}")
    wl = sized(workload, smoke)
    deadline = time.monotonic() + RUN_DEADLINE_S
    RUNS_DIR.mkdir(exist_ok=True)
    run_dir = RUNS_DIR / f"{workload}-{seed}-{os.getpid()}"
    run_dir.mkdir()
    try:
        t0 = time.perf_counter()
        spec = _make_inputs(run_dir, wl, seed)
        spec.update(workload=workload, wl=wl, seconds=seconds, trace=False)
        gen_s = time.perf_counter() - t0
        plain = _run_session(run_dir, "plain", spec, deadline)
        sessions = [plain]
        if trace:
            traced = _run_session(run_dir, "traced", {**spec, "trace": True}, deadline)
            sessions.append(traced)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for s in sessions:
        if len(s["passes"]) < 2:  # a session that died before its warm pass
            raise RuntimeError(f"session ended after {len(s['passes'])} passes: {s['failures']}")
    metrics, record = _e2e(plain)
    record.update(gen_s=gen_s, get_spark_s=plain["get_spark_s"], check_s=plain.get("check_s"),
                  checks=plain["checks"])
    if wl["kind"] == "ingest":
        record["ingest_rows_per_s"] = sum(wl["tsv_rows"].values()) / metrics["warm_pass_s"]
    out_metrics = metrics
    if trace:
        t_metrics, _ = _e2e(traced)
        out_metrics = {
            "session.get_spark_s": traced["get_spark_s"],
            **traced["layers"],
            **{f"overhead.{k}": t_metrics[k] - metrics[k] for k in E2E},
        }
        units = {"session.get_spark_s": "s", **PASS_METRICS,
                 **{f"warm.{k}": u for k, u in PASS_METRICS.items()},
                 **{f"overhead.{k}": u for k, u in E2E.items()}}
    else:
        units = E2E
    if set(units) != set(_declared()[int(trace)]):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {set(units) ^ set(_declared()[int(trace)])}")
    failures = [f for s in sessions for f in s["failures"]]
    attempted = sum(s["attempted"] for s in sessions)
    if trace:  # same inputs, so the traced outputs match the checked plain ones
        attempted += 1
        rows = [s["passes"][0]["rows"] for s in sessions]
        if rows[0] != rows[1]:
            failures.append(f"traced session row counts {rows[1]} != untraced {rows[0]}")
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in out_metrics.items()},
    }
    record.update(failures=failures)
    return result, record


def _counts_vs_last_trace(workload: str, seed: int, result: dict) -> dict | None:
    """Which per-layer counts repeat exactly against the newest earlier
    traced record of the same workload and seed (None if there is none)."""
    prev = sorted(RECORDS_DIR.glob(f"*-{workload}-{seed}-1.json"))
    if not prev:
        return None
    old = json.loads(prev[-1].read_text())["result"]["metrics"]
    counts = [k for k, m in result["metrics"].items() if m["unit"] != "s" and k in old]
    same = [k for k in counts if old[k]["value"] == result["metrics"][k]["value"]]
    return {
        "record": prev[-1].name,
        "repeat": same,
        "differ": {k: [old[k]["value"], result["metrics"][k]["value"]] for k in counts if k not in same},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for smoke.py")
    args = ap.parse_args()
    _require_checkout()
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    before = _telemetry()
    result, record = run(args.workload, args.seed, args.seconds, bool(args.trace), args.smoke)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "result": result, **record,
        "host": _telemetry_delta(before, _telemetry()),
    }
    RECORDS_DIR.mkdir(exist_ok=True)
    if args.trace and not args.smoke:
        record["counts_vs_last_trace"] = _counts_vs_last_trace(args.workload, args.seed, result)
    line = json.dumps(record)
    print(f"perfbench-record {line}", file=sys.stderr)
    smoke = "-smoke" if args.smoke else ""
    (RECORDS_DIR / f"{int(time.time() * 1000)}-{args.workload}-{args.seed}-{args.trace}{smoke}.json").write_text(line)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
