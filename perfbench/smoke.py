"""Smoke self-test of the benchmark harness.

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on tiny inputs
(``run.py --smoke``: sf0.001 tables, a few thousand ingest rows) and
checks that each run exits 0, reports correct outputs, and prints
every metric ``BENCHMARK.json`` declares for its mode, each with its
declared unit. On the query workloads it also checks that the run
record shows ``tables.load_table`` converting the nanosecond
``events.ts`` to µs, as it does on real inputs. Takes a few minutes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: the worker's check that ``load_table`` took its ns→µs branch
NS_CHECK = "load_table events.ts ns->us"


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    bad = []
    for wl in (w["name"] for w in bench["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--smoke"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                                  text=True, timeout=180)
            tag, n_bad = f"{wl} trace={trace}", len(bad)
            if proc.returncode != 0:
                bad.append(f"{tag}: exit code {proc.returncode}")
                print(f"{tag}: FAILED", flush=True)
                continue
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                bad.append(f"{tag}: correct={res['correct']} failed={res['failed']}/{res['attempted']}")
            record = json.loads(next(
                ln for ln in reversed(proc.stderr.splitlines()) if ln.startswith("perfbench-record ")
            ).split(" ", 1)[1])
            if wl != "ingest_update" and NS_CHECK not in record["checks"]:
                bad.append(f"{tag}: no {NS_CHECK!r} check in the run record")
            if got != declared[trace]:
                diff = set(got.items()) ^ set(declared[trace].items())
                bad.append(f"{tag}: metrics differ from BENCHMARK.json: {sorted(diff)}")
            print(f"{tag}: {'ok' if len(bad) == n_bad else 'FAILED'}", flush=True)
    for b in bad:
        print(b, file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
