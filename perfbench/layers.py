"""Per-layer tracing for the traced benchmark run.

Nothing here runs in a timed (untraced) run. :class:`Tracer` wraps the
public functions of each layer at every module attribute a caller
resolves (the defining module, plus every ``calaspark`` module that
imported the function by name), tags each op's jobs with a Spark job
group per phase, and reads per-stage bytes from the status store.
Time spans are inclusive: a layer's seconds include the layers it
calls. Calls that re-enter the same layer are timed once, by the
outermost call.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

#: layer name -> modules whose public functions make up the layer
OPS_LAYERS = {
    "ops.lsh": "calaspark.ops.lsh",
    "ops.pairs": "calaspark.ops.pairs",
    "ops.semdedup": "calaspark.ops.semdedup",
    "ops.ann_ivf": "calaspark.ops.ann_ivf",
    "ops.bpe": "calaspark.ops.bpe",
}

#: ingest sinks: layer name -> (module, attribute)
INGEST_SINKS = {
    "ingest.wap": ("calaspark.ingest.load", "write_parquet_wap"),
    "ingest.quarantine_write": ("calaspark.ingest.load", "write_quarantine"),
    "ingest.compact": ("calaspark.ops.layout", "compact_parquet"),
}

#: every per-pass metric the traced run reports, with its unit
PASS_METRICS = {
    "tables.load_table_calls": "count",
    "tables.load_table_s": "s",
    "tables.memo_misses": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.input_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    **{f"{layer}_s": "s" for layer in OPS_LAYERS},
    "ops.memo_entries_added": "count",
    "ingest.clean_count_s": "s",
    **{f"{layer}_s": "s" for layer in INGEST_SINKS},
    "ingest.manifest_table_s": "s",
    "ingest.jobs_per_file": "count",
    "ingest.input_bytes_per_raw_byte": "ratio",
    "ingest.good_row_share": "ratio",
}


def _memo_dicts() -> list[dict]:
    """Module-global memo dicts of the engine: every module-level dict
    bound to an upper-case private name in a ``calaspark`` module.
    Constant tables among them never grow, so the summed ``len()``
    growth over a pass counts memo entries added."""
    out, seen = [], set()
    for name, mod in list(sys.modules.items()):
        if not name.startswith("calaspark") or mod is None:
            continue
        for attr, val in vars(mod).items():
            if (
                isinstance(val, dict)
                and attr.startswith("_")
                and attr.lstrip("_").isupper()
                and id(val) not in seen
            ):
                seen.add(id(val))
                out.append(val)
    return out


class Tracer:
    """Per-layer spans and counts for one session."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.busy: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._depth: dict[str, int] = defaultdict(int)
        self._seq = 0

    # ------------------------------------------------------- wrapping

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.calls[layer] += 1
            if self._depth[layer]:
                return fn(*args, **kwargs)
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self.busy[layer] += time.perf_counter() - t0
                self._depth[layer] -= 1

        return traced

    @staticmethod
    def _rebind(fn, wrapped) -> None:
        """Point every ``calaspark`` module attribute bound to ``fn``
        at ``wrapped``."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith("calaspark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, attr, wrapped)

    def install(self) -> None:
        """Wrap every traced layer. Imports the layer modules first, so
        modules a query function imports lazily are wrapped too."""
        tables = importlib.import_module("calaspark.tables")
        self._rebind(tables.load_table, self._wrap("tables.load_table", tables.load_table))
        for layer, modname in OPS_LAYERS.items():
            mod = importlib.import_module(modname)
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and not attr.startswith("_")
                    and fn.__module__ == modname
                ):
                    self._rebind(fn, self._wrap(layer, fn))
        for layer, (modname, attr) in INGEST_SINKS.items():
            fn = getattr(importlib.import_module(modname), attr)
            self._rebind(fn, self._wrap(layer, fn))
        importlib.import_module("calaspark.ingest.orchestrator")
        manifest = importlib.import_module("calaspark.ingest.manifest").Manifest
        manifest.write_table = self._wrap("ingest.manifest_table", manifest.write_table)

    # ------------------------------------------------------ snapshots

    def snapshot(self) -> dict:
        return {
            "busy": dict(self.busy),
            "calls": dict(self.calls),
            "table_memo": len(getattr(self.spark, "_calaspark_table_memo", {})),
            # rescanned each time: modules that query functions import lazily
            # bring their memos along mid-pass
            "memo_entries": sum(len(d) for d in _memo_dicts()),
        }

    # ----------------------------------------------------- job groups

    def group(self, phase: str) -> str:
        """Tag the jobs that follow with a fresh job group; return it."""
        self._seq += 1
        gid = f"perfbench-{self._seq}-{phase}"
        self.sc.setJobGroup(gid, phase)
        return gid

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def job_stats(self, gid: str) -> dict:
        """Jobs, completed tasks, input, shuffle-write and spill bytes of
        every job in ``gid``, from the status store (works with the UI
        off). Waits for the listener bus first, so finished stages carry
        their final metrics."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        jobs = list(tracker.getJobIdsForGroup(gid))
        out = {"jobs": len(jobs), "tasks": 0, "input_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted (skipped)
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["input_bytes"] += st.inputBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out


def pass_metrics(before: dict, after: dict, ops: list[dict], ingest: dict | None) -> dict:
    """Per-layer metrics of one pass, from the tracer snapshots taken
    before and after it and the pass's per-op trace records."""
    def busy(layer):
        return after["busy"].get(layer, 0.0) - before["busy"].get(layer, 0.0)

    def calls(layer):
        return after["calls"].get(layer, 0) - before["calls"].get(layer, 0)

    m = {
        "tables.load_table_calls": calls("tables.load_table"),
        "tables.load_table_s": busy("tables.load_table"),
        "tables.memo_misses": after["table_memo"] - before["table_memo"],
        "queries.build_s": sum(o["build_s"] for o in ops),
        "queries.build_jobs": sum(o["build"]["jobs"] for o in ops),
        "exec.s": sum(o["exec_s"] for o in ops),
        "ops.memo_entries_added": after["memo_entries"] - before["memo_entries"],
    }
    for k in ("jobs", "tasks", "input_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = sum(o["exec"][k] for o in ops)
    for layer in OPS_LAYERS:
        m[f"{layer}_s"] = busy(layer)
    sinks = 0.0
    for layer in (*INGEST_SINKS, "ingest.manifest_table"):
        m[f"{layer}_s"] = busy(layer)
        sinks += busy(layer)
    if ingest:
        m["ingest.clean_count_s"] = ingest["update_s"] - sinks
        m["ingest.jobs_per_file"] = ingest["jobs"] / ingest["files"]
        m["ingest.input_bytes_per_raw_byte"] = ingest["input_bytes"] / ingest["raw_bytes"]
        m["ingest.good_row_share"] = ingest["good"] / ingest["body"]
    else:
        for k in ("clean_count_s", "jobs_per_file", "input_bytes_per_raw_byte", "good_row_share"):
            m[f"ingest.{k}"] = 0.0
    return m
