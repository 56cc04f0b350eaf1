"""The benchmark's workloads: what each runs, on inputs of what size.

Each workload stresses a different mix of the engine's layers:

- ``analyst_sql`` — the relational, ETL and CAL-ACCESS query modules,
  read-only and memo-free, dominated by per-query floors (build,
  ``load_table`` resolution, job launch). Every op has a DuckDB twin.
- ``llm_dedup`` — the near-duplicate, ANN and tokenizer demos: heavy
  on ops and shuffles, and the session memos make its cold and warm
  passes differ.
- ``ingest_update`` — forced ``ingest.orchestrator.update`` passes
  over dirty CAL-ACCESS TSVs: text scan, quarantine, write-audit-
  publish and the manifest table; no queries, no ops.
"""

from __future__ import annotations

from calaspark.queries import calaccess, etl, relational
from calaspark.queries import QUERIES


def _ids_of(*modules) -> list[str]:
    names = {m.__name__ for m in modules}
    return [qid for qid, fn in QUERIES.items() if fn.__module__ in names]


#: the set-up warm-up query runs on tables of this scale factor
WARMUP_SF = 0.1

# ``warm_passes`` is the least number of warm passes a run takes, so the
# pass count does not flip with host speed: about 10 s of warm passes
# per workload on a 4-core host. The first warm pass is slower than the
# second (JIT still warming), so a flip would shift the median.

WORKLOADS: dict[str, dict] = {
    "analyst_sql": {
        "kind": "queries",
        "ids": _ids_of(relational, etl, calaccess),
        "warm_passes": 2,
        "sf": 0.01,
        "docs": 2500,
        "vecs": 1000,
    },
    "llm_dedup": {
        "kind": "queries",
        "ids": [
            "lsh_minhash_pairs", "dedup_clusters_lsh", "semdedup_clusters",
            "embedding_neardup", "ngram_neardup", "simhash_neardup",
            "ann_ivf_topk", "ann_recall", "bpe_train_merges",
            "tfidf_topterms", "q73", "q33",
        ],
        "warm_passes": 1,
        "sf": 0.01,
        "docs": 1000,
        "vecs": 600,
    },
    "ingest_update": {
        "kind": "ingest",
        "warm_passes": 1,
        "tsv_rows": {"RCPT_CD": 40_000, "EXPN_CD": 20_000, "LOAN_CD": 10_000},
    },
}

#: input sizes of the smoke self-test (``run.py --smoke``)
SMOKE_SIZES: dict[str, dict] = {
    "analyst_sql": {"sf": 0.001, "docs": 500, "vecs": 500},
    "llm_dedup": {"sf": 0.001, "docs": 500, "vecs": 500},
    "ingest_update": {"tsv_rows": {"RCPT_CD": 3_000, "EXPN_CD": 2_000, "LOAN_CD": 1_000}},
}


def workload(name: str, smoke: bool = False) -> dict:
    """The named workload, at smoke-test sizes if ``smoke``."""
    return {**WORKLOADS[name], **(SMOKE_SIZES[name] if smoke else {})}
