"""Product-Quantization ANN (E18's memory-scale path — Jégou,
Douze & Schmid 2011, "Product quantization for nearest neighbor
search", IEEE TPAMI; public literature).

IVF (ann_ivf.py) prunes WHICH vectors a probe scans; PQ shrinks WHAT
a scan reads: each d-dim float vector becomes ``m`` small codes
(here 8 codes of 4 bits each — a 64-dim float32 vector compresses
256 B → 8 B, 32×), and a probe scores candidates from the CODES
alone via per-subquantizer lookup tables (ADC — asymmetric distance
computation). At 100 TB that is the difference between "the scan
reads the whole embedding column" and "the scan reads 3 % of it";
the exact vectors are fetched only for the top-N re-rank survivors
(the q73 narrow-candidate-join lesson applied to ANN).

Spark shape discipline:

- **Training** is driver-side numpy over a deterministic hash-order
  sample (model fitting on model-sized data — the ann_ivf seeding
  convention, no RNG state anywhere);
- **Encoding** is ONE Arrow-batched pandas UDF pass (the declared
  Python/Arrow boundary — per-subvector argmin is a dense matmul);
- **Probing** is pure codegen: the per-subquantizer LUTs enter the
  plan as literal arrays and the approximate score is a fixed sum
  of ``element_at`` lookups — zero Python on the scan path;
- **Re-rank** joins exact vectors back for the top-N survivors only
  (ids + scores cross the exchange, never the vector column).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

try:  # numpy is model-state math only — never on the scan path
    import numpy as np
except ImportError:  # pragma: no cover
    np = None  # type: ignore[assignment]

try:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
except ImportError:  # pragma: no cover
    pd = None  # type: ignore[assignment]


def _require_numpy() -> None:
    if np is None:  # pragma: no cover
        raise NotImplementedError(
            "ops.ann_pq needs numpy for codebook training (model-side "
            "only); the container is expected to ship it"
        )


@dataclass(frozen=True)
class PqModel:
    """Driver-side model state: (m, ksub, dsub) codebooks."""

    books: "np.ndarray"  # shape (m, ksub, dsub)

    @property
    def m(self) -> int:
        return self.books.shape[0]

    @property
    def ksub(self) -> int:
        return self.books.shape[1]


def train_pq(
    emb: DataFrame,
    m: int = 8,
    ksub: int = 16,
    iters: int = 3,
    sample: int = 512,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> PqModel:
    """Fit per-subvector codebooks on a deterministic sample: the
    ``sample`` vectors with smallest ``xxhash64(id)`` (the ann_ivf
    seeding convention — a fixed pseudo-random draw, no RNG), then
    ``iters`` Lloyd rounds per subquantizer in float64 numpy.
    Ties in argmin resolve to the first index; empty codes keep
    their previous centroid — fully deterministic."""
    _require_numpy()
    rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("long")), F.col(id_col))
        .limit(sample)
        .collect()
    )
    x = np.asarray([r[vec_col] for r in rows], dtype="float64")
    d = x.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    dsub = d // m
    books = np.zeros((m, ksub, dsub), dtype="float64")
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cents = sub[:ksub].copy()
        for _ in range(iters):
            dist = ((sub[:, None, :] - cents[None]) ** 2).sum(-1)
            assign = np.argmin(dist, axis=1)
            for c in range(ksub):
                pts = sub[assign == c]
                if len(pts):
                    cents[c] = pts.mean(0)
        books[j] = cents
    return PqModel(books)


def pq_encode(
    emb: DataFrame,
    model: PqModel,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Corpus → (id, codes array<int> of length m): the compressed
    table a 100 TB deployment persists INSTEAD of shipping the raw
    embedding column through every ANN scan. One Arrow pass; the
    codebooks ride the closure like ann_ivf's centroid matrix."""
    _require_numpy()
    books = model.books
    m, _, dsub = books.shape

    @pandas_udf("array<int>")
    def encode(v: "pd.Series") -> "pd.Series":
        x = np.stack(v.to_numpy()).astype("float64")
        codes = np.empty((x.shape[0], m), dtype="int32")
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            dist = ((sub[:, None, :] - books[j][None]) ** 2).sum(-1)
            codes[:, j] = np.argmin(dist, axis=1)
        return pd.Series(list(codes))

    return emb.select(F.col(id_col), encode(F.col(vec_col)).alias("codes"))


def _adc_score(model: PqModel, probe_unit: "np.ndarray"):
    """Codegen ADC cosine estimate: dot and squared-norm LUTs enter
    the plan as literal arrays; the score is a fixed sum of
    ``element_at`` lookups — whole-stage-codegen, no Python."""
    books = model.books
    m, _, dsub = books.shape

    def lut_sql(vals) -> str:
        # repr doubles parse correctly rounded → bit-identical to the
        # former F.lit path (round-17 expression-build fix: the two
        # m×ksub literal LUTs cost ~300 py4j round-trips ≈ 0.7 s of
        # driver time per build as Column trees; ONE parse now).
        return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"

    dot_parts, nrm_parts = [], []
    for j in range(m):
        qj = probe_unit[j * dsub : (j + 1) * dsub]
        code_j = f"(element_at(`codes`, {j + 1}) + 1)"  # 1-based
        dot_parts.append(
            f"element_at({lut_sql([c @ qj for c in books[j]])}, {code_j})"
        )
        nrm_parts.append(
            f"element_at({lut_sql([c @ c for c in books[j]])}, {code_j})"
        )
    dot_terms = F.expr(" + ".join(dot_parts))
    nrm = F.sqrt(F.expr(" + ".join(nrm_parts)))
    return dot_terms / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm)


def pq_topk(
    emb: DataFrame,
    codes: DataFrame,
    model: PqModel,
    probe_vec: "np.ndarray",
    k: int = 10,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Top-k cosine neighbors: ADC scan over the CODES table ranks a
    ``rerank``-sized candidate pool (TakeOrdered — per-partition
    top-N, ids + scores only), then the exact cosine re-rank fetches
    full vectors for survivors alone via an id equi-join."""
    _require_numpy()
    q = np.asarray(probe_vec, dtype="float64")
    qn = np.linalg.norm(q)
    qu = q / (qn if qn else 1.0)

    pool = (
        codes.select(id_col, _adc_score(model, qu).alias("adc"))
        .orderBy(F.col("adc").desc(), F.col(id_col).asc())
        .limit(rerank)
    )
    from .ann_ivf import _dot_probe

    from .ann_ivf import _vec_norm

    nrm = _vec_norm(vec_col)
    exact = F.round(
        _dot_probe(vec_col, qu)
        / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
        4,
    )
    return (
        emb.join(pool.select(id_col), id_col, "left_semi")
        .select(F.col(id_col), exact.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------- cache

def load_or_build_pq(
    emb: DataFrame,
    source: str,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> tuple[PqModel, DataFrame]:
    """Train + encode once per (session, ``source`` snapshot, params)
    and memoize: the codebooks are model state and the encoded table
    is materialized so repeated probes scan codes without re-running
    the Arrow encode pass. ``source``: the file ``emb`` comes from."""
    from ..memo import session_memo
    from .materialize import materialize

    def build() -> tuple[PqModel, DataFrame]:
        model = train_pq(emb, m=m, ksub=ksub, id_col=id_col, vec_col=vec_col)
        return model, materialize(pq_encode(emb, model, id_col, vec_col))

    return session_memo(
        emb.sparkSession, "ann_pq.pq", (m, ksub, id_col, vec_col), build, (source,)
    )


# ---------------------------------------------------------------- IVF-PQ


def ivfpq_topk(
    codes_with_cell: DataFrame,
    emb: DataFrame,
    model: PqModel,
    centroids: "np.ndarray",
    probe_vec: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """The composed index (IVF-PQ — the FAISS-canonical layout):
    IVF prunes WHICH rows the probe reads (``cell IN (...)`` over a
    cell-partitioned codes table prunes whole files), PQ shrinks
    WHAT each read costs (codes, not vectors), and the exact re-rank
    touches full vectors for the survivor pool only. At 100 TB a
    probe therefore reads ``nprobe/n_cells`` of a table that is
    already 32× smaller than the embedding column — the two
    reductions multiply.

    ``codes_with_cell`` carries (id, cell, codes); cell choice is
    the same driver-side centroid argsort as ``ivf_probe`` (cosine
    on unit rows)."""
    _require_numpy()
    from .ann_ivf import _dot_probe, _unit_rows

    q = np.asarray(probe_vec, dtype="float64")
    qn = np.linalg.norm(q)
    qu = q / (qn if qn else 1.0)
    sims = _unit_rows(centroids) @ qu
    cells = [int(c) for c in np.argsort(-sims)[:nprobe]]

    pool = (
        codes_with_cell.filter(F.col("cell").isin(cells))
        .select(id_col, _adc_score(model, qu).alias("adc"))
        .orderBy(F.col("adc").desc(), F.col(id_col).asc())
        .limit(rerank)
    )
    from .ann_ivf import _vec_norm

    nrm = _vec_norm(vec_col)
    exact = F.round(
        _dot_probe(vec_col, qu)
        / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
        4,
    )
    return (
        emb.join(pool.select(id_col), id_col, "left_semi")
        .select(F.col(id_col), exact.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def load_or_build_ivfpq(
    emb: DataFrame,
    source: str,
    ivf_index_path: str,
    m: int = 8,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> tuple[PqModel, DataFrame, "np.ndarray"]:
    """Compose the persisted IVF index (built/loaded at
    ``ivf_index_path`` via ops.ann_ivf) with the session-memoized PQ
    model: the handle is (model, materialized (id, cell, codes)
    table, centroid matrix), memoized like the PQ handle. A 100 TB
    deployment persists the codes table partitionBy("cell") exactly
    like the inverted file."""
    from ..memo import session_memo
    from .ann_ivf import load_or_build_ivf_index
    from .materialize import materialize

    def build() -> tuple[PqModel, DataFrame, "np.ndarray"]:
        model, codes = load_or_build_pq(emb, source, m, ksub, id_col, vec_col)
        idx = load_or_build_ivf_index(
            emb, ivf_index_path, id_col=id_col, vec_col=vec_col
        )
        inv = emb.sparkSession.read.parquet(idx.invfile_path).select(
            id_col, "cell"
        )
        return model, materialize(codes.join(inv, id_col)), idx.centroids

    return session_memo(
        emb.sparkSession,
        "ann_pq.ivfpq",
        (ivf_index_path, m, ksub, id_col, vec_col),
        build,
        (source,),
    )
