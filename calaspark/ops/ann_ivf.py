"""IVF (inverted-file) approximate nearest neighbor — the coarse-
quantizer scale path for vector similarity (SURVEY.md §2.5 E18),
next to the SimHash-bucket path in :mod:`calaspark.ops.lsh`.

IVF is the other standard ANN family: cluster the corpus into
``n_cells`` Voronoi cells around learned centroids (k-means), store
each vector under its cell (the "inverted file"), and at query time
exact-rank only the ``nprobe`` cells whose centroids are nearest the
probe. Versus hyperplane LSH: data-adaptive cells follow the actual
embedding distribution (better recall per candidate scanned when the
corpus is clustered), at the cost of a training pass.

Scale shape (the part that must survive 100 TB):

- **Training state is model-sized, not data-sized.** The only
  driver-side materialization is the k × dim centroid matrix
  (``n_cells`` ≤ a few thousand floats) — legitimate model
  parameters, the same object a FAISS index ships to every worker.
- **Assignment is one Arrow-batched pass.** Nearest-centroid is a
  dense (batch × dim) @ (dim × k) matmul — exactly the shape
  built-in SQL expressions cannot express efficiently (k folds of an
  interpreted lambda per row) and a vectorized pandas UDF does in
  BLAS. One narrow projection, no shuffle.
- **Lloyd updates are distributed aggregations.** New centroid =
  per-cell per-dimension mean via ``posexplode`` → partial-agg
  shuffle on (cell, dim) — k·dim result rows, map-side combined.
- **Query touches nprobe/n_cells of the corpus.** Cell filter is a
  pushable IN-list predicate; exact cosine re-rank only inside the
  probed cells; TopK is a per-partition heap + 1-row-merge.

The reference has no vector surface (SURVEY.md §2 E18 rationale —
its consumers run SQL over loaded tables); this operator is part of
the training-data-pipeline extension the engine adds on top.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

try:  # numpy ships with pyspark's Arrow path; gate anyway
    import numpy as np
except ImportError:  # pragma: no cover
    np = None  # type: ignore[assignment]


def _require_numpy() -> None:
    if np is None:  # pragma: no cover
        raise NotImplementedError("IVF ANN requires numpy (Arrow batch path)")


def _unit_rows(m: "np.ndarray") -> "np.ndarray":
    n = np.linalg.norm(m, axis=1, keepdims=True)
    n[n == 0.0] = 1.0
    return m / n


def _assigner(centroids: "np.ndarray"):
    """Arrow-batched nearest-centroid (by cosine) pandas UDF. The
    centroid matrix rides the serialized closure to every executor —
    model-parameter broadcast, the IVF equivalent of shipping the
    quantizer."""
    cu = _unit_rows(np.asarray(centroids, dtype="float64"))

    @pandas_udf("int")
    def assign(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())
        return pd.Series(
            np.argmax(_unit_rows(m) @ cu.T, axis=1).astype("int32")
        )

    return assign


def train_ivf_centroids(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> "np.ndarray":
    """k-means(ish) coarse quantizer: deterministic seeding (the
    ``n_cells`` vectors with smallest ``xxhash64(id)`` — a fixed
    pseudo-random sample, no RNG state), then ``iters`` Lloyd rounds
    where assignment is the Arrow matmul pass and the update is a
    distributed (cell, dim) mean. Empty cells keep their previous
    centroid. Returns the k × dim matrix (driver-side model state).
    """
    _require_numpy()
    seed_rows = (
        emb.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("long")), F.col(id_col))
        .limit(n_cells)
        .collect()
    )
    cents = np.asarray([r[vec_col] for r in seed_rows], dtype="float64")
    for _ in range(iters):
        # Two-step projection on purpose: assign FIRST (one Arrow
        # batch per input row), explode in a SEPARATE select. Putting
        # the pandas UDF and posexplode in one projection makes the
        # Generate node re-evaluate the UDF column per exploded
        # element — a dim× blowup of Python round-trips (measured
        # ~300× at sf0.1).
        assigned = emb.select(
            _assigner(cents)(F.col(vec_col)).alias("cell"), F.col(vec_col)
        )
        rows = (
            assigned.select("cell", F.posexplode(F.col(vec_col)).alias("dim", "x"))
            .groupBy("cell", "dim")
            .agg(F.avg("x").alias("mu"))
            .collect()  # k·dim rows — model parameters, not data
        )
        nxt = cents.copy()
        touched = {r["cell"] for r in rows}
        for c in touched:
            nxt[c] = 0.0
        for r in rows:
            nxt[r["cell"], r["dim"]] = r["mu"]
        cents = nxt
    return cents


def ivf_assign(
    emb: DataFrame,
    centroids: "np.ndarray",
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> DataFrame:
    """Corpus → (id, vector, cell): the inverted file. A 100 TB
    deployment persists this partitioned by cell so queries prune
    whole files."""
    _require_numpy()
    return emb.select(
        F.col(id_col),
        F.col(vec_col),
        _assigner(centroids)(F.col(vec_col)).alias("cell"),
    )


@dataclass(frozen=True)
class IvfIndex:
    """Handle to a persisted IVF index: the k × dim centroid matrix
    (driver-side model state) plus the path of the inverted file —
    the (id, vector, cell) corpus written partitioned BY CELL, so a
    probe's ``cell IN (...)`` filter prunes whole directories at the
    source (partition pruning, not just a row filter)."""

    centroids: "np.ndarray"
    invfile_path: str
    id_col: str
    vec_col: str


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> IvfIndex:
    """Train the quantizer ONCE and persist both halves of the index:
    ``{path}/centroids`` (k rows of (cell, centroid)) and
    ``{path}/invfile`` (the corpus with its cell assignment,
    ``partitionBy("cell")``). This is the FAISS build/search split in
    Spark terms — build pays the training + assignment passes once;
    every later probe is a pruned scan of nprobe/n_cells of the data
    with zero Python-UDF work on the corpus.
    """
    _require_numpy()
    from .materialize import materialize

    emb = materialize(emb.select(id_col, vec_col))
    cents = train_ivf_centroids(emb, n_cells, iters, id_col, vec_col)
    spark = emb.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
        "cell int, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    (
        ivf_assign(emb, cents, id_col, vec_col)
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(f"{path}/invfile")
    )
    return IvfIndex(cents, f"{path}/invfile", id_col, vec_col)


def load_ivf_index(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> IvfIndex:
    """Re-open a persisted index: centroids to the driver (model-sized
    collect), inverted file stays where it is."""
    _require_numpy()
    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    cents = np.asarray([r["centroid"] for r in rows], dtype="float64")
    return IvfIndex(cents, f"{path}/invfile", id_col, vec_col)


def load_or_build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "e",
) -> IvfIndex:
    """Load the index at ``path`` if present, else build it there.
    Presence = the parquet ``_SUCCESS`` markers of both halves (a
    half-written index from a killed build is rebuilt, not trusted).
    Handles are session-memoized (the centroids are model state), which
    saves one centroid-parquet read job per repeated probe."""
    from ..memo import session_memo

    def build() -> IvfIndex:
        ok = all(
            Path(path, part, "_SUCCESS").exists()
            for part in ("centroids", "invfile")
        )
        if ok:
            return load_ivf_index(emb.sparkSession, path, id_col, vec_col)
        return build_ivf_index(emb, path, n_cells, iters, id_col, vec_col)

    return session_memo(
        emb.sparkSession,
        "ann_ivf.index",
        (path, n_cells, iters, id_col, vec_col),
        build,
    )


def ivf_probe(
    spark: SparkSession,
    index: IvfIndex,
    probe_vec: "np.ndarray",
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors of ``probe_vec`` from a built index.
    Cell choice is k tiny driver-side distances on model state; the
    corpus scan reads only the ``nprobe`` chosen cell partitions
    (pruned at the file listing) and re-ranks with exact cosine —
    plan-literal dot product, no Python on the scan path."""
    _require_numpy()
    q = np.asarray(probe_vec, dtype="float64")
    qn = np.linalg.norm(q)
    qu = q / (qn if qn else 1.0)
    sims = _unit_rows(index.centroids) @ qu
    cells = [int(c) for c in np.argsort(-sims)[:nprobe]]

    inv = spark.read.parquet(index.invfile_path)
    cand = inv.filter(F.col("cell").isin(cells))
    nrm = _vec_norm(index.vec_col)
    sim = F.round(
        _dot_probe(index.vec_col, qu)
        / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
        4,
    )
    return (
        cand.select(F.col(index.id_col), F.col("cell").cast("int").alias("cell"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(index.id_col).asc())
        .limit(k)
    )


def _dot_probe(vec: "Column | str", probe: "np.ndarray") -> Column:
    """Plan-literal dot product against the (unit-scaled) probe.

    Pass ``vec`` as a COLUMN NAME string for the fast build path: the
    whole left-associated multiply-add chain then parses as ONE py4j
    round-trip (the round-17 expression-build fix — the Column-built
    chain cost ~dim×2 round-trips ≈ 0.45 s per call at dim=64,
    measured via cProfile in ann_recall). ``repr`` double literals
    parse correctly rounded, so every term — and the chain's IEEE
    evaluation order — is bit-identical to the Column form."""
    if isinstance(vec, str):
        chain = " + ".join(
            f"element_at(`{vec}`, {i + 1}) * {float(w)!r}D"
            for i, w in enumerate(probe.tolist())
        )
        return F.expr(chain)
    out = None
    for i, w in enumerate(probe.tolist()):
        term = F.element_at(vec, i + 1) * F.lit(float(w))
        out = term if out is None else out + term
    assert out is not None
    return out


def _vec_norm(vec_col: str) -> Column:
    """L2 norm of a double-array column as ONE parsed expression
    (round-17: the Column-built ``F.aggregate`` lambda fold costs
    ~35 ms of py4j round-trips per build; the string parses once).
    ``0.0D`` keeps the accumulator DOUBLE — bare ``0.0`` parses as
    DECIMAL — so the fold is bit-identical to the F.lit(0.0) form."""
    return F.expr(
        f"sqrt(aggregate(`{vec_col}`, 0.0D, (a, v) -> a + v * v))"
    )


def ann_topk_ivf(
    emb: DataFrame,
    probe_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "e",
    index_path: str | None = None,
) -> DataFrame:
    """Approximate top-k cosine neighbors of ``probe_id`` via IVF:
    train the quantizer, pick the ``nprobe`` cells whose centroids
    are nearest the probe (driver-side — k tiny distances on model
    state), filter the corpus to those cells (pushable IN-list),
    exact-cosine re-rank inside them. Recall < 1 (cell-boundary
    neighbors are missed when nprobe < n_cells) — raise nprobe to
    trade candidates for recall.

    With ``index_path`` set, the index is load-or-built at that path
    (:func:`load_or_build_ivf_index`): the first call pays training +
    assignment, every later probe is a pruned scan — the repeated-
    query shape. Without it, everything runs in-memory per call
    (self-contained demo shape).
    """
    from .materialize import materialize

    _require_numpy()
    if index_path is not None:
        idx = load_or_build_ivf_index(
            emb, index_path, n_cells, iters, id_col, vec_col
        )
        probe_rows = (
            emb.filter(F.col(id_col) == probe_id).select(vec_col).collect()
        )
        if not probe_rows:
            raise ValueError(f"probe id {probe_id} not found")
        return ivf_probe(
            emb.sparkSession,
            idx,
            np.asarray(probe_rows[0][vec_col], dtype="float64"),
            k,
            nprobe,
        )
    # Materialize the (id, vector) frame ONCE: training makes
    # iters+2 passes over it, and cutting the upstream lineage keeps
    # any interpreted cast/transform expressions out of every pass
    # (the round-2 lesson: compact intermediates before fan-out).
    emb = materialize(emb.select(id_col, vec_col))
    cents = train_ivf_centroids(emb, n_cells, iters, id_col, vec_col)
    probe_rows = emb.filter(F.col(id_col) == probe_id).select(vec_col).collect()
    if not probe_rows:
        raise ValueError(f"probe id {probe_id} not found")
    q = np.asarray(probe_rows[0][vec_col], dtype="float64")
    qn = np.linalg.norm(q)
    qu = q / (qn if qn else 1.0)
    sims = _unit_rows(cents) @ qu
    cells = [int(c) for c in np.argsort(-sims)[:nprobe]]

    inv = ivf_assign(emb, cents, id_col, vec_col)
    cand = inv.filter(F.col("cell").isin(cells))
    nrm = _vec_norm(vec_col)
    sim = F.round(
        _dot_probe(vec_col, qu)
        / F.when(nrm == 0.0, F.lit(1.0)).otherwise(nrm),
        4,
    )
    return (
        cand.select(F.col(id_col), F.col("cell"), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )
