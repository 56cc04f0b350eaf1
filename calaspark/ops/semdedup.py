"""SemDeDup-style semantic deduplication (Abbas et al., "SemDeDup:
Data-efficient learning at web-scale through semantic deduplication",
2023 — public literature): cluster embeddings with a k-means coarse
quantizer, run exact cosine comparisons ONLY inside each cluster, and
keep one representative per near-duplicate group.

Contract vs the exact family: :func:`calaspark.ops.pairs.
grid_cosine_pairs` guarantees recall 1 (triangle-bound blocking);
SemDeDup trades recall for cluster-bounded compare work — a
qualifying pair whose members quantize into DIFFERENT cells is
missed by design (raise ``n_cells`` ↔ recall ↔ cost; the published
method accepts this, and tests pin the within-cell stage exact).

Scale shape (SURVEY §2.5 dedup endgame): quantizer training is
model-sized (ops/ann_ivf — Arrow matmul over sampled batches);
assignment is one scan; the intra-cell self-join runs on a NARROW
flat projection (ids, cell, prefix coords — never the dim-sized
arrays, the q73/pairs.py measured rule) with salted join groups so
parallelism is not capped at the cell count; survivors re-fetch
vectors by id for the exact verify; clustering the survivor pairs is
:func:`calaspark.ops.components.dedup_clusters` (log-diameter star
contraction). Nothing is all-pairs, nothing collects data-sized
state.

Reference anchor: the reference has no vector ops (SURVEY §2 —
Django ORM ETL); this module is north-star pipeline scope (§2.5).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .components import dedup_clusters


def semdedup_pairs(
    inv: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "e",
    cell_col: str = "cell",
    prefilter_dims: int = 16,
    n_salts: int = 8,
    slack: float = 1e-6,
) -> DataFrame:
    """Exact cosine near-dup pairs (sim ≥ ``threshold``) WITHIN each
    cell of a cell-assigned embedding table ``inv`` (e.g.
    :func:`calaspark.ops.ann_ivf.ivf_assign` output).

    The join condition stages cheap-to-expensive inside one codegen
    span (the pairs.py discipline): equi (cell, salt) hash keys, id
    order, then the staged partial-distance prefilter — for unit
    vectors ``cos ≥ τ ⟺ ‖â−b̂‖² ≤ 2−2τ``, and the partial sum over
    the first k coordinates is a necessary bound since omitted terms
    are nonnegative. Survivors re-fetch full vectors by id and run
    the index-ordered exact fold.

    ``prefilter_dims`` must not exceed the embedding dimension (the
    prefix coordinates are plain array indexes — out-of-bounds
    errors loudly, by design, rather than silently weakening the
    bound).
    """
    w2 = (2.0 - 2.0 * threshold) * (1.0 + slack)
    # Round-18 expression diet (guide §5.3, the round-17 §4.4
    # convention): every loop-built projection/condition below
    # composes as ONE parsed SQL string (one py4j round trip +
    # one analyzer pass) instead of ~150 Column/DataFrame ops at a
    # measured ~2–7 ms of driver wall EACH. Semantics are
    # bit-identical: `_e[i]` is the same 0-based GetArrayItem,
    # `0.0D` keeps the fold accumulators DOUBLE, literals repr as
    # shortest-round-trip doubles (the lsh._f64_sql rule), and every
    # add/multiply keeps its left-associated order.
    dot_sql = (
        "aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0.0D, "
        "(acc, v) -> acc + v)"
    )
    w2_sql = f"{float(w2)!r}D"
    pts = inv.selectExpr(
        f"`{id_col}` AS _id",
        f"`{cell_col}` AS _cell",
        f"`{vec_col}` AS _e",
        f"sqrt({dot_sql.format(x=f'`{vec_col}`', y=f'`{vec_col}`')}) AS _n",
    ).filter(F.col("_n") > 0)
    narrow = pts.selectExpr(
        "_id",
        "_cell",
        *[f"_e[{i}] / _n AS _u{i}" for i in range(prefilter_dims)],
    )
    # NOTE (round-17): an explicit pinned repartition on the
    # (salt, cell) equi key — the grid_cosine_pairs fix — was tried
    # here and MEASURED WORSE (4.8 s → 8.3 s at sf0.1): this
    # operator's materialized input already carries enough partitions
    # that the compare join parallelizes, so the forced shuffle of
    # both prefilter-column sides plus the inflated downstream
    # partition counts only added cost. Reverted; left alone.
    a = narrow.selectExpr(
        "_id AS id_a",
        "_cell AS _ca",
        f"CAST(pmod(xxhash64(_id), {n_salts}) AS INT) AS _salt",
        *[f"_u{i} AS _ua{i}" for i in range(prefilter_dims)],
    )
    b = narrow.selectExpr(
        "_id AS id_b",
        "_cell AS _cb",
        f"explode(array({','.join(str(s) for s in range(n_salts))})) "
        "AS _salt",
        *[f"_u{i} AS _ub{i}" for i in range(prefilter_dims)],
    )
    conds = ["(a._salt = b._salt)", "(a._ca = b._cb)", "(a.id_a < b.id_b)"]
    for k in (prefilter_dims // 2, prefilter_dims):
        if k == 0:
            continue
        pdist = " + ".join(
            ["0.0D"]
            + [
                f"(a._ua{i} - b._ub{i}) * (a._ua{i} - b._ub{i})"
                for i in range(k)
            ]
        )
        conds.append(f"({pdist} <= {w2_sql})")
    cond = F.expr(" AND ".join(conds))
    surv = a.alias("a").join(b.alias("b"), cond).select(
        "id_a", "id_b", F.col("a._ca").alias("cell")
    )
    va = pts.selectExpr("_id AS id_a", "_e AS ea", "_n AS na")
    vb = pts.selectExpr("_id AS id_b", "_e AS eb", "_n AS nb")
    sim = F.expr(f"({dot_sql.format(x='ea', y='eb')}) / (na * nb)")
    return (
        surv.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", "cell", "sim")
    )


def semdedup(
    emb: DataFrame,
    n_cells: int = 16,
    iters: int = 2,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "e",
    prefilter_dims: int = 16,
    train_sample_mod: int | None = None,
    centroids=None,
) -> DataFrame:
    """End-to-end SemDeDup: train the coarse quantizer, assign every
    vector to its cell, find within-cell near-dup pairs, cluster
    them, and elect the minimum-id survivor per cluster.

    ``train_sample_mod``: when set, the quantizer trains on the
    deterministic hash sample ``xxhash64(id) % mod == 0`` instead of
    the full corpus — the standard at-scale recipe (a coarse
    quantizer needs representative cell SHAPES, not every point; at
    100 TB a full-corpus Lloyd pass per iteration is the dominant
    cost for no recall benefit, since correctness comes from the
    exact verify, not the clustering). Assignment still covers every
    vector.

    ``centroids``: a pre-trained (k × dim) quantizer to reuse —
    corpus-level MODEL state, the ann_ivf build/probe discipline:
    train once per corpus, reuse across dedup invocations (repeated
    pipeline runs over the same snapshot retrain nothing).

    Returns (id, cell, cluster, is_canonical) — filter
    ``is_canonical = 1`` for the semantically deduplicated corpus.
    """
    from .ann_ivf import ivf_assign, train_ivf_centroids
    from .materialize import materialize

    e = emb.select(id_col, vec_col)
    if centroids is not None:
        # Round-18 consumer-count audit (the q147/q171 barrier-diet
        # rule): with a pre-trained quantizer, ``e`` has exactly ONE
        # consumer — ``ivf_assign`` — and everything downstream reads
        # the materialized ``inv``, so checkpointing ``e`` was a pure
        # extra pass over the corpus per call. Only the training path
        # (centroids=None), where ``e`` feeds BOTH the Lloyd
        # iterations and the assignment, still needs the barrier.
        cents = centroids
    else:
        e = materialize(e)
        train = (
            e.filter(
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("long")), train_sample_mod
                )
                == 0
            )
            if train_sample_mod
            else e
        )
        cents = train_ivf_centroids(train, n_cells, iters, id_col, vec_col)
    inv = materialize(ivf_assign(e, cents, id_col, vec_col))
    pairs = semdedup_pairs(
        inv,
        threshold=threshold,
        id_col=id_col,
        vec_col=vec_col,
        prefilter_dims=prefilter_dims,
    )
    out = dedup_clusters(
        pairs, inv.select(id_col), id_col, src="id_a", dst="id_b"
    )
    return out.join(
        inv.select(F.col(id_col), F.col("cell").cast("int").alias("cell")),
        id_col,
    ).select(id_col, "cell", "cluster", "is_canonical")
