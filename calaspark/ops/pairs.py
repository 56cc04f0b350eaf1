"""Triangle block join — distributed exact all-pairs (SURVEY.md §2.5
E17/E18 exact contracts).

The shape for "compare every unordered pair" that survives scale-up:
no broadcast of the corpus, no BroadcastNestedLoopJoin, no cartesian.
Rows hash into ``B`` buckets; a row in bucket ``b`` is emitted once
per bucket-pair group it belongs to (left role: group (b, j) for
j ≥ b; right role: group (i, b) for i ≤ b), and a plain shuffle
EQUI-join on the (i, j) group key brings exactly the rows of buckets
i and j together. Every unordered pair meets in exactly ONE group
(same-bucket groups contain both orientations; one is kept by id
order), so the output is the exact pair set.

Cost model: each side shuffles B copies of its rows (keep the
projected row narrow — ids, counts, fingerprints, vectors), and the
O(n²) compare work splits into B(B+1)/2 independent, hash-balanced
key groups of (n/B)² pairs — even parallelism at any n, no skew by
construction. Raise B with cluster size: work per group shrinks as
B², replication only linearly.

Exact all-pairs is inherently quadratic — at true 100 TB the
near-dup answer is candidate generation (banded MinHash /
SimHash buckets / IVF cells in :mod:`calaspark.ops.lsh` and
:mod:`calaspark.ops.ann_ivf`); this operator is the plan when the
declared contract is EVERY qualifying pair.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def with_rotated_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    bleed: float = 0.02,
    id_offset: int = 100000,
) -> DataFrame:
    """Append a deterministically perturbed near-dup twin of every
    vector (2% rotated-component bleed, cosine ≈ 0.999, id +
    ``id_offset``) — the shared synthetic-duplicate corpus of
    q73/embedding_neardup/semdedup_clusters (the raw testdata
    embeddings are near-random, max natural cosine ≈ 0.51).

    ONE pass via a 2-element struct-array explode (round-17): the
    previous ``e.unionAll(dup)`` form computed the upstream twice and
    summed both sides' partition counts, doubling every downstream
    stage's task count. Per-element arithmetic is unchanged
    (``a + bleed·b`` over the rotate-by-one lane), so the values —
    and q73's oracled sims — are bit-identical to the union form.
    """
    v = F.col(vec_col)
    rot = F.concat(F.slice(v, 2, 63), F.slice(v, 1, 1))
    pert = F.zip_with(v, rot, lambda a, b: a + F.lit(bleed) * b)
    both = F.explode(
        F.array(
            F.struct(F.col(id_col).alias("i"), v.alias("v")),
            F.struct(
                (F.col(id_col) + F.lit(id_offset)).alias("i"),
                pert.alias("v"),
            ),
        )
    )
    return df.select(both.alias("_r")).select(
        F.col("_r.i").alias(id_col), F.col("_r.v").alias(vec_col)
    )


def auto_block_dims(n: int, base: int = 3, cap: int = 6) -> int:
    """Density-adaptive grid dimensionality for
    :func:`grid_cosine_pairs`: one extra blocked dimension per ~64x
    corpus growth past 8k rows.

    The trade: each extra dimension multiplies the exploded side's
    replication by 3 but divides dense cells' candidate volume by
    the per-axis cell selectivity — so the right ``block_dims``
    GROWS with corpus density. Measured on a 64-dim near-uniform
    corpus (round-17 scale probes): at 4k rows bd=3 ≈ bd=4 (wash),
    at 64k rows bd=4 is ~32% faster than bd=3 (40 s → 26 s) and
    bd=5 already over-replicates (29 s) — hence thresholds at
    8k, 8k*64, 8k*64^2, ... capped at ``cap``."""
    bd, t = base, 8000
    while n > t and bd < cap:
        bd += 1
        t *= 64
    return bd


def grid_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    threshold: float = 0.95,
    block_dims: int | None = 3,
    prefilter_dims: int = 16,
    slack: float = 1e-6,
    n_salts: int = 8,
    n_rows: int | None = None,
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs (sim ≥ ``threshold``)
    via guaranteed-recall grid blocking — the exact twin of
    :func:`calaspark.ops.lsh.embedding_neardup_pairs` (whose SimHash
    buckets have recall < 1 by construction).

    Geometry: for unit-normalized vectors â, b̂,
    ``cos(a,b) ≥ τ  ⟺  ‖â−b̂‖² ≤ 2−2τ = w²``, hence EVERY coordinate
    satisfies ``|â_i−b̂_i| ≤ w``. Quantizing the first ``block_dims``
    normalized coordinates into cells of width ``w·(1+slack)`` makes
    "home cells within Chebyshev distance 1" a NECESSARY condition
    for any qualifying pair (the slack absorbs FP rounding of the
    division so two floors can never straddle by 2). The left role
    is exploded into its 3^block_dims neighbor cells, the right role
    keeps its single home cell, and a plain shuffle EQUI-join on the
    cell key meets each unordered pair exactly once (the right side's
    home cell is one cell). Exact cosine then verifies candidates
    only — recall is 1 by the triangle bound, precision by the
    verify, so the output equals the all-pairs answer.

    Scale: replication is 3^block_dims on one side only; compare
    work collapses from n²/2 to the sum over neighboring-cell
    volume products. Selectivity improves as τ → 1 (w shrinks) and
    on real, clustered corpora where the leading coordinates carry
    variance (rotate by PCA upstream for the tightest cells); on a
    near-uniform corpus the normalized coordinates concentrate near
    0 and the grid degrades gracefully toward banded all-pairs —
    still shuffle-balanced, never a cartesian. ``block_dims`` trades
    replication against cell selectivity; pass ``block_dims=None``
    to derive it from corpus size via :func:`auto_block_dims`
    (supply ``n_rows`` — e.g. a parquet footer count — to avoid the
    one count() job the derivation otherwise runs).

    ``prefilter_dims``: the same triangle bound, applied as a CHEAP
    necessary-condition conjunct before the O(dim) verify — a
    qualifying pair's PARTIAL squared distance over the first k
    normalized coordinates can never exceed w², since the omitted
    terms are nonnegative. On a near-uniform corpus (where the grid
    itself is weak) the partial sum over 16 coords has mean ≈ 0.5
    for a random pair vs the w² = 0.1 bound at τ = 0.95, so ≳99.9 %
    of candidates die on 16 scalar subtract-square-adds inside
    whole-stage codegen and never reach the interpreted fold.
    Conjunct order in the join condition is load-bearing: Spark's
    ``And`` short-circuits left-to-right, so the fold only runs on
    prefilter survivors (measured 40 s → ~2 s on 7.8M candidates at
    sf0.1).

    Two measured structural rules (sf0.1, 7.8M candidates): (1) the
    candidate join must run on the NARROW projection — joining with
    the dim-sized arrays in the row doubled the whole query (every
    candidate copies ~1 KB of array bytes whether or not it
    survives); vectors are re-fetched by id for the ~3k survivors.
    (2) per-candidate arithmetic is secondary — the floor cost is
    the join's pair enumeration itself, so candidates (not filter
    flops) are what to optimize next on a degraded corpus.
    """
    import math

    if block_dims is None:
        block_dims = auto_block_dims(n_rows if n_rows is not None else emb.count())

    w = math.sqrt(2.0 - 2.0 * threshold) * (1.0 + slack)
    w2 = (2.0 - 2.0 * threshold) * (1.0 + slack)
    # Round-18 expression diet (guide §5.3; the semdedup_pairs twin):
    # the loop-built projections, the 3^block_dims offset-struct
    # array and the staged join condition all compose as parsed SQL
    # strings — one py4j round trip + one analyzer pass each instead
    # of ~300 Column/DataFrame ops at ~2–7 ms of measured driver wall
    # apiece. Bit-identical: 0-based `_e[i]`, `0.0D` double
    # accumulators, repr'd shortest-round-trip double literals,
    # left-associated arithmetic, integer cell offsets.
    dot_sql = (
        "aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0.0D, "
        "(acc, v) -> acc + v)"
    )
    w_sql = f"{float(w)!r}D"
    w2_sql = f"{float(w2)!r}D"
    pts = emb.selectExpr(
        f"`{id_col}` AS _id",
        f"`{vec_col}` AS _e",
        f"sqrt({dot_sql.format(x=f'`{vec_col}`', y=f'`{vec_col}`')}) AS _n",
    ).filter(F.col("_n") > 0)
    # The candidate join runs on a NARROW projection only — ids,
    # cell keys, flat prefilter coordinates. Carrying the full
    # vectors through the join would materialize two dim-sized
    # arrays PER CANDIDATE (millions of rows × ~1 KB on a
    # concentrated corpus — measured as the dominant cost, ~8 s of
    # pure row copying at sf0.1); the vectors are fetched by id for
    # the (tiny) survivor set afterwards instead.
    narrow = pts.selectExpr(
        "_id",
        *[
            f"CAST(FLOOR(_e[{i}] / _n / {w_sql}) AS INT) AS _c{i}"
            for i in range(block_dims)
        ],
        *[f"_e[{i}] / _n AS _u{i}" for i in range(prefilter_dims)],
    )
    # Left role: all 3^block_dims neighbor cells, one explode of a
    # literal offset grid. Right role: home cell only.
    from itertools import product as _product

    offsets_sql = ",".join(
        "struct("
        + ",".join(f"{d} AS d{i}" for i, d in enumerate(deltas))
        + ")"
        for deltas in _product((-1, 0, 1), repeat=block_dims)
    )
    # ``n_salts`` splits each cell's join group so a corpus
    # concentrated in few cells (the near-uniform worst case puts
    # ~everything in ~2^block_dims cells) cannot cap parallelism at
    # the occupied-cell count: the exploded side carries ONE
    # deterministic sub-bucket (hash(id) mod S), the compact side is
    # exploded across all S — each unordered pair still meets in
    # exactly one (cells, salt) group, candidates are unchanged, and
    # the pair-enumeration work fans out S× wider.
    # Both candidate-join sides are explicitly repartitioned on the
    # full equi key (cells + salt) with a PINNED count (round-17):
    # the narrow projections are a few MB, so AQE's byte-based
    # coalescing squeezed the pair-enumeration join onto ~2 tasks at
    # sf0.1 (measured: two 1.2 s tasks carrying all ~7.8M candidate
    # comparisons). User repartition is never coalesced; the count
    # scales with the session's core count, not a constant.
    n_parts = 4 * emb.sparkSession.sparkContext.defaultParallelism
    grid_keys = ["_salt"] + [f"_g{i}" for i in range(block_dims)]
    a = (
        narrow.selectExpr(
            "_id AS id_a",
            f"CAST(pmod(xxhash64(_id), {n_salts}) AS INT) AS _salt",
            *[f"_c{i}" for i in range(block_dims)],
            *[f"_u{i} AS _ua{i}" for i in range(prefilter_dims)],
            f"explode(array({offsets_sql})) AS _off",
        )
        .selectExpr(
            "id_a",
            "_salt",
            *[f"_c{i} + _off.d{i} AS _g{i}" for i in range(block_dims)],
            *[f"_ua{i}" for i in range(prefilter_dims)],
        )
        .repartition(n_parts, *grid_keys)
    )
    b = (
        narrow.selectExpr(
            "_id AS id_b",
            f"explode(array({','.join(str(s) for s in range(n_salts))})) "
            "AS _salt",
            *[f"_c{i} AS _g{i}" for i in range(block_dims)],
            *[f"_u{i} AS _ub{i}" for i in range(prefilter_dims)],
        )
        .repartition(n_parts, *grid_keys)
    )
    # One explicit condition, cheap-to-expensive: equi cells (become
    # hash keys), id order, then the codegen partial-distance
    # prefilter — ALL on flat scalar columns inside one
    # whole-stage-codegen span. Staged partial distances: the first
    # half is ALSO a necessary condition (omitted terms nonnegative)
    # — And short-circuits, so ~all candidates die on half the ops.
    conds = ["(a._salt = b._salt)"]
    conds += [f"(a._g{i} = b._g{i})" for i in range(block_dims)]
    conds.append("(a.id_a < b.id_b)")
    if prefilter_dims > 0:
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
    surv = (
        a.alias("a")
        .join(b.alias("b"), cond)
        .select("id_a", "id_b")
    )
    # Exact verify on survivors only: fetch the two vectors by id
    # (two equi-joins on the id — AQE broadcasts the survivor side
    # when it is small) and run the SAME index-ordered fold the
    # oracle computes, so borderline sims are bit-identical.
    va = pts.selectExpr("_id AS id_a", "_e AS ea", "_n AS na")
    vb = pts.selectExpr("_id AS id_b", "_e AS eb", "_n AS nb")
    sim = F.expr(f"({dot_sql.format(x='ea', y='eb')}) / (na * nb)")
    return (
        surv.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("sim", sim)
        .filter(F.col("sim") >= F.lit(threshold))
        .select("id_a", "id_b", "sim")
    )


def substring_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs sharing ≥1 exact ``window``-token substring,
    with the count of shared distinct windows — the decontamination /
    boilerplate-removal signal set-Jaccard never sees (documents can
    be set-dissimilar yet share verbatim passages).

    Plan: per-doc window fingerprints (md5 of the joined window, so a
    DuckDB oracle computes identical keys), ``array_distinct`` BEFORE
    the explode (a window repeated inside one doc cannot inflate pair
    counts), then a self-EQUI-join on the fingerprint — the standard
    inverted index a decontamination pass materializes once.

    ``max_df`` is the scale guard: a fingerprint appearing in more
    than ``max_df`` docs is dropped BEFORE the self-join (one
    groupBy + semi-shaped equi-join, no new plan pattern). Without
    it, one boilerplate window shared by f docs emits f² join rows
    through a single hot key — at 100 TB a ubiquitous header would
    be a straggler that never finishes, and those windows are
    boilerplate, not duplication signal. ``max_df=None`` keeps the
    exact uncapped contract (the q64 oracle form).
    """
    from .materialize import materialize
    from .text import tokens
    from ..tables import spread

    w = window
    # spread() BEFORE tokenize + per-window md5 (round-17): a
    # single-file corpus scans as one split, so the whole fingerprint
    # projection ran on ONE task (measured ~0.7-0.9 s single-task
    # stages on q64/q68 at sf0.1); one cheap round-robin exchange of
    # the raw rows fans it out. The inverted index is materialized in
    # BOTH modes now — uncapped callers (q64) consume it from two
    # self-join sides, which re-ran the whole projection per side.
    d = spread(df).select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    )
    d = d.filter(F.size("toks") >= w)
    wins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (w - 1)),
            lambda i: F.md5(F.array_join(F.slice("toks", i, w), " ")),
        )
    )
    e = materialize(d.select("doc_id", F.explode(wins).alias("wh")))
    if max_df is not None:
        # (doc_id, wh) is unique after array_distinct, so COUNT(*)
        # per wh IS the document frequency.
        keep = (
            e.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("wh")
        )
        e = e.join(keep, "wh")
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(
            b,
            (F.col("a.wh") == F.col("b.wh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
