"""Round-6 advanced relational / pipeline queries (SURVEY.md §2.6):
SCD Type-2 history construction, exact-integer PageRank, Markov
transition matrices, time-range rolling windows, distributed
gaps-and-islands, consistent-hash sampling, skyline (Pareto
frontier), interval-overlap sweeps, and exact z-score outliers.

Reference anchor: the reference's query surface is ORM lookups over
versioned filing tables (SURVEY.md §2.4) — SCD-2 (q79) and islands
(q83) are the warehouse-grade completions of its latest-amendment /
FILING_ID-sequence semantics; the rest are north-star pipeline ops
(SURVEY §2.5). Every query follows the §2.6 determinism rules:
exact decimal/integer arithmetic into the hash gate, floored
epoch-second bigints instead of raw timestamps, total orders before
every LIMIT, shared IEEE expression order for any double math.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..memo import session_memo
from ..tables import load_table, spread, table_path
from ._util import RATE, dec


def _ep(col: str = "ts") -> F.Column:
    """Floored epoch seconds (bigint) — rule-2 timestamp handling,
    identical to DuckDB ``CAST(floor(epoch(ts)) AS BIGINT)``."""
    return F.unix_timestamp(F.col(col).cast("timestamp"))


# ---------------------------------------------------------------- Q79


def q79_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 history build (E16 completion; R10's general form):
    compress each user's event stream into *versioned validity
    intervals* of their current ``event_type`` state — the
    slowly-changing-dimension table a warehouse maintains so any
    fact can be joined to "the state the user was in at that time".

    Plan: one partitioned window pass per user (change-flag via
    ``lag``, version id via running sum — the gaps-and-islands
    idiom), one map-side-combined aggregation per (user, version),
    and one more partitioned window for the ``valid_to`` horizon
    (``lead`` of the next version's start). Zero global windows,
    zero shuffles beyond the two user-keyed ones; at 100 TB the
    user key partitions the whole computation.

    Total order within a user is (epoch-second, event_id) — floored
    seconds per rule 2, event_id as the deterministic tie-break.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", _ep("ts").alias("ep")
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    chg = (
        F.when(F.lag("event_type").over(w).isNull(), 1)
        .when(F.lag("event_type").over(w) != F.col("event_type"), 1)
        .otherwise(0)
    )
    v = e.withColumn("_chg", chg).withColumn(
        "version",
        F.sum("_chg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    g = v.groupBy("user_id", "version").agg(
        F.min("event_type").alias("state"),
        F.min("ep").alias("valid_from_ep"),
        F.count(F.lit(1)).alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return (
        g.withColumn("valid_to_ep", F.lead("valid_from_ep").over(wv))
        .select(
            "user_id",
            F.col("version").cast("long").alias("version"),
            "state",
            "valid_from_ep",
            "valid_to_ep",
            "n_events",
            F.col("valid_to_ep").isNull().cast("int").alias("is_current"),
        )
        .orderBy("user_id", "version")
    )


# ---------------------------------------------------------------- Q80


def q80_pagerank_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-3-iteration PageRank in EXACT integer arithmetic (the
    iterative-graph-algorithm contract, oracled bit-for-bit against
    an unrolled recursive-CTE twin). Graph: nodes = ``doc_id``;
    edges = the ternary-tree parent pointer ``i -> i div 3`` (i>0)
    plus a mixing edge ``i -> (7i+1) mod N`` — deterministic,
    derived from the data, out-degree 1–2.

    Floating PageRank cannot be hash-gated (per-target contribution
    sums are order-dependent IEEE adds), so ranks live in integer
    micro-units: r₀ = 1_000_000; each step
    ``r' = 150000 + (85 * Σ (r div outdeg)) div 100`` — integer
    division and exact bigint sums are associative, so ANY shuffle
    or AQE replan produces the identical result, which is exactly
    what the oracle hash verifies.

    Spark plan per iteration: one equi-join rank⋈edges (edge table
    carries its precomputed outdeg) + one map-side-combined sum by
    dst + one left join back to nodes — the standard distributed
    PageRank step. 3 iterations = 3 shuffle rounds, and (round 9)
    the node set, the edge table and EACH round's ranks are
    MATERIALIZED (ops/materialize) — iterative lineage re-derived
    everything per consumer before (22 scans in the plan audit);
    checkpointed, each round reads the previous round's blocks and
    the scan runs once, which is also the shape that survives a
    real cluster (reliable checkpoint when a dir is set).
    """
    from ..ops.materialize import materialize

    docs = materialize(
        load_table(spark, sf_dir, "documents").select(
            F.col("doc_id").alias("id")
        )
    )
    n_df = docs.agg(F.count(F.lit(1)).alias("_n"))
    tree = docs.filter(F.col("id") > 0).select(
        F.col("id").alias("src"), F.expr("id div 3").alias("dst")
    )
    mix = docs.crossJoin(F.broadcast(n_df)).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 1, F.col("_n")).alias("dst"),
    )
    edges = tree.unionByName(mix).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    ed = materialize(edges.join(deg, "src"))

    r = docs.withColumn("r", F.lit(1_000_000).cast("long"))
    for _ in range(3):
        contrib = r.join(ed, r["id"] == ed["src"]).select(
            "dst", F.expr("r div outdeg").alias("c")
        )
        s = contrib.groupBy("dst").agg(F.sum("c").alias("s"))
        r = materialize(
            docs.join(s, docs["id"] == s["dst"], "left").select(
                docs["id"],
                (
                    F.lit(150_000).cast("long")
                    + F.expr("(85 * coalesce(s, cast(0 as bigint))) div 100")
                ).alias("r"),
            )
        )
    return (
        r.select("id", F.col("r").alias("rank_e6"))
        .orderBy(F.col("rank_e6").desc(), F.col("id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------- Q81


def q81_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event streams
    (E3/E19 — the session-model statistic behind next-event
    prediction and bot detection): for every ordered pair of
    consecutive events of one user, count (previous type → current
    type) and the row-normalized transition probability.

    One user-partitioned ``lag`` window under the (epoch, event_id)
    total order, one 25-row aggregation, one window sum for the
    normalizer — the per-prev normalization runs over the *grouped*
    25-row result, not the event stream, so its single-partition
    window is model-sized. Probability = n/total in double with one
    shared expression, ROUND(.,6) into the hash.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", _ep("ts").alias("ep")
    )
    w = Window.partitionBy("user_id").orderBy("ep", "event_id")
    pairs = (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wp = Window.partitionBy("prev_type")
    return (
        pairs.withColumn("_tot", F.sum("n").over(wp))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("p"),
        )
        .orderBy("prev_type", "next_type")
    )


# ---------------------------------------------------------------- Q82


def q82_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day per-user rolling aggregates via a RANGE frame
    over epoch seconds (E3 completion — q17/q37 cover ROWS frames;
    time-RANGE frames are the shape monitoring and feature pipelines
    actually need: "this user's spend over the last 7 days *as of
    each event*").

    ``rangeBetween(-604800, 0)`` over ``ORDER BY ep`` — value-based
    bounds, peers included by definition in both engines, so ties in
    the floored epoch second are frame-identical. Money in exact
    decimal (rule 1). The window is user-partitioned: fully parallel
    at any scale, no global sort.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", _ep("ts").alias("ep"), dec("value").alias("v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-604_800, Window.currentRow)
    )
    return (
        e.select(
            "event_id",
            "user_id",
            "ep",
            F.count(F.lit(1)).over(w).alias("n_7d"),
            F.round(F.sum("v").over(w), 2).cast("double").alias("sum_7d"),
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------- Q83


def q83_islands_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the ``o_orderkey`` values of finished
    ('F') orders — the sequence-integrity check the reference's
    users run over FILING_ID ranges after a load (R10-adjacent; V1
    family): which key ranges are complete, where are the holes?
    The status filter makes the key set genuinely sparse (~3.3k
    islands at sf0.01; the unfiltered key space is dense). Top-20
    longest runs of consecutive keys, deterministically ordered.

    The point is the PLAN: the classic ``k - ROW_NUMBER() OVER
    (ORDER BY k)`` idiom (the oracle twin) is a single-partition
    global window — exactly what dies at 100 TB. The Spark side uses
    :func:`calaspark.ops.islands.islands`: bucketed parallel run
    detection + tiny boundary-stitch pass (property-tested ≡ the
    naive form in tests/test_ops.py). Same answer, distributed plan.
    """
    from ..ops.islands import islands

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    isl = islands(orders, "o_orderkey", bucket_size=4096)
    return isl.select(
        "start_key", "end_key", "n_keys"
    ).orderBy(F.col("n_keys").desc(), F.col("start_key").asc()).limit(20)


# ---------------------------------------------------------------- Q84


def q84_consistent_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent (hash-ordered) stratified sampling: the 5 documents
    per source with the smallest ``md5(doc_id)`` (E13 completion —
    q47 covers fraction sampling, q67 hash splits; this is the
    *top-k-by-hash* form whose sample is STABLE under corpus growth:
    a doc's rank can only be displaced by a new smaller hash, never
    by reordering — the property that makes eval panels and
    holdouts reproducible across snapshots).

    Plan: per-source window top-k (rank over hash order), i.e. one
    partitioned shuffle; no global sort, no rand(). Hash is the hex
    md5 of the decimal string of the key — identical bytes in both
    engines; doc_id tie-break keeps the order total.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("source").orderBy("h", "doc_id")
    return (
        d.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("source", F.col("rank").cast("int").alias("rank"), "doc_id", "h")
        .orderBy("source", "rank")
    )


# ---------------------------------------------------------------- Q85


def q85_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (E2-adjacent analytics): the
    order dates that set a new all-time-high daily max order price —
    i.e. the (date, price) points not dominated by any earlier-date,
    higher-or-equal-price point. The naive formulation is a
    ``NOT EXISTS`` self-theta-join (quadratic); the plan here is the
    sweep: pre-aggregate to one row per date (max price — an exact
    double MAX, comparison only, no summation), then one window max
    over ``ROWS UNBOUNDED PRECEDING .. 1 PRECEDING`` under the date
    order and keep rows exceeding it. O(n log n), one aggregation
    shuffle + one ordered window instead of an O(n²) join.

    The date-ordered window is global but runs over the per-DATE
    aggregate (~2.4k rows/7 years — bounded by the calendar, not the
    data); at 100 TB the date-grain aggregate is still calendar-
    sized, so the plan holds.
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"), "o_totalprice")
        .groupBy("d")
        .agg(F.max("o_totalprice").alias("best_price"))
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return (
        o.withColumn("_m", F.max("best_price").over(w))
        .filter(F.col("_m").isNull() | (F.col("best_price") > F.col("_m")))
        .select("d", "best_price")
        .orderBy("d")
    )


# ---------------------------------------------------------------- Q86


def q86_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max concurrent intervals per user — the sweep-line plan
    (E1-range-join-adjacent; capacity planning / sessionization
    diagnostics: "how many of this user's activities overlap at
    peak?"). Each event opens an interval of ``value`` minutes
    (duration = ``floor(decimal(value) * 60)`` seconds — exact
    decimal, explicit FLOOR in both engines because decimal→int
    CASTS disagree: Spark truncates, DuckDB rounds).

    Plan: explode each interval into (+1 at start, −1 at end)
    deltas, net them per (user, t) — half-open semantics: an
    interval ending exactly when another starts does not overlap it
    — then one user-partitioned running sum gives the concurrency
    profile, and a max per user finishes. Two user-keyed shuffles,
    no self-join: the sweep replaces the O(n²) overlap join.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        _ep("ts").alias("s"),
        (F.unix_timestamp(F.col("ts").cast("timestamp"))
         + F.floor(dec("value") * 60).cast("long")).alias("t_end"),
    )
    deltas = e.select("user_id", F.col("s").alias("t"), F.lit(1).alias("d")).unionByName(
        e.select("user_id", F.col("t_end").alias("t"), F.lit(-1).alias("d"))
    )
    net = deltas.groupBy("user_id", "t").agg(F.sum("d").alias("net"))
    w = Window.partitionBy("user_id").orderBy("t").rowsBetween(
        Window.unboundedPreceding, 0
    )
    conc = net.withColumn("conc", F.sum("net").over(w))
    return (
        conc.groupBy("user_id")
        .agg(
            F.max("conc").cast("long").alias("max_concurrent"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------- Q87


def q87_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outlier detection from EXACT power sums
    (E13/E19 — the data-quality gate before training: flag events
    whose ``value`` sits > 2.5σ from its event-type mean). Same
    discipline as q62/q75: μ and σ derive from exact decimal sums
    (Σv, Σv² — decimal(12,2) and its square are exact, sums
    associative), cast to double once, ONE shared IEEE expression
    for z in both engines, ROUND(.,4) into the hash.

    Plan: one map-side-combined stats aggregation (5 rows), a
    broadcast join of the stats back onto the scan, one filter —
    two passes over the fact table at worst, no shuffle of the
    fact rows at all (the stats side broadcasts).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", dec("value").alias("v")
    )
    stats = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
    )
    n = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    st = stats.select(
        "event_type",
        (s1 / n).alias("mu"),
        F.sqrt(s2 / n - (s1 / n) * (s1 / n)).alias("sigma"),
    )
    z = (F.col("v").cast("double") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(st), "event_type")
        .withColumn("z", F.round(z, 4))
        .filter(F.abs(F.col("z")) > 2.5)
        .select(
            "event_id",
            "event_type",
            F.col("v").cast("double").alias("value"),
            "z",
        )
        .orderBy("event_id")
    )


# ---------------------------------------------------------------- Q88


def q88_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse term-vector cosine similarity between documents via an
    inverted-index self-join (E17/E19 — the IR-style near-dup signal
    that complements q33's set-Jaccard: weighting by term FREQUENCY,
    not mere presence). Top-20 most similar doc pairs.

    All similarity arithmetic is EXACT until one final double: term
    frequencies are integers, so the dot product Σ tf_a·tf_b and the
    norms Σ tf² are exact bigint sums (associative — any shuffle
    order hashes identically); cosine divides them in double with
    one shared expression, ROUND(.,6).

    Plan shape (the 100 TB-relevant part): per-doc term counts (one
    explode + one (doc,term) hash-agg), a document-frequency cap
    (terms in > max_df docs are dropped BEFORE the self-join — the
    q68 guard: stopword-grade terms are hot keys emitting df² join
    rows and carry ~no cosine signal at this cap), then the
    token-keyed equi-join + one (a,b) hash-agg. No cartesian, no
    broadcast of the corpus; the join key space is the term
    dictionary, hash-balanced after the cap.
    """
    from ..ops.text import tokens

    MAX_DF = 100
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    from ..ops.materialize import materialize

    # (doc, term) counts feed the df cap AND the capped table; the
    # capped table feeds norms and BOTH self-join sides — without
    # truncation each consumer re-tokenized the corpus (8 scans,
    # round-9 audit); two checkpoints make the explode run once
    tf = materialize(
        d.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    df_cap = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_DF)
        .select("term")
    )
    tf = materialize(tf.join(df_cap, "term"))
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("n2")
    )
    a = tf.select(
        F.col("doc_id").alias("id_a"), "term", F.col("tf").alias("tf_a")
    )
    b = tf.select(
        F.col("doc_id").alias("id_b"), "term", F.col("tf").alias("tf_b")
    )
    num = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("n2").alias("na2"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("n2").alias("nb2"))
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("na2").cast("double") * F.col("nb2").cast("double")
    )
    return (
        num.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(20)
    )


# ---------------------------------------------------------------- Q89


def q89_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix of daily value totals
    between event types, from EXACT power sums (E13 — q62/q75/q87's
    discipline extended to the BIVARIATE moments): engine-native
    ``corr`` accumulates doubles in partition order, so both engines
    instead compute n, Σx, Σy, Σxy, Σx², Σy² as exact decimal sums
    and finish with ONE shared IEEE expression
    ``(nΣxy−ΣxΣy)/√((nΣx²−(Σx)²)(nΣy²−(Σy)²))``.

    Plan: one (day, type) aggregation over the scan, a day-keyed
    self-equi-join restricted to type_a < type_b (the upper
    triangle — 10 pairs here), one final 10-row aggregation. The
    matrix is types²-sized — model-sized state at any corpus scale;
    the single data-sized pass is the first aggregation.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        "event_type",
        dec("value").alias("v"),
    )
    # Pin the daily sum to DECIMAL(18,2) (both engines) so the x*y
    # product below is (37,4) — still exact inside decimal-38.
    daily = e.groupBy("day", "event_type").agg(
        F.sum("v").cast("decimal(18,2)").alias("s")
    )
    a = daily.select(
        "day", F.col("event_type").alias("type_a"), F.col("s").alias("x")
    )
    b = daily.select(
        "day", F.col("event_type").alias("type_b"), F.col("s").alias("y")
    )
    j = a.join(b, "day").filter(F.col("type_a") < F.col("type_b"))
    s = j.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return s.select(
        "type_a",
        "type_b",
        F.col("n").cast("long").alias("n_days"),
        F.round(corr, 6).alias("corr"),
    ).orderBy("type_a", "type_b")


# ---------------------------------------------------------------- Q90


def q90_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report (V2's generic-table twin — the
    reference emits a per-table coverage report after every load;
    a warehouse profiles row counts, null counts, and exact
    cardinalities before trusting a feed): one row per profiled
    `lineitem` column with n_rows / n_null / n_distinct.

    Plan: ONE pass — a single aggregation computes every profile
    metric (Spark expands multiple COUNT(DISTINCT) into one
    expand+aggregate pipeline, still a single scan), then the 1-row
    result is unpivoted to the long report shape with `stack`
    (pure projection). The oracle recomputes each column's metrics
    independently; values must agree exactly, proving the fused
    single-scan plan ≡ the per-column definition.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cols = ["l_returnflag", "l_linestatus", "l_shipdate", "l_quantity"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.count(c).alias(f"nn_{c}"))
        aggs.append(F.countDistinct(c).alias(f"nd_{c}"))
    one = li.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nn_{c}, nd_{c}" for c in cols
    )
    return (
        one.selectExpr(
            "n_rows",
            f"stack({len(cols)}, {stack_args}) as (column_name, n_nonnull, n_distinct)",
        )
        .select(
            "column_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_nonnull")).alias("n_null"),
            "n_distinct",
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------- Q91


def q91_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact SHINGLE-set Jaccard near-dup pairs (3-token shingles,
    sim ≥ 0.5) via the inverted-index COUNT JOIN — the exact
    set-similarity join (SSJoin family) in the plan that wins on
    this corpus; its prefix-filter sibling ships beside it in
    :mod:`calaspark.ops.ssjoin` and is property-tested equivalent.

    Why shingles, not unigrams: on this corpus unigram J ≥ 0.5 is
    the DEGENERATE exact-near-dup case — 74 % of all pairs qualify
    (92,254 of 124,750 at sf0.01), so any algorithm's output is
    Ω(n²); q33 carries that declared contract with the triangle
    block. Trigram shingle sets are discriminative (25 qualifying
    pairs at sf0.01, max shingle df = 7 — the regime real dedup
    runs in), which is precisely where inverted-index plans win.

    Plan (see ops/ssjoin.py for the measured story): shingles are
    built with posexplode + lead windows — whole-stage codegen; the
    array-HOF construction (`transform(sequence, slice+concat)`)
    measured 3.7 s ALONE at sf0.1, more than this whole query —
    then one self-equi-join on the shingle with the q33 size-ratio
    prefilter, and the per-pair match COUNT is the intersection
    size (shingles are per-doc distinct), admitted by the same
    float-free integer test as q33 (3·|∩| ≥ |A|+|B|). No arrays
    cross any shuffle. When Σ df² blows up (huge sets, hot
    shingles), `ops.ssjoin.jaccard_prefix_filter` — index only each
    doc's ⌊nt/2⌋+1 rarest shingles, verify candidates once — is the
    documented alternative, equivalence-tested in test_ops.py.
    """
    from ..ops.ssjoin import jaccard_count_join, shingle_rows

    d = load_table(spark, sf_dir, "documents")
    return jaccard_count_join(shingle_rows(d), tau_num=1, tau_den=2)


# ---------------------------------------------------------------- Q92


def q92_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED text-quality features (E19): the rows-only
    `text_quality` demo's exact semantics promoted to the hash gate.
    Every ratio is one shared double division of two INTEGERS
    (character/token/stopword counts — exact in both engines), so
    the only FP step is the final division + ROUND(.,4).

    Regex classes are the Java∩RE2 subset (ops/text.py WS/BPE_ISH
    discipline: whitespace spelled out, ASCII ranges only) so both
    engines tokenize and strip identically. Pure scan-speed
    projection — zero shuffles beyond the output sort.
    """
    from ..ops.text import bpe_ish_count, quality_features

    d = load_table(spark, sf_dir, "documents")
    out = quality_features(d.select("doc_id", "text"))
    return (
        out.select(
            "doc_id",
            "n_chars",
            "n_tokens",
            bpe_ish_count("text").alias("n_bpe_ish"),
            F.round("mean_token_len", 4).alias("mean_token_len"),
            F.round("punct_ratio", 4).alias("punct_ratio"),
            F.round("digit_ratio", 4).alias("digit_ratio"),
            F.round("stopword_ratio_en", 4).alias("stopword_ratio_en"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- Q93


def q93_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED language-ID confusion grid (E19): the rows-only
    `text_langid` demo promoted to the hash gate. Per-language
    scores are integer-count ratios (stopword hits / tokens); the
    argmax with lexicographic tie-break and the 'unknown' floor are
    CASE logic over those doubles — and since both engines derive
    each score from the SAME integer division, score equality is
    bit-exact and the argmax is deterministic.

    One scan + one 16-cell aggregation: the confusion matrix of
    predicted vs labeled language.
    """
    from ..ops.text import langid_scores

    d = load_table(spark, sf_dir, "documents")
    scored = langid_scores(d.select("doc_id", "lang", "text"))
    return (
        scored.groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _dup_corpus(d):
    """Shared synthesized near-dup corpus for the LSH contracts
    (q94/q95): each document unioned with an id+300000 copy carrying
    two appended tokens — the q64/q76 signal pattern, mirrored
    verbatim in both oracles. The +300000 offset clears max(doc_id)
    up to sf ~60 (doc ids = 5e4·sf)."""
    return d.select("doc_id", "text").unionByName(
        d.select(
            (F.col("doc_id") + 300_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" zzzq xq")).alias("text"),
        )
    )


# ---------------------------------------------------------------- Q94


def q94_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED SimHash near-dup pairs (E17): the banded-SimHash
    algorithm itself under the hash gate — until now the SimHash
    path (`simhash_neardup`, xxhash64-based) was rows-only because
    DuckDB lacks xxhash64. This twin derives each token's 60-bit
    hash from md5 (both engines: first 15 hex chars parsed to
    bigint — Spark `conv(...,16,10)`, DuckDB `('0x'||…)::BIGINT`),
    so EVERY step is integer arithmetic: per-bit ±1 sums, sign-bit
    fingerprint assembly, 4×15-bit band keys, Hamming via
    `bit_count(xor)`. Zero floating point anywhere — the strongest
    possible parity proof for an LSH family member.

    Corpus: each document unioned with a near-duplicate (id+300000,
    text + two extra tokens — the q64/q76 synthesized-signal
    pattern), so the detector has real positives. Hashes are of
    3-token SHINGLES, not unigrams — the q91 lesson again, measured:
    unigram simhashes of ~50-token docs drawn from a small
    vocabulary collapse (75k exact-fingerprint collisions and 7.6M
    band candidates at sf0.1); shingle simhashes spread (11.8k
    candidates, 2.9k qualifying pairs).

    Banding is EXACT here, not approximate: 3 differing bits cannot
    touch all 4 bands (pigeonhole), so every Hamming ≤ 3 pair
    shares ≥1 band — the output is the complete hd ≤ 3 pair set.

    Plan: shingle explode → one 60-column map-side-combined bit-sum
    aggregation per doc → band explode (4 rows/doc) → band-bucket
    self-equi-join (candidates only from band collisions — never
    all-pairs) → exact Hamming verify ≤ 3 on the distinct
    candidates. The same shape `simhash_neardup` runs at scale.
    """
    from ..ops.ssjoin import shingle_rows

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    e = shingle_rows(corpus, k=3).select("doc_id", F.col("g").alias("tok"))
    h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    e = e.select("doc_id", h.alias("h"))
    # Per-bit expressions composed as SQL STRINGS parsed once each
    # (round-17, the Batch-1/5 discipline): the previous per-bit
    # Column construction (60 × when/bitwiseAND/alias + a 60-term
    # Column fold) cost ~9.7k py4j round-trips ≈ 2.8 s of driver
    # wall per build. Semantics identical: CASE WHEN mirrors
    # F.when, literals/casts unchanged, all-integer arithmetic.
    sums = [
        F.expr(
            f"sum(CASE WHEN (h & {1 << b}) != 0 THEN 1 ELSE -1 END) AS s{b}"
        )
        for b in range(60)
    ]
    agg = e.groupBy("doc_id").agg(*sums)
    fp = F.expr(
        " + ".join(
            f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) "
            "ELSE CAST(0 AS BIGINT) END"
            for b in range(60)
        )
    )
    from ..ops.materialize import materialize

    # Both band-join sides read the fingerprints — materialize the
    # (tiny: one row per doc) table once instead of re-running the
    # shingle explode + 60-column aggregation per side.
    fps = materialize(agg.select("doc_id", fp.alias("fp")))

    # shiftright(), not the `>>` operator: inside `array(...)` the
    # SQL parser reads `>` as a generic-type bracket and errors.
    band_arr = ", ".join(
        f"named_struct('k', {k}, 'bb', shiftright(fp, {15 * k}) & 32767)"
        for k in range(4)
    )
    bands = fps.select(
        "doc_id",
        "fp",
        F.expr(f"explode(array({band_arr}))").alias("band"),
    ).select("doc_id", "fp", F.col("band.k").alias("k"), F.col("band.bb").alias("bb"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("fp").alias("fp_a"), "k", "bb"
    )
    b_ = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("fp").alias("fp_b"), "k", "bb"
    )
    cand = (
        a.join(b_, ["k", "bb"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    hd = F.bit_count(F.expr("fp_a ^ fp_b"))
    return (
        cand.select("doc_a", "doc_b", hd.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- Q95

#: MinHash permutation constants (q95): h_k = (A[k]·h + B[k]) mod M
#: over the md5-60-bit shingle hash reduced mod M first. M is the
#: Mersenne prime 2^31−1, so every product fits bigint (< 2^62) and
#: Spark/DuckDB integer arithmetic agrees exactly.
_MH_M = 2_147_483_647
_MH_A = [2 * k + 3 for k in range(16)]
_MH_B = [1_000_003 * (k + 1) % _MH_M for k in range(16)]


def q95_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH near-dup pairs ORACLED end to end (E17 —
    the companion to q94: the LAST major rows-only family,
    `lsh_minhash_pairs`, gets a hash-gated twin). Every step is
    integer arithmetic, so the oracle reproduces the ENTIRE
    pipeline bit for bit — including the candidate generation,
    which is the part of LSH that defines its recall: the contract
    is "the pairs LSH finds", not "all J ≥ 0.5 pairs".

    Signature: 16 permutations ``h_k = (A_k·h + B_k) mod (2³¹−1)``
    over md5-60-bit shingle hashes (reduced mod M first so products
    stay under 2⁶²), min per permutation per doc; 4 bands × 4 rows.
    Candidates: pairs agreeing on ALL 4 minima of ≥1 band (plain
    equi-join on the band columns). Verify: exact shingle-set
    Jaccard on candidates only, q33's integer admission test
    (3·|∩| ≥ |A|+|B|).

    Plan: one shingle explode → 16-column min aggregation per doc
    (map-side combined) → 4-row band explode → band equi-join →
    distinct candidates → array-intersect verify (candidate count
    is LSH-bounded, so arrays never ride a data-sized shuffle).
    The doc-side signature table is materialized once (tiny) for
    both join sides, as in q94.
    """
    from ..ops.materialize import materialize
    from ..ops.ssjoin import shingle_rows, verify_candidates

    corpus = _dup_corpus(load_table(spark, sf_dir, "documents"))
    # Materialized once: BOTH the signature aggregation and the
    # verify-side set rebuild read the shingle rows.
    e = materialize(shingle_rows(corpus, k=3))
    h0 = F.pmod(
        F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long"),
        F.lit(_MH_M),
    )
    eh = e.select("doc_id", "nt", h0.alias("h"))
    # Permutation minima + band structs as parsed SQL strings (the
    # q94/Batch-1 round-trip discipline; semantics unchanged —
    # pmod/min over the same integer literals).
    mins = [
        F.expr(
            f"min(pmod({_MH_A[k]} * h + {_MH_B[k]}, {_MH_M})) AS m{k}"
        )
        for k in range(16)
    ]
    sig = materialize(eh.groupBy("doc_id").agg(F.max("nt").alias("nt"), *mins))

    band_arr = ", ".join(
        "named_struct('bk', {b}, {fields})".format(
            b=b,
            fields=", ".join(
                f"'x{j}', m{4 * b + j}" for j in range(4)
            ),
        )
        for b in range(4)
    )
    bands = sig.select(
        "doc_id",
        "nt",
        F.expr(f"explode(array({band_arr}))").alias("bd"),
    ).select(
        "doc_id",
        "nt",
        F.col("bd.bk").alias("bk"),
        *[F.col(f"bd.x{j}").alias(f"x{j}") for j in range(4)],
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("nt").alias("na"),
        "bk", "x0", "x1", "x2", "x3",
    )
    b_ = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("nt").alias("nb"),
        "bk", "x0", "x1", "x2", "x3",
    )
    cand = (
        a.join(b_, ["bk", "x0", "x1", "x2", "x3"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return verify_candidates(e, cand, 1, 2).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------- Q96


def _doc_graph_edges(d: DataFrame) -> DataFrame:
    """The deterministic document graph shared by q96/q178/q180
    (edge list, one definition for all three queries and their
    oracles' `_DOC_GRAPH` CTE): chain edges ``i — i+1`` when
    consecutive docs share a language (short runs — the LSH-cluster
    shape) plus a sparse mixer ``i — i² mod N`` on every 7th doc
    (long-range merges — the adversarial shape for label
    propagation). ``d`` must carry (doc_id, lang).
    """
    n_df = d.agg(F.count(F.lit(1)).alias("_n"))
    a = d.select(F.col("doc_id").alias("src"), F.col("lang").alias("la"))
    b = d.select(F.col("doc_id").alias("dst"), F.col("lang").alias("lb"))
    chain = a.join(
        b, (F.col("src") + 1 == F.col("dst")) & (F.col("la") == F.col("lb"))
    ).select("src", "dst")
    mix = (
        d.filter(F.col("doc_id") % 7 == 0)
        .crossJoin(F.broadcast(n_df))
        .select(
            F.col("doc_id").alias("src"),
            F.pmod(F.col("doc_id") * F.col("doc_id"), F.col("_n")).alias(
                "dst"
            ),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return chain.unionByName(mix)


def q96_components_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components ORACLED (E17's clustering backbone — the
    iterative fixpoint at the heart of `dedup_clusters_lsh`, until
    now proven only by property tests): per-component node count and
    character mass over a deterministic document graph, hash-checked
    against a DuckDB RECURSIVE-CTE transitive closure. Like q78/q80,
    the point is that an ITERATIVE distributed algorithm (alternating
    star contraction, log-diameter rounds, lineage cut per round —
    `ops/components.py`) provably equals the declarative recursion.

    Graph (same construction in both engines): chain edges
    ``i — i+1`` when consecutive docs share a language (short runs —
    the LSH-cluster shape), plus a sparse mixer edge
    ``i — i² mod N`` on every 7th doc (long-range merges — the
    adversarial shape for label propagation; ~93 components, max
    size 16 at sf0.01). Component label = min reachable doc_id, exactly
    the operator's contract.
    """
    from ..ops.components import connected_components

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    cc = connected_components(_doc_graph_edges(d), src="src", dst="dst")
    return (
        cc.join(d.select(F.col("doc_id").alias("vertex"), "n_chars"), "vertex")
        .groupBy(F.col("comp").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------- Q97


def q97_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles PER GROUP (E14's exact twin,
    grouped — q19 covers the global form): quartiles of `l_quantity`
    per `l_returnflag`. Spark `percentile(col, array(...))` and
    DuckDB `quantile_cont(col, [...])` share the same linear-
    interpolation definition; q19 has held this pairing green for
    five consecutive driver rounds, and ROUND(.,4) guards the last
    ulp. One map-side-combined aggregation (Spark's percentile is a
    single-pass typed aggregate, not a sort)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_quantity").alias("x")
    )
    pct = F.percentile("x", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(pct[0], 4).alias("p25"),
            F.round(pct[1], 4).alias("p50"),
            F.round(pct[2], 4).alias("p75"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q98


def q98_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median per group, float-free (E13 — the
    statistic `percentile` cannot give you: "the price below which
    half the shipped QUANTITY sits"): per `l_returnflag`, the
    smallest `l_extendedprice` whose cumulative quantity weight
    reaches half the group total.

    Everything that decides membership is exact: weights are
    decimal quantity sums, the cumulative and total are decimal
    sums, and the half test is ``2·cum ≥ total`` — integer-scaled
    decimal comparison, no division anywhere. The reported median
    is a stored value (not an aggregate), so it passes through
    untouched; the group total is rounded decimal→double per rule 1.

    Plan (two-level bucketed median search — the round-6 verdict's
    scale fix; the naive one-window-over-all-distinct-prices plan
    put every distinct price of a group through ONE task, so
    parallelism was capped at the group count over a value domain
    that grows with data richness):

    1. one (flag, price) pre-aggregation (collapses duplicate
       prices — hash agg, map-side combined);
    2. coarse price buckets (``floor(price/1024)`` — width a fixed
       value-domain constant) → per-(flag, bucket) weight sums:
       a second hash agg whose output is BUCKET-grain, bounded by
       price_range/1024 rows per flag regardless of data volume;
    3. cumulative window over the tiny bucket table locates each
       group's MEDIAN BUCKET (first bucket where ``2·cum ≥ tot``)
       and its ``cum_before`` (cumulative weight strictly below it);
    4. the exact ``2·(cum_before + cum_within) ≥ tot`` test runs
       only over rows of that single surviving bucket per group
       (broadcast 3-row join + filter) — the final window's input
       is ≤ distinct-prices-per-1024-wide-bucket (≤ 102 400 at cent
       granularity), a CONSTANT, never the group's value domain.

    The first bucket satisfying ``2·cum_bucket ≥ tot`` provably
    contains the answer: the predicate is false everywhere before
    the bucket and true at its end, and ``cum`` is monotone.  The
    whole search is the factored ``ops/quantile.py`` operator (q121
    and q127 share it).
    """
    from ..ops.quantile import exact_quantiles_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        dec("l_quantity").alias("q"),
    )
    from ..ops.materialize import materialize

    # round-17: the quantile search reads its grain twice (bucket
    # pass + in-bucket pass) — materialize so the fact scan and the
    # grain hash-agg run once (the q127/q159 discipline).
    g = materialize(
        li.groupBy("l_returnflag", "price").agg(F.sum("q").alias("w"))
    )
    return (
        exact_quantiles_bucketed(g, "l_returnflag", "price", "w", [1], 2)
        .select(
            "l_returnflag",
            F.col("q").alias("weighted_median_price"),
            F.round("tot", 2).cast("double").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q99


def q99_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot DIFF / reconciliation report (V1/V2-adjacent — the
    check the reference's users run between two CAL-ACCESS load
    versions: what changed since last month's dump?): classify every
    key as added / removed / changed / unchanged between snapshot A
    (`orders`) and a deterministically-derived snapshot B, and count
    which COLUMNS changed.

    Snapshot B (same derivation in both engines): drop keys
    ``%101 == 0`` (deletes), bump `o_totalprice` by +1.00 exact
    decimal on keys ``%97 == 0`` (updates), re-insert dropped keys
    shifted past ``MAX(o_orderkey)`` with status 'N' (adds — the
    q56 collision-free offset pattern).

    Plan: ONE full outer join on the key + codegen per-column
    comparison flags + one aggregation — the standard reconciliation
    shape; at 100 TB both sides shuffle once on the key (or zero
    times if both are bucketed by it, ops/skew.py). Null-safe
    equality (`<=>` / IS NOT DISTINCT FROM) keeps NULL columns from
    reading as changes.
    """
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dec("o_totalprice").alias("price"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    mx = a.agg(F.max("o_orderkey").alias("_mx"))
    kept = a.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.col("price") + F.lit(1).cast("decimal(12,2)"),
        )
        .otherwise(F.col("price"))
        .alias("price"),
        "od",
    )
    added = (
        a.filter(F.col("o_orderkey") % 101 == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("_mx") + 1).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("price"),
            "od",
        )
    )
    b = kept.unionByName(added)

    j = a.alias("a").join(
        b.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    in_a = F.col("a.o_orderkey").isNotNull()
    in_b = F.col("b.o_orderkey").isNotNull()
    chg_status = ~F.col("a.o_orderstatus").eqNullSafe(F.col("b.o_orderstatus"))
    chg_price = ~F.col("a.price").eqNullSafe(F.col("b.price"))
    chg_date = ~F.col("a.od").eqNullSafe(F.col("b.od"))
    klass = (
        F.when(in_a & ~in_b, "removed")
        .when(~in_a & in_b, "added")
        .when(chg_status | chg_price | chg_date, "changed")
        .otherwise("unchanged")
    )
    both = in_a & in_b
    return (
        j.select(
            klass.alias("change_type"),
            (both & chg_status).cast("int").alias("c_status"),
            (both & chg_price).cast("int").alias("c_price"),
            (both & chg_date).cast("int").alias("c_date"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("c_status").alias("n_status_changed"),
            F.sum("c_price").alias("n_price_changed"),
            F.sum("c_date").alias("n_date_changed"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------------- Q100


def q100_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / OOV report (E19 — the statistic that
    drives tokenizer and quality decisions before training): define
    the vocabulary as the corpus's top-1000 tokens by (frequency
    desc, token asc), then report per document-source: total token
    occurrences, occurrences outside the vocabulary (OOV), distinct
    rare tokens (corpus frequency ≤ 2), and the OOV rate — every
    numerator and denominator an exact integer, one final double
    division + ROUND(.,6).

    Plan: one token explode feeding (1) the corpus-frequency
    dictionary (vocab-sized hash agg; top-1000 via
    ``orderBy(...).limit(1000)`` over the DICTIONARY — Spark
    executes that as TakeOrderedAndProject, a per-partition top-k
    merge with NO SinglePartition exchange and no reliance on the
    window-group-limit rewrite) and (2) the per-source rollup after
    a frequency join. Dictionary-sized state only; the corpus is
    scanned once per consumer and never collected.
    """
    from ..ops.text import tokens

    d = load_table(spark, sf_dir, "documents")
    e = d.select("source", F.explode(tokens("text")).alias("tok"))
    freq = e.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    vocab = (
        freq.orderBy(F.col("f").desc(), F.col("tok").asc())
        .limit(1000)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    ef = e.join(freq, "tok").join(vocab, "tok", "left")
    return (
        ef.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count_if(F.col("in_vocab").isNull()).alias("n_oov"),
            F.countDistinct(
                F.when(F.col("f") <= 2, F.col("tok"))
            ).alias("n_rare_distinct"),
            F.round(
                F.count_if(F.col("in_vocab").isNull()).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q101


def q101_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT money proration by the largest-remainder method (the
    reference's SPLT_CD domain shape — splitting one filed amount
    across allocation lines — done the way money must be split:
    integer cents, allocations that sum EXACTLY to the total, no
    floating point anywhere).

    Per order (keys %10 == 0 to bound output): allocate
    ``o_totalprice`` across its lineitems proportional to
    ``l_quantity``. Base share = ``(cents·qᵢ) div Q`` (floor), then
    the leftover ``R = cents − Σ shares`` cents (0 ≤ R < n_lines) go
    one each to the R lines with the largest remainders
    ``(cents·qᵢ) mod Q`` — tie-broken by (line number, quantity):
    this testdata's `l_linenumber` is NOT unique within an order
    (discovered the hash-mismatch way), and rows that still tie on
    all three keys are identical in every output column, so the
    allocation MULTISET is a total deterministic function of the
    data even when row_number splits them arbitrarily. Everything
    is bigint (cents < 6e7, qᵢ ≤ 50 ⟹ products < 2⁶³).

    Plan (round-9 rewrite): one join, then EVERY per-order quantity
    — Q, Σshare, the leftover R and the remainder rank — comes from
    windows over the SAME o_orderkey partitioning: one shuffle
    total, and no aggregate-then-join-back branches (the original
    agg+join form re-derived the fact join per consumer — 8 scans
    in the round-9 plan audit; window chaining reuses one sort).
    """
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            # NOT dec()*100: o_totalprice is a TPC-H derived sum with
            # sub-cent digits, and double->decimal(12,2) casts round
            # the half-cent differently across engines. ROUND of the
            # IEEE product is the same double in both.
            F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("cents"),
        )
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
    )
    j = li.join(o, "o_orderkey")
    worder = Window.partitionBy("o_orderkey")
    j = j.select(
        "o_orderkey",
        "l_linenumber",
        "q",
        "cents",
        F.sum("q").over(worder).alias("qsum"),
    ).select(
        "o_orderkey",
        "l_linenumber",
        "q",
        "cents",
        F.expr("(cents * q) div qsum").alias("share"),
        F.expr("(cents * q) % qsum").alias("frac"),
    )
    w = Window.partitionBy("o_orderkey").orderBy(
        F.col("frac").desc(), F.col("l_linenumber").asc(), F.col("q").asc()
    )
    return (
        j.select(
            "*",
            (F.col("cents") - F.sum("share").over(worder)).alias("R"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .select(
            "o_orderkey",
            "l_linenumber",
            "q",
            (
                F.col("share")
                + F.when(F.col("_rn") <= F.col("R"), 1).otherwise(0)
            ).alias("alloc_cents"),
        )
        .orderBy("o_orderkey", "l_linenumber", "q")
    )


# ---------------------------------------------------------------- Q102


def q102_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE per group (E2 — engine-native `mode()`
    leaves tie order undefined, so both engines instead compute the
    argmax explicitly): per order priority, the most frequent order
    status, ties broken to the smallest status value, plus its count
    and share of the group.

    Plan: one (priority, status) count aggregation, then the argmax
    via a rank window over the GROUPED result (25 rows — model-
    sized); share = count/total in one double division, ROUND(.,6).
    """
    o = load_table(spark, sf_dir, "orders")
    c = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("n").desc(), F.col("o_orderstatus").asc()
    )
    wt = Window.partitionBy("o_orderpriority")
    return (
        c.withColumn("_rn", F.row_number().over(w))
        .withColumn("_tot", F.sum("n").over(wt))
        .filter(F.col("_rn") == 1)
        .select(
            "o_orderpriority",
            F.col("o_orderstatus").alias("modal_status"),
            "n",
            F.round(
                F.col("n").cast("double") / F.col("_tot").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q103


def q103_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report window shares (E3 — the OLAP reporting idiom:
    each row's contribution to its group and to the grand total in
    one pass): revenue per nation with its share of the region and
    of the world.

    Exact decimal revenue sums; the two normalizers are window sums
    over the 25-row NATION-grain aggregate (model-sized), so no
    second scan of the fact table; each share is one double
    division, ROUND(.,6).
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    wr = Window.partitionBy("r_name")
    ww = Window.partitionBy()
    return rev.select(
        "r_name",
        "n_name",
        F.round("rev", 2).cast("double").alias("revenue"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(wr).cast("double"),
            6,
        ).alias("share_of_region"),
        F.round(
            F.col("rev").cast("double") / F.sum("rev").over(ww).cast("double"),
            6,
        ).alias("share_of_world"),
    ).orderBy("r_name", "n_name")


# ---------------------------------------------------------------- Q104


def q104_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (E24's measurement half — q74 is the
    salting CURE, this is the report that tells you whether you need
    it): the 10 hottest `o_custkey` values with their row counts,
    share of the table, and the skew ratio vs the mean key load.

    One key-grain aggregation; the two global normalizers (row and
    key counts) come from a 1-ROW aggregate broadcast back onto the
    key-grain result — NOT a global window over it, because the key
    grain itself can be billions of rows at 100 TB and a
    single-partition window there would be the very bottleneck this
    query diagnoses. The top-10 is a distributed TakeOrdered. All
    counts exact integers; shares/ratios are single double
    divisions, ROUND(.,6).
    """
    o = load_table(spark, sf_dir, "orders")
    per_key = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    norms = per_key.agg(
        F.sum("n").alias("_rows"), F.count(F.lit(1)).alias("_keys")
    )
    stats = per_key.crossJoin(F.broadcast(norms))
    return (
        stats.orderBy(F.col("n").desc(), F.col("o_custkey").asc())
        .limit(10)
        .select(
            "o_custkey",
            "n",
            F.round(
                F.col("n").cast("double") / F.col("_rows").cast("double"), 6
            ).alias("share_of_rows"),
            F.round(
                F.col("n").cast("double")
                / (F.col("_rows").cast("double") / F.col("_keys").cast("double")),
                6,
            ).alias("skew_vs_mean"),
        )
        .orderBy(F.col("n").desc(), F.col("o_custkey").asc())
    )


# ---------------------------------------------------------------- Q106


def q106_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed TRIANGLE COUNTING with degree orientation (the
    graph-analytics companion to q80 PageRank / q96 components —
    E1/E24's join-discipline showcase): count triangles and the
    global clustering coefficient of the part co-purchase graph
    (parts appearing in the same order, orders ``%4 == 0``).

    The naive triangle join (edges³) explodes on hub vertices. The
    scalable plan (Schank-Wagner / Suri-Vassilvitskii, public
    literature) ORIENTS each edge from its lower-(degree, id)
    endpoint to the higher one: every out-degree is then bounded by
    ~√|E|, so the wedge self-join is Σ d_out² instead of Σ d², and
    each triangle is counted exactly once (its unique cyclic
    orientation has one source with two out-edges).

    Plan: one equi-self-join per order to derive edges (distinct —
    dedup shuffle), one degree aggregation, the oriented wedge
    self-join (equi on the wedge center), and one equi-join closing
    wedges against oriented edges. All integers; the clustering
    coefficient is ONE IEEE division (3·T / wedges — exact-
    deterministic in both engines). Global 1-row aggregate → final
    merge is the declared q01 single-partition pattern.

    Edges, degrees and oriented edges are MATERIALIZED
    (ops/materialize — reliable checkpoint when the session has a
    checkpoint dir, else localCheckpoint): e feeds 4 consumers, deg
    4, o 3, and per-consumer column pruning makes their subtrees
    canonically different, so without lineage truncation nothing is
    reused — the round-9 plan audit counted FORTY lineitem scans in
    the physical plan. Materialized: ONE scan, and the wedge join
    reads cached narrow rows.
    """
    from ..ops.materialize import materialize

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 4 == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    e = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    e = materialize(e)
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    deg = materialize(deg)
    du = deg.select(F.col("id").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("d").alias("dv"))
    lo_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    o = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("t"),
            F.when(lo_is_u, F.col("dv")).otherwise(F.col("du")).alias("dt"),
        )
    )
    o = materialize(o)
    o1, o2 = o.alias("o1"), o.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s"))
        & (
            (F.col("o1.dt") < F.col("o2.dt"))
            | (
                (F.col("o1.dt") == F.col("o2.dt"))
                & (F.col("o1.t") < F.col("o2.t"))
            )
        ),
    ).select(F.col("o1.t").alias("wa"), F.col("o2.t").alias("wb"))
    closing = o.select(F.col("s").alias("wa"), F.col("t").alias("wb"))
    tri = wedges.join(closing, ["wa", "wb"], "left_semi")

    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = e.agg(F.count(F.lit(1)).alias("n_edges"))
    nw = deg.agg(
        (F.sum(F.col("d") * (F.col("d") - 1)) / F.lit(2))
        .cast("long")
        .alias("n_wedges")
    )
    nt = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    return (
        nv.crossJoin(ne)
        .crossJoin(nw)
        .crossJoin(nt)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            (
                F.lit(3) * F.col("n_triangles").cast("double")
                / F.col("n_wedges").cast("double")
            ).alias("transitivity"),
        )
    )


# ---------------------------------------------------------------- Q107


def q107_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic PRIORITY SAMPLING (Duffield-Lund-Thorup shape —
    the weighted without-replacement sample a training-data pipeline
    draws from a 100 TB fact table with ONE scan + a top-k merge,
    E13's weighted completion: q47 is uniform fractions, q84 uniform
    top-k-by-hash, q70 per-group rates; this is probability-
    proportional-to-size).

    Each row gets priority ``q = u / w`` where ``u`` is the integer
    md5-prefix hash of its identity (q84/q95's cross-engine hash
    convention) and ``w = l_quantity`` its weight; the sample is the
    k=20 SMALLEST priorities, so inclusion odds scale with weight.
    Hash-derived randomness makes the draw reproducible across
    snapshots and engines: u is exact integer in both, and the
    single IEEE division is bit-deterministic (no rounding rule
    needed). Exact-duplicate rows share a priority; the sort order
    extends through the hash and the full key so the selected
    MULTISET is a total function of the data (q101's tie lesson).

    Plan: one scan, codegen hash + division, global
    ``orderBy(...).limit(k)`` = TakeOrderedAndProject (per-partition
    top-k, merge of k·partitions rows — no global sort, no shuffle
    of the fact table).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        F.col("l_quantity").cast("long").alias("w"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("l_orderkey"),
                    F.col("l_linenumber"),
                    F.col("l_partkey"),
                    F.col("l_suppkey"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    s = li.select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
        "w",
        (u.cast("double") / F.col("w").cast("double")).alias("priority"),
    )
    return s.orderBy(
        "priority",
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_suppkey",
    ).limit(20)


# ---------------------------------------------------------------- Q108


def q108_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered CONVERSION FUNNEL (sequential analytics over the
    event stream — the product-analytics idiom q81's Markov matrix
    and q36's session windows don't cover: "of the users who VIEWED,
    how many later CLICKED, and then later PURCHASED?"). Stage k's
    timestamp is the user's earliest qualifying event AT OR AFTER
    stage k−1 — order matters, not mere presence.

    Plan: three user-keyed conditional MIN aggregations chained by
    equi-joins on ``user_id`` (each stage joins the previous stage's
    per-user watermark, filters ``ep ≥ prev``, re-aggregates), one
    left-join ladder onto the user universe, one global 1-row
    summary (declared q01 final-merge pattern). Everything
    partitions on the user key at any scale; timestamps are floored
    epoch seconds (rule 2), conversion rates are single IEEE
    divisions of exact counts.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", _ep("ts").alias("ep"), "event_type"
    )
    users = e.select("user_id").distinct()
    t1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ep").alias("t1"))
    )
    t2 = (
        e.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ep") >= F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t2"))
    )
    t3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ep") >= F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("t3"))
    )
    f = (
        users.join(t1, "user_id", "left")
        .join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
    )
    return f.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_viewed"),
        F.count("t2").alias("n_clicked_after_view"),
        F.count("t3").alias("n_purchased_after_click"),
        F.when(
            F.count("t1") > 0,
            F.round(
                F.count("t2").cast("double") / F.count("t1").cast("double"), 6
            ),
        ).alias("view_to_click"),
        F.when(
            F.count("t2") > 0,
            F.round(
                F.count("t3").cast("double") / F.count("t2").cast("double"), 6
            ),
        ).alias("click_to_purchase"),
    )


# ---------------------------------------------------------------- Q109


def q109_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETENTION COHORT matrix (the warehouse growth-analytics
    staple): users grouped by the ISO week of their FIRST event;
    for each (cohort_week, week_offset) the count of cohort members
    active that week and the retention share.

    Plan: one user-keyed MIN aggregation (first day), one equi-join
    back to the activity stream, one (cohort, offset, user) dedup +
    (cohort, offset) count — calendar-bounded output (weeks ×
    offsets). Day arithmetic only (dates, integer day diffs,
    floor-div 7): rule 2 keeps raw timestamps out; the retention
    share is a single IEEE division of exact counts.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").cast("date").alias("d")
    )
    first = e.groupBy("user_id").agg(F.min("d").alias("d0"))
    cohort = first.select(
        "user_id",
        "d0",
        F.date_trunc("week", F.col("d0")).cast("date").alias("cohort_week"),
    )
    size = cohort.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    act = (
        e.join(cohort, "user_id")
        .select(
            "cohort_week",
            F.floor(F.datediff(F.col("d"), F.col("d0")) / F.lit(7))
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .distinct()
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return (
        act.join(F.broadcast(size), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------- Q110


def q110_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTENT-DEFINED CHUNKING + chunk-level dedup report (E19/E15
    — the rolling-hash fingerprinting idiom the fixed-size chunker
    q58 cannot give: boundaries chosen by CONTENT, so an insertion
    near a doc's head shifts no downstream chunk boundaries and
    shared passages dedupe across documents).

    A position ``i`` ends a chunk when the 8-char window hash
    satisfies ``h % 64 == 0`` (expected chunk ≈ 64 chars); document
    end always cuts. Window hashes are integer md5 prefixes of the
    window SUBSTRING (the q84/q95 cross-engine hash convention) —
    production swaps the O(n·w) substring hash for an O(n)
    Gear/Rabin rolling hash; every Spark-side shape (position
    explode, boundary filter, per-doc LAG reconstruction, fingerprint
    rollup) is identical. Output per source: chunk count, distinct
    chunk fingerprints, the duplicate-chunk ratio (the number that
    justifies chunk-level dedup), and mean chunk length.

    Plan (round-8 shape — document text crosses an exchange at most
    ONCE PER DOCUMENT, never once per cut): the position explode and
    window-hash filter are NARROW (inside the scan stage) and the
    boundary rows are immediately projected down to ``(doc_id, p)``
    integers, so the only cut-grain shuffle moves ~n/64 ints per doc
    (map-side-combined ``collect_list``). The per-doc sorted cut
    list is turned into ``(start, end)`` pairs with a chunk-count-
    sized ``transform`` + ``explode`` AFTER joining the doc-grain
    text back exactly once; ``substring`` + ``md5`` run in that join
    stage. A 1 MB doc therefore ships 1 MB through one exchange —
    not the O(n²/64) of the round-7 shape the verdict flagged.
    """
    from ..tables import spread

    w = 8
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text", F.length("text").alias("n")
    )
    pos = d.filter(F.col("n") >= w).select(
        "doc_id",
        "n",
        "text",
        F.explode(
            F.sequence(F.lit(1).cast("int"), (F.col("n") - (w - 1)).cast("int"))
        ).alias("i"),
    )
    h = F.conv(
        F.substring(F.md5(F.substring("text", F.col("i"), F.lit(w))), 1, 15),
        16,
        10,
    ).cast("long")
    # boundary positions only — text is dropped BEFORE any exchange;
    # p = i + w - 1 is unique per doc (i is), so collect_list is set-safe
    cuts_b = (
        pos.withColumn("_h", h)
        .filter(F.col("_h") % 64 == 0)
        .select("doc_id", (F.col("i") + (w - 1)).alias("p"))
        .filter(F.col("p") < F.col("n"))
    )
    cutlists = cuts_b.groupBy("doc_id").agg(F.collect_list("p").alias("ps"))
    # join text back ONCE per doc; docs with no interior cut (or n<w)
    # get the single [n] end-cut via the left join's null branch
    full = d.join(cutlists, "doc_id", "left").select(
        "source",
        "text",
        F.array_sort(
            F.concat(
                F.coalesce("ps", F.array().cast("array<int>")),
                F.array(F.col("n").cast("int")),
            )
        ).alias("ps2"),
    )
    se = F.explode(
        F.transform(
            "ps2",
            lambda x, idx: F.struct(
                (F.coalesce(F.get("ps2", idx - 1), F.lit(0)) + 1).alias("start"),
                x.alias("end"),
            ),
        )
    ).alias("se")
    ch = full.select("source", "text", se).select(
        "source", "text", F.col("se.start").alias("start"), F.col("se.end").alias("p")
    )
    fp = ch.select(
        "source",
        (F.col("p") - F.col("start") + 1).alias("clen"),
        F.md5(
            F.substring("text", F.col("start"), F.col("p") - F.col("start") + 1)
        ).alias("f"),
    )
    return (
        fp.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.countDistinct("f").alias("n_distinct_chunks"),
            F.round(
                (F.count(F.lit(1)) - F.countDistinct("f")).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("dup_chunk_ratio"),
            F.round(
                F.sum("clen").cast("double") / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("avg_chunk_len"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q111


def q111_merkle_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-level MERKLE reconciliation (q99's 100 TB companion):
    before paying a full-outer key join across two table versions,
    compare ORDER-INDEPENDENT bucket fingerprints — count + XOR of
    per-row integer hashes per ``o_orderkey % 64`` bucket — and
    rescan only the buckets that disagree. Two 100 TB replicas diff
    with one map-side-combined aggregate each plus a 64-row compare;
    q99's row-level join then runs on the mismatched slice only.

    Snapshot B derives exactly as in q99 (drop %101 keys, +1.00 on
    %97, re-insert past MAX). The row hash is the md5-prefix integer
    of the canonical rendered row (the cross-engine hash
    convention); XOR makes the bucket fingerprint commutative, so
    no sort and no ordering assumption anywhere — identical under
    any partitioning. Output: per bucket, both row counts and
    whether the fingerprints match — exact integers only.
    """
    a = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        dec("o_totalprice").alias("price"),
        F.col("o_orderdate").cast("date").alias("od"),
    )
    mx = a.agg(F.max("o_orderkey").alias("_mx"))
    kept = a.filter(F.col("o_orderkey") % 101 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 97 == 0,
            F.col("price") + F.lit(1).cast("decimal(12,2)"),
        )
        .otherwise(F.col("price"))
        .alias("price"),
        "od",
    )
    added = (
        a.filter(F.col("o_orderkey") % 101 == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("_mx") + 1).alias("o_orderkey"),
            F.lit("N").alias("o_orderstatus"),
            F.col("price"),
            "od",
        )
    )
    b = kept.unionByName(added)

    def fingerprints(df: DataFrame, n_label: str, fp_label: str) -> DataFrame:
        rh = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.col("o_orderkey"),
                        F.col("o_orderstatus"),
                        F.col("price").cast("string"),
                        F.col("od").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        return (
            df.select(
                F.pmod(F.col("o_orderkey"), F.lit(64)).alias("bucket"),
                rh.alias("_h"),
            )
            .groupBy("bucket")
            .agg(
                F.count(F.lit(1)).alias(n_label),
                F.bit_xor("_h").alias(fp_label),
            )
        )

    fa = fingerprints(a, "n_a", "fp_a")
    fb = fingerprints(b, "n_b", "fp_b")
    j = fa.join(fb, "bucket", "full_outer")
    return (
        j.select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
            (
                F.col("n_a").eqNullSafe(F.col("n_b"))
                & F.col("fp_a").eqNullSafe(F.col("fp_b"))
            )
            .cast("int")
            .alias("bucket_match"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------- Q113


def q113_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact HEAVY HITTERS with bounded aggregation state (E19/E13 —
    the frequent-items pass a pipeline runs over a multi-billion-key
    column before deciding what to filter): tokens of the documents
    corpus with frequency > N/k, k=30, found via per-batch
    Misra-Gries candidate summaries (ops/heavy.py — O(k) state per
    task regardless of key cardinality) plus an exact recount of the
    candidate set only.

    The answer is EXACT and partition-invariant: the candidate union
    is a guaranteed superset of every global heavy hitter
    (pigeonhole over batch sizes), and the recount pass replaces
    false positives with their true counts before the threshold
    filter — so the DuckDB oracle is the naive full groupBy, which
    at 100 TB is exactly the plan this operator exists to avoid
    (full-vocabulary shuffle + hash-agg state).
    """
    from ..ops.heavy import heavy_hitters
    from ..ops.text import tokens

    d = load_table(spark, sf_dir, "documents").select(
        F.explode(tokens("text")).alias("tok")
    )
    return heavy_hitters(d, "tok", k=30)


# ---------------------------------------------------------------- Q114


def q114_sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SORTED-NEIGHBORHOOD near-dup blocking (Hernandez-Stolfo SNM,
    the record-linkage classic — E17's third blocking family next to
    LSH banding (q95) and grid blocking (q73)): sort documents by a
    blocking key, compare each doc only against its w nearest
    neighbors in sort order, verify candidates with exact 3-shingle
    Jaccard >= 0.5.

    Contract (block-windowed SNM): block = first two tokens; within
    a block, rank by (text, doc_id); candidate pairs are rank
    distance <= 3. Blocks keep every window PARTITIONED (no global
    single-task sort): ranks come from a block-keyed row_number, and
    the window join is an equi-join on (block, rank+offset). The
    verify stage is the q91 inverted-index count-join — candidates
    carry only integers; shingle sets never ride the pair rows.

    Skew honesty: the per-block window is single-task PER BLOCK, so
    the blocking key must be granular enough that the hottest block
    fits a task — an inherent SNM property (Hernandez-Stolfo run
    multiple passes with different keys for exactly this reason).
    On a corpus where 2-token prefixes skew, widen the key (3+
    tokens, or prefix+length) — the contract parameterizes cleanly;
    the equi-join shape is unchanged.
    """
    from ..ops.ssjoin import shingle_rows

    w = 3
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split("text", " "), lambda x: x != "")
    blocked = d.select(
        "doc_id",
        "text",
        F.concat_ws(" ", toks[0], toks[1]).alias("blk"),
    )
    wr = Window.partitionBy("blk").orderBy("text", "doc_id")
    ranked = blocked.select(
        "doc_id", "blk", F.row_number().over(wr).alias("r")
    )
    left = ranked.select(
        F.col("doc_id").alias("doc_a"),
        "blk",
        F.explode(F.sequence(F.col("r") + 1, F.col("r") + w)).alias("r2"),
    )
    cand = left.join(
        ranked.select(F.col("doc_id").alias("doc_b"), "blk", F.col("r").alias("r2")),
        ["blk", "r2"],
    ).select("doc_a", "doc_b")

    from ..ops.materialize import materialize

    # sh feeds FOUR join sides below — materialize once so the
    # tokenize + shingle window doesn't re-execute per side (the
    # q94/q95 shared-table lesson)
    sh = materialize(shingle_rows(d, "doc_id", "text", k=3))  # (doc_id, nt, g)
    sz = sh.select("doc_id", "nt").distinct()
    ia = cand.join(sh.select(F.col("doc_id").alias("doc_a"), "g"), "doc_a")
    inter = (
        ia.join(sh.select(F.col("doc_id").alias("doc_b"), "g"), ["doc_b", "g"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    p = (
        inter.join(sz.select(F.col("doc_id").alias("doc_a"), F.col("nt").alias("nta")), "doc_a")
        .join(sz.select(F.col("doc_id").alias("doc_b"), F.col("nt").alias("ntb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            (F.col("nta") + F.col("ntb") - F.col("n_inter")).alias("n_union"),
        )
    )
    return (
        p.filter(F.lit(3) * F.col("n_inter") >= F.col("n_union") + F.col("n_inter"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union").cast("double"), 4
            ).alias("sim"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------- Q115


def q115_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-WEIGHTED AVERAGE value per event type (the TWAP /
    interval-weighting idiom of time-series analytics — an event's
    value holds until the user's NEXT event, so a value that stood
    for an hour weighs 3600x one that stood a second; plain AVG
    can't express this).

    Each event's weight is the integer-second gap to the same
    user's next event ((ep, event_id) total order; a user's last
    event has no holding interval and drops out). Exact arithmetic
    end to end: cents via ROUND(value*100) of the IEEE product (the
    o_totalprice lesson), weights are integer seconds, the weighted
    sum is a sum of exact bigint products — the only floats are the
    final divisions. Plan: one user-keyed window (lead), one
    event_type hash-agg; everything partitions on user_id then
    event_type at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _ep("ts").alias("ep"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wu = Window.partitionBy("user_id").orderBy("ep", "event_id")
    iv = e.select(
        "event_type",
        "cents",
        (F.lead("ep").over(wu) - F.col("ep")).alias("dur"),
    ).filter(F.col("dur").isNotNull())
    return (
        iv.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.sum("dur").alias("total_sec"),
            F.when(
                F.sum("dur") > 0,
                F.round(
                    (
                        F.sum(F.col("cents") * F.col("dur")).cast("double")
                        / F.sum("dur").cast("double")
                    )
                    / F.lit(100.0),
                    6,
                ),
            ).alias("twap_value"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------- Q116


def q116_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED LINEAR REGRESSION (exact-moment OLS — the analytics/
    feature-engineering staple regr_slope gives approximately but
    float-sum order makes engine-dependent): per l_returnflag, the
    slope, intercept and r-squared of extendedprice-cents on
    quantity, from EXACT integer moment sums.

    Determinism: x = quantity (int), y = ROUND(price*100) cents
    (bigint); per-row products fit long; the five moment sums
    accumulate as decimal(38,0) (DuckDB: HUGEINT) so they are exact
    integers; each is then cast once to double (correctly rounded in
    both engines) and the closed-form slope/intercept/r2 are fixed
    IEEE expression trees — bit-identical cross-engine. Plan: one
    scan, one map-side-combined hash-agg to flag grain; the moment
    trick means ANY group size at 100 TB costs one pass.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    d20 = "decimal(20,0)"
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("x").cast(d20)).alias("sx"),
        F.sum(F.col("y").cast(d20)).alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(d20)).alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(d20)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(d20)).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    deny = n * syy - sy * sy
    slope = num / den
    return g.select(
        "l_returnflag",
        "n",
        F.when(den != 0.0, F.round(slope, 6)).alias("slope_cents_per_unit"),
        F.when(den != 0.0, F.round((sy - slope * sx) / n, 6)).alias(
            "intercept_cents"
        ),
        F.when(den * deny != 0.0, F.round((num * num) / (den * deny), 6)).alias(
            "r2"
        ),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------- Q117


def q117_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RELATIONAL DIVISION ("for all" join — the textbook operator
    SQL spells GROUP BY ... HAVING COUNT(DISTINCT) = universe):
    which users have performed EVERY event type present in the
    corpus, with the universe size computed from the data itself.

    Plan: one distinct-count for the universe (1 row, broadcast as
    the declared q01 scalar-merge pattern), one user-keyed distinct
    count, one threshold filter, one global rollup. Both aggregates
    are map-side combined; nothing is driver-side.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    k = e.agg(
        F.countDistinct("event_type").cast("long").alias("n_event_types")
    )
    per_user = e.groupBy("user_id").agg(
        F.countDistinct("event_type").cast("long").alias("nt")
    )
    return (
        per_user.crossJoin(F.broadcast(k))  # 1-row scalar join
        .agg(
            F.min("n_event_types").alias("n_event_types"),
            F.count(F.lit(1)).alias("n_users"),
            F.sum(
                (F.col("nt") == F.col("n_event_types")).cast("long")
            ).alias("n_complete_users"),
            F.round(
                F.sum((F.col("nt") == F.col("n_event_types")).cast("long")).cast(
                    "double"
                )
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("complete_share"),
        )
    )


# ---------------------------------------------------------------- Q118


def q118_stratified_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-STRATUM weighted priority sampling (q107's stratified
    completion — the per-source quota draw a training-data mixture
    builder runs: 3 docs per source, inclusion odds proportional to
    document length, reproducible across engines and snapshots).

    Priority q = u / w with u the integer md5-prefix hash of doc_id
    and w = n_chars; the per-source sample is the 3 SMALLEST
    priorities (row_number over (source) ordered by (priority,
    doc_id) — hash ties extend through the key so the multiset is a
    total function of the data). Plan: one scan, codegen hash +
    division, one source-partitioned window — each stratum ranks
    inside its own partition, no global sort at any scale.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.col("n_chars").cast("long").alias("w"))
        # zero-length docs carry no sampling weight — and u/0.0 is
        # Infinity in Spark but NULL in DuckDB, so the filter is also
        # the cross-engine guard
        .filter(F.col("w") > 0)
    )
    u = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    s = d.select(
        "source",
        "doc_id",
        "w",
        (u.cast("double") / F.col("w").cast("double")).alias("priority"),
    )
    ws = Window.partitionBy("source").orderBy("priority", "doc_id")
    return (
        s.select(
            "source",
            "doc_id",
            "w",
            "priority",
            F.row_number().over(ws).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("source", "rn")
    )


# ---------------------------------------------------------------- Q119


def q119_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIGRAM COLLOCATION mining by lift (the PMI-family statistic
    with the log dropped — lift = P(xy)/(P(x)P(y)) ranks identically
    to PMI and stays an exact-integer cross-ratio, so no libm in the
    contract): the 20 strongest token bigrams with count >= 5.

    lift = n_xy * N / (n_x * n_y) where N is the total token count;
    all four factors are exact integers, the score is one IEEE
    division (well, one multiply each side then a divide — a fixed
    expression tree both engines evaluate identically). Plan:
    bigrams via zip_with over adjacent slices (pure codegen, q59's
    2-gram idiom), two hash-aggs (bigram grain, unigram grain), two
    joins unigram-side (dictionary-sized at any corpus — the
    vocabulary, not the corpus, bounds them), TakeOrdered top-20.
    """
    from ..ops.text import tokens

    d = load_table(spark, sf_dir, "documents").select(tokens("text").alias("toks"))
    d = d.filter(F.size("toks") > 1)
    uni = (
        d.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("nw"))
    )
    nn = d.select(F.explode("toks").alias("w")).agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    big = d.select(
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("g")
    ).select("g.w1", "g.w2")
    nxy = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n_xy"))
    j = (
        nxy.filter(F.col("n_xy") >= 5)
        .join(uni.select(F.col("w").alias("w1"), F.col("nw").alias("n_x")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("nw").alias("n_y")), "w2")
        .crossJoin(F.broadcast(nn))  # 1-row scalar join
    )
    lift = (F.col("n_xy").cast("double") * F.col("n_total").cast("double")) / (
        F.col("n_x").cast("double") * F.col("n_y").cast("double")
    )
    return (
        j.select(
            "w1",
            "w2",
            "n_xy",
            "n_x",
            "n_y",
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------- Q120


def q120_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SECOND-ORDER SEQUENCE MINING over the event stream (q81's
    Markov matrix is first-order; funnels (q108) are fixed-pattern —
    this surfaces the top free-form 3-step behavioral patterns): the
    15 most frequent (event, next, next-next) trigrams within a
    user's (ep, event_id)-ordered stream.

    Plan: one user-keyed window (two leads share one sort), one
    trigram hash-agg (state bounded by |event_type|^3 — tiny),
    TakeOrdered top-15 with the (count desc, a, b, c) total order.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", _ep("ts").alias("ep"), "event_type"
    )
    wu = Window.partitionBy("user_id").orderBy("ep", "event_id")
    tri = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(wu).alias("e2"),
        F.lead("event_type", 2).over(wu).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        tri.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "e1", "e2", "e3")
        .limit(15)
    )


# ---------------------------------------------------------------- Q121


def q121_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted QUARTILES per group, float-free (q98's
    generalization — the full summary a mixture/budget planner needs,
    not just the median): per ``l_returnflag``, the smallest price
    whose cumulative quantity weight reaches p = 1/4, 2/4, 3/4 of
    the group total. Membership is the integer-scaled decimal test
    ``4·cum ≥ k·tot`` (k = 1, 2, 3) — no division anywhere.

    Plan (q98's two-level bucketed search, shared across quantiles):
    the (flag, price) pre-agg and the 1024-wide bucket cum table
    build ONCE; each quantile k locates its target bucket on the
    bucket-grain window (first bucket where ``4·bcum ≥ k·tot`` —
    monotone cum, so provably the answer's bucket), and the exact
    in-bucket test runs per (flag, k) over the single surviving
    bucket's rows (broadcast 9-row join). The final window's input
    stays bucket-grain-bounded — never the group's value domain —
    exactly the q98 scale contract, now amortized over three
    quantiles.  The whole search is the factored ``ops/quantile.py``
    operator (q98 and q127 share it) — the three fractions fan out
    only at the bucket grain inside it.
    """
    from ..ops.quantile import exact_quantiles_bucketed

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").alias("price"),
        dec("l_quantity").alias("q"),
    )
    from ..ops.materialize import materialize

    # round-17: the quantile search reads its grain twice (bucket
    # pass + in-bucket pass) — materialize so the fact scan and the
    # grain hash-agg run once (the q127/q159 discipline).
    g = materialize(
        li.groupBy("l_returnflag", "price").agg(F.sum("q").alias("w"))
    )
    hit = exact_quantiles_bucketed(
        g, "l_returnflag", "price", "w", [1, 2, 3], 4
    )
    return (
        hit.groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("_num") == 1, F.col("q"))).alias("p25_price"),
            F.min(F.when(F.col("_num") == 2, F.col("q"))).alias("median_price"),
            F.min(F.when(F.col("_num") == 3, F.col("q"))).alias("p75_price"),
            F.round(F.max("tot"), 2).cast("double").alias("total_qty"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q122


def q122_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC TIME-SERIES RESAMPLING (the downsampling idiom of every
    market/metrics store — E3/E7's bar-building completion): per
    (event_type, 6-hour bucket), the opening value (earliest event),
    high, low, closing value (latest event), and the event count.

    Open/close are SELECTIONS under the (ep, event_id) total order
    (no arithmetic — cross-engine identical doubles); high/low are
    min/max selections; the bucket is integer ``ep div 21600``
    (rule 2: epoch-derived ints, no raw timestamps). Plan: ONE
    (type, bucket)-keyed window sort carries both first_value and
    last_value (frame to unbounded following for the close), then
    one hash-agg; everything partitions on (type, bucket) at any
    scale — bars build independently.
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        _ep("ts").alias("ep"),
        "value",
    )
    e = e.withColumn("bucket", F.floor(F.col("ep") / F.lit(21600)).cast("long"))
    wb = Window.partitionBy("event_type", "bucket").orderBy("ep", "event_id")
    wall = wb.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    v = e.select(
        "event_type",
        "bucket",
        "value",
        F.first("value").over(wb).alias("open"),
        F.last("value").over(wall).alias("close"),
    )
    return (
        v.groupBy("event_type", "bucket")
        .agg(
            F.min("open").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.min("close").alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type", "bucket")
    )


# ---------------------------------------------------------------- Q123


def q123_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MARKET-BASKET association rules, level 2 (the A-priori staple
    q119's token collocations don't cover — baskets, not sequences):
    brand pairs co-purchased within an order, with exact-integer
    support counts and the support/confidence/lift triple as fixed
    IEEE divisions. Top-20 by (lift desc, brands), n_ab >= 50.

    Plan: one lineitem x part equi-join lifted to (order, brand)
    grain by a distinct (the brand dictionary bounds each basket at
    25 rows), one order-keyed self-join for pairs (bounded explode:
    <= 25*24/2 pairs per order regardless of order size), two
    dictionary-sized hash-aggs (pair grain, brand grain), one
    TakeOrdered. Everything order-partitioned until the final
    25x25-bounded aggregate — no skew surface at any scale.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    from ..ops.materialize import materialize

    # (order, brand) baskets feed FIVE consumers (universe count,
    # brand supports, both pair-join sides) — materialized so the
    # lineitem x part join runs once (10 scans before, round-9 audit)
    b = materialize(
        li.join(p, li.l_partkey == p.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    n_orders = b.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    na = b.groupBy("p_brand").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pairs = (
        b.alias("x")
        .join(b.alias("y"), "l_orderkey")
        .filter(F.col("x.p_brand") < F.col("y.p_brand"))
        .select(
            F.col("x.p_brand").alias("brand_a"),
            F.col("y.p_brand").alias("brand_b"),
        )
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ab"))
        .filter(F.col("n_ab") >= 50)
    )
    j = (
        pairs.join(
            na.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")),
            "brand_a",
        )
        .join(
            na.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")),
            "brand_b",
        )
        .crossJoin(F.broadcast(n_orders))  # 1-row scalar join
    )
    nab = F.col("n_ab").cast("double")
    return (
        j.select(
            "brand_a",
            "brand_b",
            "n_ab",
            "n_a",
            "n_b",
            "n_orders",
            F.round(nab / F.col("n_orders").cast("double"), 6).alias("support"),
            F.round(nab / F.col("n_a").cast("double"), 6).alias("confidence_ab"),
            F.round(
                (nab * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------- Q124


def q124_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH ATTRIBUTION (the marketing-analytics idiom the
    funnel (q108) and Markov matrix (q81) don't give: WHICH channel
    gets credit for each conversion): every purchase's value is
    attributed to the user's most recent click at or before it in
    the (ep, event_id) total order; channel = the click's
    ``props.k`` decade (10 channels); purchases with no prior click
    land in channel -1.

    Plan: ONE user-keyed window (LOCF of the click channel via
    ``last(..., ignorenulls=True)`` — the q57 gap-fill idiom turned
    sideways), one channel hash-agg. Exact cents; the only floats
    are the final share/value divisions. Everything partitions on
    user_id then channel at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        _ep("ts").alias("ep"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    wu = (
        Window.partitionBy("user_id")
        .orderBy("ep", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ck = F.when(F.col("event_type") == "click", F.floor(F.col("k") / 10))
    tagged = e.select(
        "event_type",
        "cents",
        F.last(ck, ignorenulls=True).over(wu).alias("channel"),
    )
    pur = tagged.filter(F.col("event_type") == "purchase").select(
        F.coalesce(F.col("channel"), F.lit(-1)).cast("long").alias("channel"),
        "cents",
    )
    tot = pur.agg(
        F.count(F.lit(1)).cast("long").alias("n_tot"),
        F.sum("cents").alias("c_tot"),
    )
    return (
        pur.groupBy("channel")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
            F.sum("cents").alias("cents_sum"),
        )
        .crossJoin(F.broadcast(tot))  # 1-row scalar join
        .select(
            "channel",
            "n_purchases",
            F.round(F.col("cents_sum").cast("double") / F.lit(100.0), 2).alias(
                "attributed_value"
            ),
            F.round(
                F.col("n_purchases").cast("double") / F.col("n_tot").cast("double"),
                6,
            ).alias("purchase_share"),
            F.round(
                F.col("cents_sum").cast("double") / F.col("c_tot").cast("double"),
                6,
            ).alias("value_share"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------- Q125


def q125_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLING 7-DAY DISTINCT ACTIVE USERS (DAU/WAU "stickiness" —
    the product-metric staple a sliding window CANNOT express,
    because COUNT(DISTINCT) does not decompose over window frames):
    per active day, the day's distinct users (DAU), the distinct
    users of the trailing 7 days (WAU), and DAU/WAU.

    The scalable shape is CONTRIBUTION EXPLODE, not per-day
    self-joins: each (user, day) activity row fans out to the 7
    report days it contributes to (a bounded 7x explode of a
    user-day-grain table), then one distinct + count per report
    day. Report days are restricted to days with actual activity
    (semi-join) so the output is the data's own calendar. Integer
    epoch-days only (rule 2); the stickiness ratio is one IEEE
    division of exact counts.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", (_ep("ts") / F.lit(86400)).cast("long").alias("dd")
    )
    ud = e.distinct()  # (user, day) grain
    dau = ud.groupBy("dd").agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("dd"), F.col("dd") + F.lit(6))).alias("rd"),
    ).distinct()
    active_days = ud.select(F.col("dd").alias("rd")).distinct()
    wau = (
        contrib.join(active_days, "rd", "left_semi")
        .groupBy("rd")
        .agg(F.countDistinct("user_id").cast("long").alias("wau"))
    )
    return (
        dau.join(wau, dau.dd == wau.rd)
        .select(
            F.col("dd").alias("day"),
            "dau",
            "wau",
            F.round(
                F.col("dau").cast("double") / F.col("wau").cast("double"), 6
            ).alias("stickiness"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------- Q126


def q126_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-TO-CONVERT distribution (the funnel's missing axis —
    q108 counts WHO converts, this measures HOW LONG conversion
    takes): per user, the gap from first signup to the first
    purchase AT OR AFTER it; one summary row with the conversion
    rate and the exact interpolated gap quantiles (q19/q97's proven
    percentile ↔ quantile_cont pairing over integer day gaps).

    Plan: two user-keyed conditional MIN aggregations chained by an
    equi-join (the q108 stage shape), one global typed aggregate.
    Floored epoch arithmetic only; the quantile inputs are exact
    integers so the interpolation is the same fixed IEEE expression
    in both engines.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", _ep("ts").alias("ep"), "event_type"
    )
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ep").alias("s"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .filter(F.col("ep") >= F.col("s"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("p"), F.min("s").alias("s2"))
    )
    g = p.select(
        F.floor((F.col("p") - F.col("s2")) / F.lit(86400)).cast("long").alias(
            "gap_days"
        )
    )
    signups = s.agg(F.count(F.lit(1)).cast("long").alias("n_signup"))
    return (
        g.agg(
            F.count(F.lit(1)).cast("long").alias("n_converted"),
            F.min("gap_days").alias("min_days"),
            F.expr("percentile(gap_days, 0.5)").alias("median_days"),
            F.expr("percentile(gap_days, 0.9)").alias("p90_days"),
            F.max("gap_days").alias("max_days"),
        )
        .crossJoin(F.broadcast(signups))  # 1-row scalar join
        .select(
            "n_signup",
            "n_converted",
            F.round(
                F.col("n_converted").cast("double")
                / F.col("n_signup").cast("double"),
                6,
            ).alias("conversion_rate"),
            "min_days",
            "median_days",
            "p90_days",
            "max_days",
        )
    )


# ---------------------------------------------------------------- Q127


def q127_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROBUST outlier detection via MAD (median absolute deviation —
    Iglewicz & Hoaglin's modified z-score, the robust sibling of
    q87's mean/stddev z-score, which an actual outlier can itself
    corrupt): per l_returnflag, the median price, the MAD, and the
    count of rows whose modified z exceeds 3.5.

    TWO exact grouped medians chain through ops/quantile.py's
    bucket-grain search (q98's scale contract, now a reusable
    operator): the price median first, then the median of
    |price − med| after a broadcast join of the 3-row median table.
    Both medians are the DECLARED smallest-value-with-2·cum≥tot
    order statistic over integer counts — no interpolation. The
    outlier test is float-free in structure: 0.6745·|x − med| >
    3.5·mad, two fixed IEEE products compared — bit-identical in
    both engines.
    """
    from ..ops.quantile import exact_quantile_bucketed

    from ..ops.materialize import materialize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", F.col("l_extendedprice").alias("price")
    )
    # the (flag, price) grain feeds the median search (which itself
    # reads it twice: bucket pass + in-bucket pass) AND the deviation
    # derivation — materialized so the fact scan happens once per
    # chained search instead of per consumer (9 scans before)
    g = materialize(
        li.groupBy("l_returnflag", "price").agg(
            F.count(F.lit(1)).cast("long").alias("w")
        )
    )
    # Round-18 consumer-count audit: ``med`` (3 rows) feeds TWO
    # separate actions — the deviation grain's checkpoint below and
    # the final outlier aggregate — and each used to re-run the whole
    # bucket-grain median search from ``g``. One ~0.1 s checkpoint of
    # the 3-row result replaces the second search.
    med = materialize(
        exact_quantile_bucketed(
            g, "l_returnflag", "price", "w", num=1, den=2
        ).withColumnRenamed("q", "med")
    )
    dev = (
        g.join(F.broadcast(med), "l_returnflag")
        .select(
            "l_returnflag",
            F.abs(F.col("price") - F.col("med")).alias("d"),
            "w",
        )
        .groupBy("l_returnflag", "d")
        .agg(F.sum("w").alias("w"))
    )
    dev = materialize(dev)
    mad = exact_quantile_bucketed(
        dev, "l_returnflag", "d", "w", num=1, den=2
    ).withColumnRenamed("q", "mad")
    # The outlier count folds over the MATERIALIZED (flag, price, w)
    # grain, not the fact table — the test only depends on distinct
    # prices, so weighting by w gives the identical count with zero
    # additional fact scans (round 10: this was the plan's third
    # lineitem read).
    flagged = (
        g.join(F.broadcast(med), "l_returnflag")
        .join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum("w").cast("long").alias("n"),
            F.min("med").alias("median_price"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(
                    F.lit(0.6745) * F.abs(F.col("price") - F.col("med"))
                    > F.lit(3.5) * F.col("mad"),
                    F.col("w"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return flagged.select(
        "l_returnflag",
        "n",
        "median_price",
        "mad",
        "n_outliers",
        F.round(
            F.col("n_outliers").cast("double") / F.col("n").cast("double"), 6
        ).alias("outlier_rate"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------- Q128


def q128_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN/VAL/TEST LEAKAGE AUDIT (E13+E15+E19 composition — the
    check every training-data pipeline must run after splitting:
    did any duplicated content land on both sides of a fold?): at
    bag-of-words grain (md5 of the sorted distinct whitespace-token
    set — exact dedup's normalization one notch coarser, so token
    reorderings of the same content collide), find every content
    group whose documents span MORE THAN ONE split of the q67
    deterministic 90/5/5 fold, with the splits it leaks across.

    Everything deciding membership is exact: the fingerprint is a
    string hash, the fold is ops/split.py's md5 bucket (never
    rand()), and the aggregates are integer counts. Plan: one scan
    computes fingerprint + split in codegen, ONE fp-keyed hash agg
    (map-side partial) collapses the corpus to content grain, and
    the leaked filter runs on the aggregate — at 100 TB the shuffle
    carries one row per distinct fingerprint per map task, never
    the duplicated volume. Reference anchor: SURVEY §2.5 E13/E15
    (split + dedup contracts composed).
    """
    from ..ops.split import split_label
    from ..ops.text import tokens

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(tokens(F.lower(F.trim(F.col("text")))))
            ),
            " ",
        )
    )
    f = d.select(
        "doc_id",
        fp.alias("fp"),
        split_label(F.col("doc_id")).alias("split"),
    )
    return (
        f.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.array_sort(F.collect_set("split")).alias("_ss"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.size("_ss") > 1)
        .select(
            "fp",
            "n_docs",
            F.size("_ss").cast("long").alias("n_splits"),
            F.array_join("_ss", ",").alias("splits"),
            "first_doc",
        )
        .orderBy("first_doc")
    )


# ---------------------------------------------------------------- Q129


def q129_equidepth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQUI-DEPTH HISTOGRAM (E13 — the optimizer/statistics idiom:
    nine exact decile boundaries per group, so every band between
    adjacent boundaries holds ~10 % of the rows): per
    ``o_orderpriority``, the d1..d9 deciles of ``o_totalprice``.

    All nine fractions run through ONE pass of the factored
    ``ops/quantile.py`` bucket-grain search (q98/q121/q127's
    operator) — the pre-agg and bucket cum table build once and the
    fan-out to nine targets happens at the tiny bucket grain, never
    the data grain. Membership is the float-free ``10·cum ≥ k·tot``
    integer test; the reported boundaries are STORED values passing
    through untouched (no interpolation), so the hash gate sees
    bit-identical doubles.
    """
    from ..ops.quantile import exact_quantiles_bucketed

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("price"),
    )
    from ..ops.materialize import materialize

    # round-17: the quantile search reads its grain twice (bucket
    # pass + in-bucket pass) — materialize so the fact scan and the
    # grain hash-agg run once (the q127/q159 discipline).
    g = materialize(
        o.groupBy("pri", "price").agg(
            F.count(F.lit(1)).cast("long").alias("w")
        )
    )
    hit = exact_quantiles_bucketed(
        g, "pri", "price", "w", list(range(1, 10)), 10
    )
    aggs = [
        F.min(F.when(F.col("_num") == k, F.col("q"))).alias(f"d{k}")
        for k in range(1, 10)
    ]
    return (
        hit.groupBy("pri")
        .agg(*aggs, F.max("tot").cast("long").alias("n"))
        .orderBy("pri")
    )


# ---------------------------------------------------------------- Q130


def q130_decile_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DECILE GAINS / LIFT TABLE (E2/E3+E13 — the model-evaluation
    and marketing idiom: cut customers into value tenths, report
    each tenth's share and cumulative share of total value), decile
    1 = the top spenders.

    A global RANK over customers (the textbook NTILE formulation)
    is exactly the q98-class anti-pattern — one task sorts every
    customer. Instead the nine decile BOUNDARIES come from the
    factored ``ops/quantile.py`` bucket-grain search over the
    spend-grain weight table (one `_g` global group — the bucket
    windows run over spend_range/1024 rows, a value-domain
    constant), and each customer's decile is decided by a 9-row
    broadcast comparison: ascending band ``1 + |{k: spend > d_k}|``
    (ties land in the lower band, both engines identically),
    flipped so decile 1 is the top. Band sizes are data-determined
    under ties — declared, not forced to n/10. The fact table never
    globally sorts; the only windows below customer grain are the
    bounded bucket search and the 10-row cumulative-share window.
    All money stays decimal until the final rounded IEEE divisions.
    """
    from ..ops.materialize import materialize
    from ..ops.quantile import exact_quantiles_bucketed

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", dec("o_totalprice").alias("p")
    )
    # round-17: three consumers read the customer-spend table (the
    # quantile search's bucket + in-bucket passes via `sg`, and the
    # banding below) — materialize so the orders scan and the
    # customer agg run once (the q127/q159 discipline).
    spend = materialize(o.groupBy("o_custkey").agg(F.sum("p").alias("spend")))
    sg = (
        spend.groupBy("spend")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .withColumn("_g", F.lit(0))
    )
    bounds = exact_quantiles_bucketed(
        sg, "_g", "spend", "w", list(range(1, 10)), 10
    ).select(F.col("q").alias("d"))
    banded = (
        spend.crossJoin(F.broadcast(bounds))
        .groupBy("o_custkey")
        .agg(
            F.min("spend").alias("spend"),
            F.sum((F.col("spend") > F.col("d")).cast("long")).alias("_nb"),
        )
        .select("o_custkey", "spend", (F.lit(10) - F.col("_nb")).alias("decile"))
    )
    d = banded.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("spend").alias("dspend"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    return (
        d.select(
            "decile",
            "n_cust",
            F.round("dspend", 2).cast("double").alias("decile_spend"),
            F.round(
                F.col("dspend").cast("double")
                / F.sum("dspend").over(wt).cast("double"),
                6,
            ).alias("share"),
            F.round(
                F.sum("dspend").over(wc).cast("double")
                / F.sum("dspend").over(wt).cast("double"),
                6,
            ).alias("cum_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------- Q131


def q131_ab_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B EXPERIMENT READOUT (E2/E13 — the two-sample comparison
    every product analytics stack runs): users deterministically
    assigned to variants by the md5 fold (ops/split.py's bucket at
    n=2 — never rand(), so the assignment survives reruns and
    joins), per-user metric = total purchase value, and the Welch
    z-statistic for the A→B lift computed from EXACT per-variant
    moment sums (q62/q116's idiom: decimal power sums cast to
    double ONCE, then one shared IEEE expression — engine-native
    stddev would accumulate doubles in partition order and flake
    the hash gate).

    Plan: one events scan → user-grain hash agg (metric + variant
    in codegen) → 2-row variant agg → 1-row readout (global final
    merge, the declared q01/q53 tiny-aggregate class). Zero joins.
    """
    from ..ops.split import hash_bucket

    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", dec("value"))
        .otherwise(dec(F.lit(0.0)))
        .alias("v"),
    )
    # cap the per-user metric at DECIMAL(18,4) so m*m stays within
    # decimal-38 in BOTH engines (DuckDB silently falls back to
    # DOUBLE past 38 digits, which would break exactness parity)
    u = e.groupBy("user_id").agg(
        F.sum("v").cast("decimal(18,4)").alias("m")
    )
    u = u.select(
        F.when(hash_bucket(F.col("user_id"), 2) == 0, "A")
        .otherwise("B")
        .alias("variant"),
        "m",
    )
    s = u.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("m").alias("sm"),
        F.sum(F.col("m") * F.col("m")).alias("smm"),
    )
    one = s.groupBy().agg(
        F.min(F.when(F.col("variant") == "A", F.col("n"))).alias("n_a"),
        F.min(F.when(F.col("variant") == "B", F.col("n"))).alias("n_b"),
        F.min(F.when(F.col("variant") == "A", F.col("sm"))).alias("sa"),
        F.min(F.when(F.col("variant") == "B", F.col("sm"))).alias("sb"),
        F.min(F.when(F.col("variant") == "A", F.col("smm"))).alias("saa"),
        F.min(F.when(F.col("variant") == "B", F.col("smm"))).alias("sbb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    sa = F.col("sa").cast("double")
    sb = F.col("sb").cast("double")
    saa = F.col("saa").cast("double")
    sbb = F.col("sbb").cast("double")
    var_a = (na * saa - sa * sa) / (na * (na - F.lit(1.0)))
    var_b = (nb * sbb - sb * sb) / (nb * (nb - F.lit(1.0)))
    return one.select(
        "n_a",
        "n_b",
        F.round(sa / na, 6).alias("mean_a"),
        F.round(sb / nb, 6).alias("mean_b"),
        F.round(sb / nb - sa / na, 6).alias("lift"),
        F.round(
            (sb / nb - sa / na) / F.sqrt(var_a / na + var_b / nb), 6
        ).alias("welch_z"),
    )


# ---------------------------------------------------------------- Q132


def q132_dup_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DUPLICATE BASKET DETECTION via SET-VALUED GROUPING KEYS (E15
    at composite grain — exact dedup where the identity is a SET,
    not a row: orders whose distinct-brand basket is identical):
    baskets of ≥ 3 brands shared by more than one order, top 20 by
    multiplicity.

    The basket key is ``array_sort(collect_set(brand))`` — grouping
    BY an array column, the canonical-form trick that turns set
    equality into hashable equality (q128's bag-of-words
    fingerprint without the hash, so the key stays inspectable).
    Plan: fact⋈dim partkey join (AQE broadcasts the dim at small
    scale; a plain shuffle join at 100 TB — part scales with SF, so
    no broadcast hint is forced), order-grain hash agg to build
    baskets, basket-keyed hash agg to count, TakeOrdered for the
    deterministic top-20 (total order: n_orders desc, basket asc).
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("_basket"))
        .select(
            "l_orderkey",
            F.array_join("_basket", ",").alias("basket"),
            F.size("_basket").cast("long").alias("n_brands"),
        )
    )
    return (
        b.groupBy("basket", "n_brands")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.min("l_orderkey").alias("first_order"),
        )
        .filter((F.col("n_orders") > 1) & (F.col("n_brands") >= 3))
        .select("basket", "n_brands", "n_orders", "first_order")
        .orderBy(F.col("n_orders").desc(), F.col("basket").asc())
        .limit(20)
    )


# ---------------------------------------------------------------- Q133


def q133_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEEKLY COHORT RETENTION (E2/E3 — the product-analytics matrix
    q125's DAU/WAU and q126's time-to-convert both feed into): users
    cohorted by FIRST signup epoch-week, "retained" in week w if
    they made a high-value purchase (value ≥ 150) that week; one row
    per (cohort_week, weeks_since) with the retained count, cohort
    size, and rate.

    Rule-2 time handling: integer epoch-weeks (``ep div 604800``)
    only — no raw timestamps, no calendar functions. Plan: two
    branches off ONE events scan shape (signup firsts: user-keyed
    min-agg; active weeks: distinct over a selective filter), a
    user-keyed equi-join (both sides user-partitioned), cohort
    sizes from a cohort-grain agg joined back broadcast (cohort
    cardinality is time-bounded, not data-bounded), final hash agg.
    COUNT(DISTINCT user) inside the (cohort, week) group dedups
    join fan-out exactly.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        (_ep("ts") / F.lit(604800)).cast("long").alias("wk"),
    )
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("wk").alias("cw"))
    )
    act = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") >= 150))
        .select("user_id", F.col("wk").alias("aw"))
        .distinct()
    )
    coh = su.groupBy("cw").agg(F.count(F.lit(1)).cast("long").alias("n_cohort"))
    return (
        su.join(act, "user_id")
        .filter(F.col("aw") >= F.col("cw"))
        .groupBy("cw", (F.col("aw") - F.col("cw")).alias("weeks_since"))
        .agg(F.count_distinct(F.col("user_id")).cast("long").alias("n_active"))
        .join(F.broadcast(coh), "cw")
        .select(
            F.col("cw").alias("cohort_week"),
            "weeks_since",
            "n_active",
            "n_cohort",
            F.round(
                F.col("n_active").cast("double")
                / F.col("n_cohort").cast("double"),
                6,
            ).alias("retention"),
        )
        .orderBy("cohort_week", "weeks_since")
    )


# ---------------------------------------------------------------- Q134


def q134_clamped_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLAMPED LEDGER — the grouped sequential recurrence that
    windows provably cannot express (E22's honest engine use-case:
    credit limits, inventory floors, token-bucket rate limits): per
    user, purchases credit ``+value`` and errors debit ``-value``
    into a balance clamped to [0, 500] after EVERY step; clamping
    destroys associativity, so no window frame computes it and the
    engine-correct shape is ops/sequential.py's per-key ordered
    Arrow scan (chunkable-by-carry at 100 TB — see that module's
    scale contract).

    Oracled exactly despite the non-associativity: DuckDB replays
    the identical float64 fold with list lambdas (ordered delta list
    prefix-folded through greatest/least — oracles.py §q134), so the
    value hash is a bitwise check, with tests/test_ops.py's
    Python-equivalence and chunk-carry property tests pinning the
    operator itself. Output is user-grain: transaction
    count, closing balance (the last row under the (ep, event_id)
    total order via max_by), and the min/max watermarks.
    """
    from ..ops.sequential import clamped_running_sum

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    tx = e.select(
        "user_id",
        _ep("ts").alias("ep"),
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value"))
        .otherwise(-F.col("value"))
        .alias("delta"),
    )
    b = clamped_running_sum(
        tx, ["user_id"], ["ep", "event_id"], "delta", lo=0.0, hi=500.0
    )
    return (
        b.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tx"),
            F.max_by("balance", F.struct("ep", "event_id")).alias(
                "closing_balance"
            ),
            F.min("balance").alias("min_balance"),
            F.max("balance").alias("max_balance"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------- Q135


def q135_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL RANK FUSION (E19 — the standard zero-tuning way to
    merge heterogeneous rankings, the idiom behind every hybrid
    search stack): within each event_type, users are ranked two
    independent ways — by exact total value (desc) and by recency of
    last activity (latest ep first) — and fused with
    ``RRF = 1/(60 + r_value) + 1/(60 + r_recency)``; top 5 users per
    type by the fused score.

    Determinism: both ranks are ``row_number`` under total orders
    (value desc tie-broken by user_id; recency desc tie-broken by
    user_id), so the RRF sum is two fixed IEEE divisions — rounded
    at 6 only for output, ranked on the exact value. Plan: one
    events scan → (type, user) hash agg → two windows over the SAME
    (type)-partitioned user-grain aggregate (partition-bounded, no
    global sort) → TakeOrdered-per-group top-5 (WindowGroupLimit).
    """
    e = load_table(spark, sf_dir, "events").select(
        "event_type", "user_id", dec("value").alias("v"), _ep("ts").alias("ep")
    )
    u = e.groupBy("event_type", "user_id").agg(
        F.sum("v").alias("tv"), F.max("ep").alias("last_ep")
    )
    wv = Window.partitionBy("event_type").orderBy(
        F.col("tv").desc(), F.col("user_id").asc()
    )
    wr = Window.partitionBy("event_type").orderBy(
        F.col("last_ep").desc(), F.col("user_id").asc()
    )
    r = u.select(
        "event_type",
        "user_id",
        F.row_number().over(wv).alias("r_value"),
        F.row_number().over(wr).alias("r_recency"),
    ).withColumn(
        "rrf",
        F.lit(1.0) / (F.lit(60.0) + F.col("r_value").cast("double"))
        + F.lit(1.0) / (F.lit(60.0) + F.col("r_recency").cast("double")),
    )
    wf = Window.partitionBy("event_type").orderBy(
        F.col("rrf").desc(), F.col("user_id").asc()
    )
    return (
        r.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= 5)
        .select(
            "event_type",
            F.col("rnk").cast("long").alias("rnk"),
            "user_id",
            F.col("r_value").cast("long").alias("r_value"),
            F.col("r_recency").cast("long").alias("r_recency"),
            F.round("rrf", 6).alias("rrf"),
        )
        .orderBy("event_type", "rnk")
    )


# ---------------------------------------------------------------- Q136


def q136_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION / RELIABILITY CURVE (E13 — the model-eval
    companion of q130's gains table: is a score's implied likelihood
    honest?): treating each event's ``value`` as a score, bin it
    into ten fixed-width bands (``least(9, floor(value/100))`` —
    constants, not data-derived) and report per bin the event count,
    the empirical purchase rate (exact integer counts, one rounded
    IEEE division), and the mean score from a decimal sum (rule 4).

    One scan, one 10-row hash agg — the curve is a pure map-side
    fold at any scale.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.least(F.lit(9), F.floor(F.col("value") / F.lit(100)))
        .cast("long")
        .alias("bin"),
        (F.col("event_type") == "purchase").cast("long").alias("is_p"),
        dec("value").alias("v"),
    )
    return (
        e.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("is_p").alias("n_purchase"),
            F.round(
                F.sum("is_p").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("purchase_rate"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("mean_value"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------- Q137


def q137_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-QUALITY EXPECTATION SUITE (V1/V2's generalization — the
    dbt-test / Great-Expectations idiom, and the closest modern
    analogue of the reference's per-table verification reports,
    SURVEY §2.2 V1): one row per declared check with exact
    violation counts — key uniqueness, referential integrity,
    not-null, and accepted-range checks across four tables.

    Every check is a single-pass aggregate (uniqueness = count −
    count(distinct); integrity = anti-join count with the dimension
    side broadcast-eligible); the 7-row union of 1-row summaries is
    the declared q01/q53 tiny-aggregate class. At 100 TB each check
    stays one scan + map-side partials — the suite parallelizes
    check-wise and the fact tables are never joined to each other.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")
    e = load_table(spark, sf_dir, "events")

    def row(check: str, table: str, total: F.Column, bad: F.Column, src):
        return src.agg(
            F.lit(check).alias("check_id"),
            F.lit(table).alias("table_name"),
            total.cast("long").alias("n_total"),
            bad.cast("long").alias("n_bad"),
        ).select(
            "check_id",
            "table_name",
            "n_total",
            "n_bad",
            (F.col("n_bad") == 0).cast("long").alias("passed"),
        )

    cnt = F.count(F.lit(1))
    checks = [
        row(
            "unique_o_orderkey",
            "orders",
            cnt,
            cnt - F.count_distinct(F.col("o_orderkey")),
            o.groupBy(),
        ),
        row(
            "unique_c_custkey",
            "customer",
            cnt,
            cnt - F.count_distinct(F.col("c_custkey")),
            c.groupBy(),
        ),
        row(
            "not_null_o_custkey",
            "orders",
            cnt,
            F.sum(F.col("o_custkey").isNull().cast("long")),
            o.groupBy(),
        ),
        row(
            "range_l_discount_0_0.1",
            "lineitem",
            cnt,
            F.sum(
                (
                    (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)
                ).cast("long")
            ),
            li.groupBy(),
        ),
        row(
            "range_l_quantity_pos",
            "lineitem",
            cnt,
            F.sum((F.col("l_quantity") <= 0).cast("long")),
            li.groupBy(),
        ),
        row(
            "nonneg_event_value",
            "events",
            cnt,
            F.sum((F.col("value") < 0).cast("long")),
            e.groupBy(),
        ),
        # referential integrity: lineitem orderkeys must exist in
        # orders — count at the DISTINCT-key grain (the scalable
        # form: dedup first, anti-join the key sets)
        row(
            "fk_lineitem_orders",
            "lineitem",
            cnt,
            cnt
            - F.count(F.col("o_orderkey")),
            li.select("l_orderkey")
            .distinct()
            .join(
                o.select("o_orderkey").distinct(),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "left",
            )
            .groupBy(),
        ),
        row(
            "fk_orders_customer",
            "orders",
            cnt,
            cnt - F.count(F.col("c_custkey")),
            o.select("o_custkey")
            .distinct()
            .join(
                c.select("c_custkey").distinct(),
                F.col("o_custkey") == F.col("c_custkey"),
                "left",
            )
            .groupBy(),
        ),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out.orderBy("check_id")


# ---------------------------------------------------------------- Q138


def q138_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25-SHAPED lexical retrieval top-k (E19 — the sparse half of
    every hybrid search stack; q135's RRF is the fusion, demos'
    ``hybrid_search`` composes all three): score every document
    against the fixed query ``{dup, hash, window}`` with the BM25
    term-saturation form (k1 = 1.2, b = 0.75) and return the top 20.

    Hash-gateable BM25 needs two substitutions, both documented:
    (1) the idf keeps Robertson's odds ratio PRE-log —
    ``(N − df + 0.5)/(df + 0.5)`` — because ln() is libm-dependent
    across engines (the tfidf_topterms precedent; the true-ln
    variant runs rows-only inside ``hybrid_search``); (2) the
    per-document sum over query terms is a FIXED three-slot pivot
    (one conditional-max per term, added left-to-right), not an
    order-undefined float aggregate. Every remaining op is IEEE
    mult/div/add evaluated in the same written order in both
    engines (the q34 dot-product precedent), so the hash is bitwise.

    Plan: one documents scan tokenized once feeding (a) the doc-
    length table, (b) the query-term posting explode; tf is a
    (doc, term) hash agg; df (3 rows) and the global (N, Σdl) row
    are broadcast; the scorer is pure codegen arithmetic; top-20 by
    exact score is TakeOrderedAndProject — no global sort, no
    window, nothing Python. At 100 TB the only shuffles are the two
    hash aggs on (doc) and (doc, term); the posting explode is
    pre-filtered to the query's terms (IN-list pushed to the scan
    projection), so shuffle bytes scale with MATCHING tokens, not
    corpus tokens.
    """
    from ..ops.text import tokens

    TERMS = ["dup", "hash", "window"]
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("toks")
    )
    dl = d.select(
        "doc_id", F.size("toks").cast("bigint").alias("dl")
    )
    st = dl.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum("dl").cast("double").alias("sumdl"),
    )
    e = d.select("doc_id", F.explode("toks").alias("tok")).filter(
        F.col("tok").isin(TERMS)
    )
    dft = (
        e.distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("double").alias("dfd"))
    )
    tf = e.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tfd")
    )
    avgdl = F.col("sumdl") / F.col("nd")
    sat = (F.col("tfd") * F.lit(2.2)) / (
        F.col("tfd")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75) * (F.col("dl").cast("double") / avgdl)
        )
    )
    idf = ((F.col("nd") - F.col("dfd")) + F.lit(0.5)) / (
        F.col("dfd") + F.lit(0.5)
    )
    w = tf.join(dl, "doc_id").join(F.broadcast(dft), "tok").crossJoin(
        F.broadcast(st)
    ).select("doc_id", "tok", (idf * sat).alias("w"))
    slots = [
        F.max(F.when(F.col("tok") == t, F.col("w"))).alias(f"s_{t}")
        for t in TERMS
    ]
    scored = w.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"), *slots
    )
    score = (
        F.coalesce(F.col("s_dup"), F.lit(0.0))
        + F.coalesce(F.col("s_hash"), F.lit(0.0))
    ) + F.coalesce(F.col("s_window"), F.lit(0.0))
    return (
        scored.select("doc_id", "n_terms", score.alias("_score"))
        .orderBy(F.col("_score").desc(), F.col("doc_id").asc())
        .limit(20)
        .select(
            "doc_id", "n_terms", F.round("_score", 6).alias("score")
        )
    )


# ---------------------------------------------------------------- Q139


def q139_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM DIVERSITY report per document source (E19 — the
    distinct-n-grams/total-n-grams ratio is the standard cheap
    diversity proxy for training corpora, the aggregate cousin of
    the self-BLEU family): for n ∈ {1, 2, 3}, total n-gram
    occurrences, distinct n-grams, and their ratio per source.

    Exactness: totals come from the LENGTH FORMULA
    ``Σ max(0, len − n + 1)`` over the per-doc token counts (no
    explode needed); distincts come from the posexplode+lead shingle
    pattern (ops/ssjoin module rule: array HOF chains are
    interpreted per element — measured 5× slower); the ratio is the
    only double, one division, rounded at 6.

    Plan (round-9 single-pass rewrite): ONE posexplode + ONE lead
    window derives all three gram widths in the same projection —
    g1 = tok, g2 = tok·lead1, g3 = tok·lead1·lead2 — unpivoted to
    (source, n, gram) rows and deduped in one distinct shuffle; the
    three totals are three sums of ONE per-source aggregate. The
    first formulation built each n's grams from its own branch —
    per-branch column pruning defeated subtree reuse and the plan
    scanned documents six times; this one scans twice (the tiny
    length table + the posting derivation)."""
    raw = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", raw.alias("toks")
    )
    # totals: one (source)-grain agg carrying all three length sums
    tots = (
        d.select("source", F.size("toks").alias("len"))
        .groupBy("source")
        .agg(
            *[
                F.sum(F.greatest(F.lit(0), F.col("len") - F.lit(n - 1)))
                .cast("long")
                .alias(f"t{n}")
                for n in (1, 2, 3)
            ]
        )
        .select(
            "source",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).cast("int").alias("n"),
                            F.col(f"t{n}").alias("total_ngrams"),
                        )
                        for n in (1, 2, 3)
                    ]
                )
            ).alias("_e"),
        )
        .select("source", "_e.n", "_e.total_ngrams")
    )
    tr = d.select("doc_id", "source", F.posexplode("toks").alias("pos", "tok"))
    wd = Window.partitionBy("doc_id").orderBy("pos")
    led = tr.select(
        "source",
        "tok",
        F.lead("tok", 1).over(wd).alias("l1"),
        F.lead("tok", 2).over(wd).alias("l2"),
    )
    l1, l2 = F.col("l1"), F.col("l2")
    stacked = led.select(
        "source",
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("int").alias("n"), F.col("tok").alias("g")
                ),
                F.struct(
                    F.lit(2).cast("int").alias("n"),
                    F.when(
                        l1.isNotNull(), F.concat_ws(" ", F.col("tok"), l1)
                    ).alias("g"),
                ),
                F.struct(
                    F.lit(3).cast("int").alias("n"),
                    F.when(
                        l2.isNotNull(),
                        F.concat_ws(" ", F.col("tok"), l1, l2),
                    ).alias("g"),
                ),
            )
        ).alias("_e"),
    ).select("source", "_e.n", "_e.g").filter(F.col("g").isNotNull())
    dis = (
        stacked.distinct()
        .groupBy("source", "n")
        .agg(F.count(F.lit(1)).cast("long").alias("distinct_ngrams"))
    )
    return (
        tots.join(dis, ["source", "n"])
        .select(
            "source",
            "n",
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams").cast("double")
                / F.col("total_ngrams").cast("double"),
                6,
            ).alias("diversity"),
        )
        .orderBy("source", "n")
    )


# ---------------------------------------------------------------- Q140


def q140_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KOLMOGOROV–SMIRNOV distance (E13 — the
    distribution-drift test every data-quality/monitoring stack
    runs; q131's Welch z compares means, this compares whole
    CDFs): D = max |F̂_A(v) − F̂_B(v)| between the order-price
    distributions of the BUILDING and AUTOMOBILE customer segments,
    with the 5%-level rejection verdict.

    Exactness: prices become integer cents via ``ROUND(price·100)``
    of the IEEE product (the documented o_totalprice convention);
    ECDF numerators are exact integer cumulative counts; each ECDF
    value is ONE division, the gap one subtraction/abs, the
    threshold ``1.358·√((n1+n2)/(n1·n2))`` one sqrt (IEEE
    correctly-rounded in both engines — the q116/q131 precedent).

    Scale shape (the q98/ops-quantile discipline): the cumulative
    count at value v = bucket-prefix + within-bucket running sum —
    the only global window runs at BUCKET grain (value_range/2^16
    rows, a domain constant), the per-value window is partitioned
    by bucket; nothing data-grain crosses a single partition.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    v = (
        o.join(
            c.filter(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("v"),
            (F.col("c_mktsegment") == "BUILDING").cast("long").alias("isa"),
        )
    )
    g = v.groupBy("v").agg(
        F.sum("isa").alias("d1"),
        F.sum(1 - F.col("isa")).alias("d2"),
    ).withColumn("_bkt", F.floor(F.col("v") / F.lit(65536)))
    b = g.groupBy("_bkt").agg(
        F.sum("d1").alias("s1"), F.sum("d2").alias("s2")
    )
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
    bc = b.select(
        "_bkt",
        (F.sum("s1").over(wb) - F.col("s1")).alias("p1"),
        (F.sum("s2").over(wb) - F.col("s2")).alias("p2"),
    )
    wv = (
        Window.partitionBy("_bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.join(bc, "_bkt").select(
        "v",
        (F.col("p1") + F.sum("d1").over(wv)).alias("c1"),
        (F.col("p2") + F.sum("d2").over(wv)).alias("c2"),
    )
    nn = g.agg(
        F.sum("d1").cast("double").alias("n1"),
        F.sum("d2").cast("double").alias("n2"),
    )
    diff = F.abs(
        F.col("c1").cast("double") / F.col("n1")
        - F.col("c2").cast("double") / F.col("n2")
    )
    d = (
        cum.crossJoin(F.broadcast(nn))
        .agg(
            F.max(diff).alias("_d"),
            F.max("n1").alias("_n1"),
            F.max("n2").alias("_n2"),
        )
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("_n1") + F.col("_n2")) / (F.col("_n1") * F.col("_n2"))
    )
    return d.select(
        F.col("_n1").cast("bigint").alias("n1"),
        F.col("_n2").cast("bigint").alias("n2"),
        F.round("_d", 6).alias("d_stat"),
        (F.col("_d") > crit).cast("int").alias("reject_05"),
    )


# ---------------------------------------------------------------- Q141


def q141_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GINI CONCENTRATION of the token-frequency distribution per
    source (E19 — "how head-heavy is this corpus slice?", the
    scalar the rank-frequency/Zipf plot summarizes; log-free so it
    hash-gates where a fitted Zipf slope could not).

    Exactness: with per-source frequencies f_i ranked ascending
    (ties broken by token — a total order), Gini =
    (2·Σi·f_i − (n+1)·Σf_i) / (n·Σf_i) — numerator and denominator
    are EXACT integer aggregates; the single division is the only
    double, rounded at 6. Plan: one token explode → (source, tok)
    hash agg (map-side partials carry the corpus); the rank window
    and the moment aggregation run at DICTIONARY grain (vocab-sized
    partitions per source — the declared q100 class), never data
    grain.
    """
    raw = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    e = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(raw).alias("tok")
    )
    freq = e.groupBy("source", "tok").agg(
        F.count(F.lit(1)).alias("f")
    )
    w = Window.partitionBy("source").orderBy(
        F.col("f").asc(), F.col("tok").asc()
    )
    r = freq.select("source", "f", F.row_number().over(w).alias("i"))
    m = r.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("f").cast("long").alias("total_tokens"),
        F.sum(F.col("i") * F.col("f")).cast("long").alias("_sif"),
    )
    gini = (
        (F.lit(2) * F.col("_sif") - (F.col("n_tokens") + 1) * F.col("total_tokens"))
        .cast("double")
        / (F.col("n_tokens") * F.col("total_tokens")).cast("double")
    )
    return (
        m.select(
            "source", "n_tokens", "total_tokens", F.round(gini, 6).alias("gini")
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------- Q142


def q142_ewma_signal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of each user's purchase-value stream (E22
    sequential family, second member beside q134: the recurrence
    ``s_i = α·x_i + (1−α)·s_{i-1}`` rounds at every step, so float
    reassociation — hence any window/aggregate reformulation —
    changes the result; the engine-correct shape is
    ops/sequential.ewma_running's per-key ordered Arrow scan,
    chunkable by carry at 100 TB).

    Oracled BITWISE via the q134 list-lambda technique: DuckDB
    prefix-folds the identically ordered value list through the
    identically written ``0.25·x + 0.75·s`` body. Output is
    user-grain: observation count, closing EWMA (the last row under
    the (ep, event_id) total order), and the series min/max.
    """
    from ..ops.sequential import ewma_running

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    tx = e.select(
        "user_id",
        _ep("ts").alias("ep"),
        "event_id",
        F.col("value").alias("x"),
    )
    s = ewma_running(tx, ["user_id"], ["ep", "event_id"], "x", alpha=0.25)
    return (
        s.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.max_by("ewma", F.struct("ep", "event_id")).alias("closing_ewma"),
            F.min("ewma").alias("min_ewma"),
            F.max("ewma").alias("max_ewma"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------- Q143


def q143_chi_squared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHI-SQUARED independence test over the segment × priority
    contingency table (E13 — the categorical half of the drift
    toolkit beside q140's continuous KS: "did the distribution of
    priorities shift across customer segments?").

    Exactness: observed counts, row/column totals and N are exact
    integers; each cell's contribution uses the integer-cleared form
    ``(O·N − rt·ct)² / (N·rt·ct)`` — numerator exact in
    DECIMAL(38,0), ONE double division per cell, ROUND(.,6). The
    headline χ² is the DECIMAL SUM of the rounded per-cell
    fragments — exact and order-free (the repo's declared
    decimal-fragment convention), so no float accumulation order can
    flake the hash. Expected counts are reported per cell (one
    division, ROUND(.,4)).

    Plan: ONE fact scan → (seg, prio) hash agg (25 cells — a
    category-domain constant); margins derive from the cell table
    (25-row aggregates, broadcast back); every window/aggregate
    after the first runs at category grain. Scale-invariant: the
    only data-sized work is the first agg's map-side partials.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority"
    )
    cells = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    # 25-row contingency table feeding FOUR consumers (rt/ct/n and
    # the cell join) — without lineage truncation each one re-runs
    # the fact-sized orders x customer join (8 scans in the round-9
    # plan audit); materialized, the join runs once.
    from ..ops.materialize import materialize

    cells = materialize(cells)
    rt = cells.groupBy("c_mktsegment").agg(F.sum("observed").alias("rt"))
    ct = cells.groupBy("o_orderpriority").agg(F.sum("observed").alias("ct"))
    n = cells.agg(F.sum("observed").alias("n"))
    d38 = "decimal(38,0)"
    j = (
        cells.join(F.broadcast(rt), "c_mktsegment")
        .join(F.broadcast(ct), "o_orderpriority")
        .crossJoin(F.broadcast(n))
    )
    num = (
        F.col("observed").cast(d38) * F.col("n").cast(d38)
        - F.col("rt").cast(d38) * F.col("ct").cast(d38)
    )
    den = (
        F.col("n").cast(d38) * F.col("rt").cast(d38) * F.col("ct").cast(d38)
    )
    contrib = F.round(
        (num * num).cast("double") / den.cast("double"), 6
    )
    expected = F.round(
        (F.col("rt").cast(d38) * F.col("ct").cast(d38)).cast("double")
        / F.col("n").cast("double"),
        4,
    )
    per_cell = j.select(
        "c_mktsegment",
        "o_orderpriority",
        "observed",
        expected.alias("expected"),
        contrib.cast("decimal(18,6)").alias("_frag"),
    )
    w = Window.partitionBy()
    return (
        per_cell.select(
            "c_mktsegment",
            "o_orderpriority",
            "observed",
            "expected",
            F.col("_frag").cast("double").alias("contrib"),
            F.sum("_frag").over(w).cast("double").alias("chi2"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


# ---------------------------------------------------------------- Q144


def q144_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise TOTAL-VARIATION DISTANCE between source unigram
    distributions (E19 — the mixture-drift matrix a training-data
    pipeline reads before re-weighting its sources; q140/q143 test
    one numeric/categorical column, this compares whole corpus
    slices). TVD is the log-free f-divergence, chosen over KL/JSD
    deliberately: per-token ``ln`` is libm-dependent across engines
    (the q138 idf precedent), while TVD is EXACT rational
    arithmetic end to end.

    Exactness: with integer token counts f and totals N,
    ``|p_a − p_b| = |f_a·N_b − f_b·N_a| / (N_a·N_b)`` — and tokens
    private to one side contribute their whole mass, so
    ``TVD = (S + (N_a−I_a)·N_b + (N_b−I_b)·N_a) / (2·N_a·N_b)``
    with S the DECIMAL(38,0) sum of shared-token numerators and
    I the shared-token count mass: ONE division per pair, ROUND 6.
    Vocabulary Jaccard rides along from the same exact integers.

    Plan: one documents scan → token explode → (source, tok) hash
    agg (the only data-grain shuffle; map-side partials carry the
    corpus). Everything after runs at VOCAB grain: the 20-row
    totals broadcast onto the freq table, the pair join is a
    tok-equi self-join whose output is Σ shared-vocab rows, and the
    final agg has one row per source pair. At 100 TB vocab grows
    ~log(data) (dictionary-sized — the declared q100 class), so the
    pair join never touches data grain.
    """
    raw = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    e = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(raw).alias("tok")
    )
    freq = e.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("f"))
    tot = freq.groupBy("source").agg(
        F.sum("f").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    ft = freq.join(F.broadcast(tot), "source")
    d38 = "decimal(38,0)"
    fa = ft.select(
        F.col("source").alias("sa"),
        "tok",
        F.col("f").alias("f_a"),
        F.col("n").alias("na"),
        F.col("v").alias("va"),
    )
    fb = ft.select(
        F.col("source").alias("sb"),
        "tok",
        F.col("f").alias("f_b"),
        F.col("n").alias("nb"),
        F.col("v").alias("vb"),
    )
    j = fa.join(fb, "tok").filter(F.col("sa") < F.col("sb"))
    g = j.groupBy("sa", "sb", "na", "nb", "va", "vb").agg(
        F.count(F.lit(1)).cast("long").alias("shared_vocab"),
        F.sum(
            F.abs(
                F.col("f_a").cast(d38) * F.col("nb").cast(d38)
                - F.col("f_b").cast(d38) * F.col("na").cast(d38)
            )
        ).alias("_s"),
        F.sum("f_a").cast("long").alias("_ia"),
        F.sum("f_b").cast("long").alias("_ib"),
    )
    tvd_num = (
        F.col("_s")
        + (F.col("na") - F.col("_ia")).cast(d38) * F.col("nb").cast(d38)
        + (F.col("nb") - F.col("_ib")).cast(d38) * F.col("na").cast(d38)
    )
    tvd_den = F.lit(2).cast(d38) * F.col("na").cast(d38) * F.col("nb").cast(d38)
    jac = F.col("shared_vocab").cast("double") / (
        F.col("va") + F.col("vb") - F.col("shared_vocab")
    ).cast("double")
    return (
        g.select(
            F.col("sa").alias("source_a"),
            F.col("sb").alias("source_b"),
            "shared_vocab",
            F.col("va").alias("vocab_a"),
            F.col("vb").alias("vocab_b"),
            F.round(jac, 6).alias("jaccard"),
            F.round(
                tvd_num.cast("double") / tvd_den.cast("double"), 6
            ).alias("tvd"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------- Q145


def q145_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample MANN-WHITNEY U rank-sum test (E13 — the
    nonparametric drift test between q131's Welch z on means and
    q140's KS on whole CDFs: "does one segment's price distribution
    stochastically dominate the other's?"), FURNITURE vs MACHINERY
    order prices, with the tie-corrected normal approximation.

    Exactness: prices become integer cents (the q140 convention);
    for a tied block of t values after ``prefix`` smaller ones, the
    shared mid-rank is (2·prefix + t + 1)/2 — kept DOUBLED so rank
    sums stay BIGINT: ``ra2 = Σ d_a·(2·prefix + t + 1)`` and
    ``2·U_a = ra2 − n_a·(n_a+1)`` are exact integers, as is the tie
    term ``T = Σ(t³ − t)``. The z statistic then costs exactly one
    subtraction, three divisions and one IEEE-correctly-rounded
    sqrt, written in the same order in both engines — so z is
    emitted as the RAW IEEE quotient with no rounding (§2.6 rule 8,
    the q152/q153/q192 convention: identical exact operands through
    a fixed IEEE op order give a bit-identical double, and a
    ROUND(double, 6) step only ADDS a representation degree of
    freedom; the r16 driver hash fail on this query was the sole
    red row whose output still carried one).

    Plan (the q140/ops-quantile prefix discipline): one (cents)
    hash agg off the fact scan; the cumulative count before each
    value = bucket-prefix + within-bucket running sum, so the only
    global window runs at BUCKET grain (a domain constant) and the
    per-value window is partitioned by bucket — nothing data-grain
    crosses one partition at 100 TB.
    """
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    v = (
        o.join(
            c.filter(F.col("c_mktsegment").isin("FURNITURE", "MACHINERY")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("v"),
            (F.col("c_mktsegment") == "FURNITURE").cast("long").alias("isa"),
        )
    )
    g = (
        v.groupBy("v")
        .agg(
            F.sum("isa").alias("d1"),
            F.sum(1 - F.col("isa")).alias("d2"),
        )
        .withColumn("t", F.col("d1") + F.col("d2"))
        .withColumn("_bkt", F.floor(F.col("v") / F.lit(65536)))
    )
    b = g.groupBy("_bkt").agg(F.sum("t").alias("st"))
    wb = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, 0)
    bc = b.select(
        "_bkt", (F.sum("st").over(wb) - F.col("st")).alias("pt")
    )
    wv = (
        Window.partitionBy("_bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranks = g.join(bc, "_bkt").select(
        "d1",
        "d2",
        "t",
        (F.col("pt") + F.sum("t").over(wv) - F.col("t")).alias("prefix"),
    )
    m = ranks.agg(
        F.sum("d1").cast("long").alias("n1"),
        F.sum("d2").cast("long").alias("n2"),
        # Products are widened to decimal BEFORE multiplying (round-14
        # proactive overflow audit, the q158/q89 class): worst-case a
        # single tie block spans the whole column, so t^3 wraps a LONG
        # past t ≈ 2.09e6 and d1·2·prefix wraps past N ≈ 2.1e9 rows —
        # reachable at 100 TB with degenerate (constant-price) data.
        # The sums STAY decimal(38,0) all the way into the output —
        # a final cast("long") would reimpose the identical int64
        # bound at the output boundary (round-14 review find: ANSI
        # Spark throws CAST_OVERFLOW and DuckDB ConversionException
        # at exactly the degenerate data the widening targets). The
        # oracle pins the same DECIMAL(38,0) output type.
        F.sum(
            F.col("d1").cast("decimal(19,0)")
            * (2 * F.col("prefix") + F.col("t") + 1)
        ).cast("decimal(38,0)").alias("_ra2"),
        F.sum(
            F.col("t").cast("decimal(19,0)") * F.col("t") * F.col("t")
            - F.col("t")
        ).cast("decimal(38,0)").alias("tie_term"),
    )
    u1_2 = F.col("_ra2") - F.col("n1").cast("decimal(19,0)") * (
        F.col("n1") + 1
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    nd = (F.col("n1") + F.col("n2")).cast("double")
    num = (u1_2.cast("double") - n1d * n2d) / F.lit(2.0)
    sigma = F.sqrt(
        (n1d * n2d / F.lit(12.0))
        * (
            (nd + F.lit(1.0))
            - F.col("tie_term").cast("double") / (nd * (nd - F.lit(1.0)))
        )
    )
    z = num / sigma
    out = m.select(
        "n1",
        "n2",
        (u1_2.cast("double") / F.lit(2.0)).alias("u1"),
        "tie_term",
        z.alias("z"),
        (F.abs(z) > F.lit(1.959963984540054)).cast("int").alias("reject_05"),
    )
    _q145_divergence_dump(sf_dir, out)
    return out


def _q145_divergence_dump(sf_dir: str, df: DataFrame) -> None:
    """Round-18 driver-red localization (round-17 verdict item 1).

    q145 has failed the driver's value hash in rounds 16 and 17 while
    being bit-identical locally in every configuration (four-cell
    matrix, Arrow dumps incl. IEEE hex — DUMPS_r17/q145.json). The
    remaining degrees of freedom are all at the DRIVER's hash
    boundary (its DuckDB version, its normalization), which no local
    re-fix can see. This hook makes a driver-red run carry its own
    byte-level diff: at the CORRECTNESS scale factors only (sf0.001 /
    sf0.01 — never the bench's sf0.1, so no timed run pays for it),
    it prints one stderr JSON line per engine with the bit-exact
    bytes of every output cell (IEEE-754 hex for doubles, digit
    strings for decimals/ints) plus the DuckDB version executing the
    oracle. Failures are swallowed: the hook may never turn a red
    hash into a hard error, and ``CALASPARK_Q145_DEBUG=0`` disables
    it outright.
    """
    import json as _json
    import os as _os
    import struct as _struct
    import sys as _sys

    if _os.environ.get("CALASPARK_Q145_DEBUG", "1") != "1":
        return
    if _os.path.basename(str(sf_dir).rstrip("/")) not in ("sf0.001", "sf0.01"):
        return

    def _cell(v):
        if isinstance(v, float):
            return [repr(v), _struct.pack(">d", v).hex()]
        return str(v)

    try:
        rows = df.collect()
        line = {
            "engine": "spark",
            "cols": list(df.columns),
            "types": [t for _, t in df.dtypes],
            "rows": [[_cell(v) for v in r] for r in rows],
        }
        print(
            "CALASPARK-Q145-BYTES " + _json.dumps(line),
            file=_sys.stderr,
            flush=True,
        )
    except Exception as e:  # pragma: no cover - diagnostics only
        print(
            f"CALASPARK-Q145-BYTES spark-failed {type(e).__name__}: "
            f"{str(e)[:200]}",
            file=_sys.stderr,
        )
    try:
        import duckdb

        from ..oracles import ORACLES

        con = duckdb.connect()
        for t in ("customer", "orders"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )
        cur = con.execute(ORACLES["q145"])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        line = {
            "engine": "duckdb",
            "version": duckdb.__version__,
            "cols": cols,
            "rows": [[_cell(v) for v in r] for r in rows],
        }
        print(
            "CALASPARK-Q145-BYTES " + _json.dumps(line),
            file=_sys.stderr,
            flush=True,
        )
    except Exception as e:  # pragma: no cover - diagnostics only
        print(
            f"CALASPARK-Q145-BYTES duckdb-failed {type(e).__name__}: "
            f"{str(e)[:200]}",
            file=_sys.stderr,
        )


# ---------------------------------------------------------------- Q146


def q146_containment_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-CONTAINMENT decontamination audit (E17/E19 — the
    GPT-3/C4 eval-set leak check: for every held-out document, what
    fraction of its word trigrams appears ANYWHERE in the training
    side?). Jaccard (q33/q95) is symmetric and misses a short eval
    doc swallowed by a long train doc; containment
    |S_eval ∩ S_train| / |S_eval| is the decontamination metric.

    Split is deterministic: ``doc_id % 10 = 0`` holds out ~10 % as
    the eval slice (the q131 no-rand() rule). Exactness: both
    counts are exact integers over DISTINCT trigram sets; one
    division, ROUND 6; the ≥ 0.5 flag is an integer compare.

    Plan: train side collapses to a DISTINCT shingle set (hash agg
    — the inverted-index build); eval docs explode to distinct
    (doc, shingle) pairs and LEFT-join the train set on the shingle
    key (no fanout — the right side is a set), then re-aggregate to
    doc grain. Two data-grain shuffles total, both on the shingle
    key. At 100 TB you join on 64-bit shingle hashes instead of
    strings (ops/text.with_shingle_hashes — set-equivalent, ~4×
    narrower shuffle); the contract query keeps raw strings so the
    oracle is bit-exact.

    The doc_id repartition BEFORE the shingle expression is
    deliberate: shingling is an interpreted higher-order expression
    (transform/slice — no codegen), so its cost is CPU-per-row, and
    a small-file scan otherwise pins all of it to the scan's few
    input partitions (a single partition at bench SF — measured 13 s
    serial vs ~2 s spread). Both branches filter ABOVE the exchange,
    so the plan reuses it (one scan, one shuffle) instead of
    duplicating the scan subtree. At cluster scale the scan already
    has enough partitions and the exchange is a cheap narrow-row
    pass-through that still buys the subtree reuse.
    """
    from ..ops.text import shingles

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        # explicit count: AQE would coalesce a bare repartition("doc_id")
        # right back to one partition on byte size, re-serializing the
        # CPU-bound shingle stage
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.array_distinct(shingles("text", 3)).alias("gs"))
        .filter(F.size("gs") > 0)
    )
    train = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.explode("gs").alias("g"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    ev = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.explode("gs").alias("g")
    )
    m = (
        ev.join(train, "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias("n_contained"),
        )
    )
    cont = F.col("n_contained").cast("double") / F.col("n_shingles").cast(
        "double"
    )
    return (
        m.select(
            "doc_id",
            "n_shingles",
            "n_contained",
            F.round(cont, 6).alias("containment"),
            (cont >= F.lit(0.5)).cast("int").alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- Q147


def q147_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS HOP DISTANCE, 4 hops (E1/graph — the
    bounded-traversal primitive beside q96's full closure and q80's
    fixpoint: "which records are within k links of a seed set?",
    the blast-radius / influence-frontier query). Graph: q80's
    deterministic doc graph (ternary-tree parent + mixing edge);
    seeds: ``doc_id % 97 = 0``.

    Exactness: distances are exact integers — the first hop at
    which BFS reaches a node; no floats anywhere.

    Plan: textbook frontier BFS — per hop, ONE equi-join of the
    current frontier against the edge table, a distinct, and an
    anti-join against the visited set; the frontier only ever
    carries (id, dist) pairs, never payload. 4 hops = 4 bounded
    shuffle rounds. At 100 TB each round's visited/frontier tables
    are checkpointed to break lineage (the q80/dedup_clusters_lsh
    note); out-degree here is ≤ 2 so the frontier is ≤ 2× the seed
    set per hop — no supernode blowup (a skewed graph would salt
    the join on dst, ops/skew.py).

    Oracle: DuckDB recursive CTE enumerating all ≤4-hop paths with
    MIN(hop) per node — exponential in path count and fine at
    contract scale, which is exactly why the engine side is the
    frontier formulation and the CTE is only the oracle.
    """
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id")
    )
    n_df = docs.agg(F.count(F.lit(1)).alias("_n"))
    tree = docs.filter(F.col("id") > 0).select(
        F.col("id").alias("src"), F.expr("id div 3").alias("dst")
    )
    mix = docs.crossJoin(F.broadcast(n_df)).select(
        F.col("id").alias("src"),
        F.pmod(F.col("id") * 7 + 1, F.col("_n")).alias("dst"),
    )
    # edges feed every hop and dist feeds hop h+1's anti-join —
    # iterative lineage without truncation re-derived both per round
    # (the q80 lesson; ops/materialize is built for exactly this)
    from ..ops.materialize import materialize

    edges = materialize(tree.unionByName(mix).distinct())

    dist = docs.filter(F.col("id") % 97 == 0).select(
        "id", F.lit(0).cast("int").alias("dist")
    )
    frontier = dist
    for h in range(1, 5):
        # frontier descends from edges.dst after hop 1 — explicit
        # aliases keep the self-referential equi-join unambiguous
        nxt = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.id") == F.col("e.src"))
            .select(F.col("e.dst").alias("id"))
            .distinct()
        )
        new = nxt.join(dist.select("id"), "id", "left_anti").select(
            "id", F.lit(h).cast("int").alias("dist")
        )
        # Only the per-hop FRONTIER needs a checkpoint (two consumers
        # next round: the hop join and the anti-join), and the final
        # hop's frontier has no next round at all — one lazy
        # consumer, so it stays un-materialized. The visited set is
        # a UNION of already-checkpointed hop frames — depth-1
        # lineage by construction, so materializing the union per
        # hop (the previous form) only added a checkpoint job per
        # hop without cutting anything (round-17: 9 checkpoint jobs
        # → 4 for the same traversal).
        if h < 4:
            new = materialize(new)
        dist = dist.unionByName(new)
        frontier = new
    return dist.orderBy("id")


# ---------------------------------------------------------------- Q148


def q148_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BENFORD first-digit conformance test per order priority
    (V2/E13 — the fraud/synthetic-data screen auditors run on
    money columns; q143 tests two observed margins against each
    other, this tests one observed distribution against a THEORY).
    χ² against Benford's law over the 5 × 9 (priority, digit)
    table.

    Exactness: the first significant digit comes from integer
    cents — ``substring(CAST(round(price·100) AS BIGINT), 1, 1)``
    — integer-string conversion is exact in both engines (no
    float formatting); observed counts and group totals are exact.
    The nine Benford probabilities are 17-digit DOUBLE LITERALS
    (log10(1+1/d) precomputed — both engines parse decimal
    literals to the same IEEE double, sidestepping cross-libm
    log10; the q138 pre-log discipline). Each cell's χ² fragment
    is (O−E)²/E in fixed written order, ROUND 6, summed as exact
    decimal fragments per group (the q143 convention). Zero-count
    cells are materialized via a priority × digit scaffold so the
    full expected mass is tested.

    Plan: one orders scan → (priority, digit) hash agg (45 cells,
    map-side partials carry the fact table); the scaffold, totals
    and χ² all run at category grain. Scale-invariant beyond the
    first agg.
    """
    BENFORD = [
        0.3010299956639812,
        0.17609125905568124,
        0.12493873660829992,
        0.09691001300805642,
        0.07918124604762482,
        0.06694678963061322,
        0.05799194697768673,
        0.05115252244738129,
        0.04575749056067514,
    ]
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit"),
    )
    obs = o.groupBy("o_orderpriority", "digit").agg(
        F.count(F.lit(1)).cast("long").alias("observed")
    )
    prios = o.select("o_orderpriority").distinct()
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    scaffold = prios.crossJoin(F.broadcast(digits))
    cells = scaffold.join(obs, ["o_orderpriority", "digit"], "left").select(
        "o_orderpriority",
        "digit",
        F.coalesce(F.col("observed"), F.lit(0)).cast("long").alias("observed"),
    )
    tot = cells.groupBy("o_orderpriority").agg(
        F.sum("observed").cast("long").alias("nt")
    )
    p = F.element_at(F.array(*[F.lit(x) for x in BENFORD]), F.col("digit"))
    expected = F.col("nt").cast("double") * p
    dev = F.col("observed").cast("double") - expected
    frag = F.round(dev * dev / expected, 6).cast("decimal(18,6)")
    per_cell = cells.join(F.broadcast(tot), "o_orderpriority").select(
        "o_orderpriority",
        "digit",
        "observed",
        F.round(expected, 4).alias("expected"),
        frag.alias("_frag"),
    )
    wg = Window.partitionBy("o_orderpriority")
    return (
        per_cell.select(
            "o_orderpriority",
            "digit",
            "observed",
            "expected",
            F.col("_frag").cast("double").alias("contrib"),
            F.sum("_frag").over(wg).cast("double").alias("chi2"),
        )
        .orderBy("o_orderpriority", "digit")
    )


# ---------------------------------------------------------------- Q149


def q149_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD survivorship (E16/R10 — the MDM "merge the
    change stream into one best row per entity" op; the reference's
    latest-amendment-wins semantics generalized from whole-row to
    PER-FIELD: each attribute survives from the latest row that
    QUALIFIES for it, not from one winning row).

    Survivorship rules, all resolved in ONE hash aggregation via the
    max-of-struct trick — ``max(struct(ep, event_id, payload))``
    picks the payload of the latest qualifying row because struct
    comparison is lexicographic in both engines, and ``(ep,
    event_id)`` is a total order (event_id breaks timestamp ties);
    conditional rules wrap the struct in CASE, and max/min skip the
    NULL structs of non-qualifying rows:

    - ``first/last_event_type`` — min/max over all rows;
    - ``last_purchase_value`` — latest row WHERE type='purchase'
      (NULL when the user never purchased);
    - ``last_big_k`` — latest row WHERE props.k ≥ 50.

    Plan: one events scan → one groupBy(user_id) with map-side
    partial max/min (structs combine associatively), ONE shuffle at
    user grain. No window, no self-join, no second pass — at 100 TB
    this is the cheapest possible shape for per-field survivorship
    (the row_number-then-join-per-rule alternative costs one shuffle
    PER RULE). Value survives as exact decimal, cast to double only
    on output (§2.6 rule 1); timestamps as floored epoch bigints
    (rule 2)."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        _ep("ts").alias("ep"),
        F.col("event_id").cast("long").alias("event_id"),
        "event_type",
        dec("value").alias("v"),
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )
    order_key = lambda payload: F.struct(  # noqa: E731 — local shape helper
        F.col("ep"), F.col("event_id"), payload
    )
    g = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("ep").alias("first_seen"),
        F.max("ep").alias("last_seen"),
        F.min(order_key(F.col("event_type"))).alias("_f"),
        F.max(order_key(F.col("event_type"))).alias("_l"),
        F.max(
            F.when(F.col("event_type") == "purchase", order_key(F.col("v")))
        ).alias("_lp"),
        F.max(F.when(F.col("k") >= 50, order_key(F.col("k")))).alias("_lk"),
    )
    return g.select(
        "user_id",
        "n_events",
        "first_seen",
        "last_seen",
        F.col("_f.event_type").alias("first_event_type"),
        F.col("_l.event_type").alias("last_event_type"),
        F.col("_lp.v").cast("double").alias("last_purchase_value"),
        F.col("_lk.k").alias("last_big_k"),
    ).orderBy("user_id")


# ---------------------------------------------------------------- Q150


def q150_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUANTILE NORMALIZATION across sources (E13/E19 — the
    distribution-matching transform: replace each document's length
    with the POOLED corpus length at the same within-source quantile,
    so every source's length distribution becomes comparable; the
    microarray-normalization classic applied to corpus curation,
    where per-source score scales drift and rank is the only
    trustworthy signal).

    Exactness: ranks are integers with a total order (``(n_chars,
    doc_id)`` tie-break); the rank map is pure integer arithmetic —
    target pooled rank = ``ceil(r·N/m)`` computed as ``(r*N + m - 1)
    DIV m`` in BIGINT (both engines floor-divide non-negative
    integers identically); the normalized value is a lookup, never a
    float interpolation.

    Plan (the two-level rank pattern of ops/quantile.py, q98/q121):
    a GLOBAL row_number would be a single-partition sort, so pooled
    rank = (prefix count of strictly-smaller n_chars values, from a
    VALUE-GRAIN aggregate whose window is the declared tiny-grain
    single-partition exception) + (row_number within each n_chars
    partition — fine-grained, scale-safe). The per-source rank uses
    the same decomposition partitioned by source. The final
    rank→value lookup joins on the unique pooled rank — a balanced
    equi-join with no skew by construction (ranks are distinct).
    Three shuffles total at 100 TB: value-grain agg, per-value
    row_number, rank join."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )
    # ONE (source, value)-grain aggregate feeds everything tiny:
    # pooled value counts, per-source prefixes, m and N all derive
    # from it (round-9 scan discipline — the first formulation also
    # aggregated d separately per consumer and scanned 6×).
    src_cnt = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    from .. ops.materialize import materialize

    src_cnt = materialize(src_cnt)  # (source × value)-grain: tiny
    pooled_cnt = src_cnt.groupBy("n_chars").agg(F.sum("c").alias("c"))
    w_pool = Window.orderBy("n_chars")  # value-grain (tiny): declared exception
    pooled_pref = pooled_cnt.select(
        "n_chars", (F.sum("c").over(w_pool) - F.col("c")).alias("p_below")
    )
    w_src = Window.partitionBy("source").orderBy("n_chars")
    src_pref = src_cnt.select(
        "source",
        "n_chars",
        (F.sum("c").over(w_src) - F.col("c")).alias("s_below"),
    )
    m_tab = src_cnt.groupBy("source").agg(F.sum("c").cast("long").alias("m"))
    n_tab = pooled_cnt.agg(F.sum("c").cast("long").alias("n_total"))
    # ONE doc-grain pass computes BOTH ranks (two windows over the
    # same rows); the rank->value lookup self-joins its projection
    w_in_val = Window.partitionBy("n_chars").orderBy("doc_id")
    w_in_src = Window.partitionBy("source", "n_chars").orderBy("doc_id")
    ranked = (
        d.join(F.broadcast(pooled_pref), "n_chars")
        .join(F.broadcast(src_pref), ["source", "n_chars"])
        .select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("p_below") + F.row_number().over(w_in_val))
            .cast("long")
            .alias("pooled_rank"),
            (F.col("s_below") + F.row_number().over(w_in_src))
            .cast("long")
            .alias("src_rank"),
        )
    )
    t = (
        ranked.join(F.broadcast(m_tab), "source")
        .crossJoin(F.broadcast(n_tab))
        .withColumn(
            "target_rank", F.expr("(src_rank * n_total + m - 1) DIV m")
        )
    )
    lookup = ranked.select(
        F.col("pooled_rank").alias("target_rank"),
        F.col("n_chars").alias("norm_chars"),
    )
    return (
        t.join(lookup, "target_rank")
        .select("doc_id", "source", "n_chars", "src_rank", "norm_chars")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- Q151


def q151_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POSITIONAL PHRASE SEARCH via an inverted positional index
    (E19/E1 — the search-engine primitive: find documents containing
    the exact consecutive phrase "table hash", with OVERLAPPING
    occurrences counted, which no non-overlapping regex scan gets
    right). q119 mines which bigrams are interesting; this query
    ANSWERS for one — the index shape is the point.

    Plan: tokenize once, posexplode into postings (doc_id, pos, tok),
    filter each phrase term to its own posting list — the selective
    step: at 100 TB the posting list for one term is a tiny fraction
    of the corpus, and Catalyst prunes the filter before the join —
    then a positional equi-join ``p1.pos = p0.pos + 1`` on (doc_id,
    pos) recovers adjacency. Counts per doc finish at match grain.
    Every value is an exact integer (positions 0-based); the join is
    an equi-join on composite keys (no theta/BNLJ), and both posting
    lists derive from one exploded child so the scan is shared."""
    w0, w1 = "table", "hash"
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != F.lit(""))
    post = d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    p0 = post.filter(F.col("tok") == w0).select(
        "doc_id", F.col("pos").cast("long").alias("pos")
    )
    p1 = post.filter(F.col("tok") == w1).select(
        F.col("doc_id").alias("d1"), (F.col("pos") - 1).cast("long").alias("pos1")
    )
    m = p0.join(p1, (p0.doc_id == p1.d1) & (p0.pos == p1.pos1))
    return (
        m.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.min("pos").alias("first_pos"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------- Q152


def q152_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COHEN'S KAPPA inter-rater agreement per source (V2/E19 — the
    label-quality statistic every annotation pipeline reports:
    chance-corrected agreement between the declared ``lang`` column
    and the q93 stopword-ratio language-ID heuristic; q93 publishes
    the confusion grid, this reduces it to the decision number).

    Exactness: the confusion cells, marginals, and the chance-
    agreement numerator pe_num = Σ_label row_marginal·col_marginal
    are exact BIGINTs; po = agree/n and pe = pe_num/(n·n) are single
    divisions of those integers, and κ = (po − pe)/(1 − pe) is the
    same IEEE expression written in the same operand order in both
    engines — bit-identical without rounding (q131's convention).
    The degenerate pe = 1 case (both raters constant and identical)
    yields NULL via a mirrored CASE guard.

    Plan: one documents scan → (source, lang, pred) hash agg → one
    source-grain collect_list, then every marginal folds out of the
    ≤25-element cell array with higher-order aggregates (pe_num is
    the nested pair fold Σ_{e1,e2: e1.lang = e2.pred} c1·c2 — exactly
    Σ_label rm·cm, ≤625 integer products per source). The first
    formulation hung five aggregation branches off `cells`; column
    pruning made each branch's scan subtree canonically different,
    so NOTHING was reused — six corpus scans in the physical plan.
    One pass, two keyed shuffles, scan-bound at any scale."""
    from ..ops.text import langid_scores

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "lang", "text")
    cells = (
        langid_scores(d)
        .groupBy("source", "lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_src = cells.groupBy("source").agg(
        F.collect_list(F.struct("lang", "pred_lang", "c")).alias("cs")
    )
    zero = F.lit(0).cast("long")
    n_ = F.aggregate("cs", zero, lambda acc, e: acc + e["c"])
    agree_ = F.aggregate(
        "cs",
        zero,
        lambda acc, e: acc
        + F.when(e["lang"] == e["pred_lang"], e["c"]).otherwise(zero),
    )
    pe_num_ = F.aggregate(
        "cs",
        zero,
        lambda acc, e1: acc
        + e1["c"]
        * F.aggregate(
            "cs",
            zero,
            lambda a2, e2: a2
            + F.when(e2["pred_lang"] == e1["lang"], e2["c"]).otherwise(zero),
        ),
    )
    j = per_src.select(
        "source",
        n_.alias("n"),
        agree_.alias("agree_n"),
        pe_num_.alias("pe_num"),
    )
    po = F.col("agree_n").cast("double") / F.col("n").cast("double")
    pe = F.col("pe_num").cast("double") / (
        F.col("n").cast("double") * F.col("n").cast("double")
    )
    kappa = F.when(pe >= 1.0, F.lit(None).cast("double")).otherwise(
        (po - pe) / (F.lit(1.0) - pe)
    )
    return j.select(
        "source",
        "n",
        "agree_n",
        po.alias("po"),
        pe.alias("pe"),
        kappa.alias("kappa"),
    ).orderBy("source")


# ---------------------------------------------------------------- Q153


def q153_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WILSON 95 % score intervals per event type (V2/E13 — the
    uncertainty-aware proportion readout: "what fraction of events
    are high-value, and how sure are we per segment?" The Wilson
    interval is the standard fix for the Wald interval's collapse at
    small n / extreme p — the same statistic ranking engines use for
    lower-bound sorting).

    Exactness: n and successes are exact BIGINTs; z = 1.96 enters as
    a shared literal — CAST to DOUBLE in the oracle, because DuckDB
    parses a bare 1.96 as DECIMAL(3,2) and would square it EXACTLY
    where Spark squares the nearest double — and z² as the in-engine
    product z·z (never a second literal); p̂, the
    center, and the half-width are one fixed IEEE expression —
    division, multiplication and a SQRT (correctly rounded per
    IEEE-754 in both engines) written in identical operand order, so
    the bounds are bit-identical with no rounding step (the q131/
    q152 discipline).

    Plan: one events scan → one 5-row hash agg with map-side
    partials; the interval math is constant work per group. Scan-
    bound at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("value") > 100.0).cast("int").alias("hit")
    )
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("hit").cast("long").alias("successes"),
    )
    z = F.lit(1.96)
    nn = F.col("n").cast("double")
    ph = F.col("successes").cast("double") / nn
    z2n = (z * z) / nn
    denom = F.lit(1.0) + z2n
    center = (ph + z2n / F.lit(2.0)) / denom
    rad = F.sqrt(ph * (F.lit(1.0) - ph) / nn + z2n / (F.lit(4.0) * nn))
    half = z * rad / denom
    return g.select(
        "event_type",
        "n",
        "successes",
        ph.alias("p_hat"),
        (center - half).alias("wilson_lo"),
        (center + half).alias("wilson_hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------- Q154


def q154_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HERFINDAHL–HIRSCHMAN market concentration per region (E2/R9
    — the antitrust/portfolio statistic: how concentrated is order
    revenue across the nations of each region? HHI = Σ share² and
    its reciprocal, the effective number of competitors).

    Exactness: revenue sums in exact DECIMAL (§2.6 rule 1); each
    share is one double division of those decimals; each share² is
    ROUND(·,12) into DECIMAL(18,12) and the per-region HHI is the
    EXACT decimal sum of those fragments (q148's fragment-sum
    convention — float addition order never matters), cast to double
    only on output; effective_n = 1/hhi is a single division.

    Plan: the one real shuffle is orders ⨝ customer on custkey (both
    fact-sized); nation and region are BROADCAST dims; the (region,
    nation) aggregate carries map-side partials, and the share /
    HHI window runs at the 25-row category grain. At 100 TB this is
    scan + one co-partitioned join + one tiny window."""
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    r = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(dec("o_totalprice")).alias("_rev"))
    )
    wr = Window.partitionBy("r_name")
    tot = F.sum("_rev").over(wr)
    share = F.col("_rev").cast("double") / tot.cast("double")
    with_share = rev.select(
        "r_name",
        "n_name",
        F.round(F.col("_rev"), 2).cast("double").alias("revenue"),
        share.alias("share"),
        F.round(share * share, 12).cast("decimal(18,12)").alias("_frag"),
    )
    return (
        with_share.select(
            "r_name",
            "n_name",
            "revenue",
            "share",
            F.sum("_frag").over(wr).cast("double").alias("hhi"),
            (F.lit(1.0) / F.sum("_frag").over(wr).cast("double")).alias(
                "effective_n"
            ),
        )
        .orderBy("r_name", "n_name")
    )


# ---------------------------------------------------------------- Q155


def q155_gini_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEST-SPLIT scoring by GINI IMPURITY (E13 — the decision-tree
    / feature-quality primitive: for candidate thresholds on
    ``value``, how cleanly does "value ≤ t" separate purchases from
    non-purchases? Gini is the log-free impurity — entropy would
    drag cross-libm ``ln`` into the hash gate, Gini is pure
    arithmetic, the same reason q144 picked TVD over KL).

    Thresholds are the FIXED constants 25, 50, …, 475 (q136's
    fixed-bin discipline — never data-derived). Exactness: the scan
    folds into per-bucket (floor(value/25)) exact label counts; a
    category-grain prefix sum turns those into (n_left, pos_left)
    per threshold with NO fact-table fanout (the naive
    threshold × event explode is a 19× shuffle at 100 TB; the
    bucket-prefix form is one tiny window over ≤20 rows). The
    weighted impurity 2·(nL·posL·negL/nL² … ) is assembled from
    exact BIGINTs in one fixed IEEE expression, ROUND 6 into
    DECIMAL so ranking ties are exact; rank 1 = best split.

    Plan: one events scan → ≤20-cell hash agg (map-side partials)
    → prefix window + impurity math at category grain. Scan-bound
    at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        F.least(F.lit(19), F.floor(F.col("value") / F.lit(25)))
        .cast("long")
        .alias("bucket"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    b = e.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("pos").cast("long").alias("p"),
    )
    w = Window.orderBy("bucket")  # ≤20 rows: declared category grain
    pre = b.select(
        "bucket",
        F.sum("c").over(w).cast("long").alias("n_left"),
        F.sum("p").over(w).cast("long").alias("pos_left"),
        F.sum("c").over(Window.partitionBy()).cast("long").alias("n_all"),
        F.sum("p").over(Window.partitionBy()).cast("long").alias("pos_all"),
    ).filter(F.col("bucket") < 19)  # threshold after the last bucket splits nothing
    thr = ((F.col("bucket") + 1) * 25).cast("long")
    nl = F.col("n_left").cast("double")
    nr = (F.col("n_all") - F.col("n_left")).cast("double")
    pl = F.col("pos_left").cast("double")
    pr = (F.col("pos_all") - F.col("pos_left")).cast("double")
    na = F.col("n_all").cast("double")
    # gini(side) = 2·p·(1−p); weighted: (nl/na)·gini_l + (nr/na)·gini_r,
    # guarded for empty sides (0-weight terms dropped exactly)
    gini_l = F.when(
        F.col("n_left") > 0,
        (nl / na) * (F.lit(2.0) * (pl / nl) * (F.lit(1.0) - pl / nl)),
    ).otherwise(F.lit(0.0))
    gini_r = F.when(
        F.col("n_all") - F.col("n_left") > 0,
        (nr / na) * (F.lit(2.0) * (pr / nr) * (F.lit(1.0) - pr / nr)),
    ).otherwise(F.lit(0.0))
    imp = F.round(gini_l + gini_r, 6).cast("decimal(18,6)")
    scored = pre.select(
        thr.alias("threshold"),
        F.col("n_left"),
        F.col("pos_left"),
        (F.col("n_all") - F.col("n_left")).alias("n_right"),
        (F.col("pos_all") - F.col("pos_left")).alias("pos_right"),
        imp.alias("_imp"),
    )
    wrank = Window.orderBy(F.col("_imp").asc(), F.col("threshold").asc())
    return scored.select(
        "threshold",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        F.col("_imp").cast("double").alias("weighted_gini"),
        F.row_number().over(wrank).cast("long").alias("rank"),
    ).orderBy("threshold")


# ---------------------------------------------------------------- Q156


def q156_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY + L-DIVERSITY privacy audit (V2 — the
    data-governance screen run before a dataset leaves the
    curation pipeline: which quasi-identifier combinations are so
    rare they re-identify people, and do small groups at least
    carry diverse sensitive values?). QI = (market segment,
    nation); sensitive attribute = the SIGN of the account balance
    (a debt flag — the classic binary-sensitive example).

    Exactness: group sizes and distinct-sensitive counts are exact
    integers; ``at_risk`` is the integer compare n < 5; the global
    risk share (fraction of ALL customers sitting in an at-risk
    group) is one division of exact BIGINTs, identical on every
    row (the q148 repeated-headline convention).

    Plan: one customer scan → (segment, nationkey) hash agg
    counting rows and distinct sensitive values (two-level agg:
    exact count_distinct at QI grain via a pre-distinct — map-side
    partials both levels); the nation-name join is BROADCAST; the
    risk-share window runs at the ≤125-cell category grain.
    Scan-bound at any scale."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        (F.col("c_acctbal") < 0).cast("int").alias("in_debt"),
    )
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.count_distinct(F.col("in_debt")).cast("long").alias("l_diversity"),
    )
    wall = Window.partitionBy()
    at_risk = (F.col("n") < 5).cast("int")
    out = (
        g.join(F.broadcast(n), g.c_nationkey == n.n_nationkey)
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
            "n",
            "l_diversity",
            at_risk.alias("at_risk"),
        )
    )
    return out.select(
        "segment",
        "nation",
        "n",
        "l_diversity",
        "at_risk",
        (
            F.sum(F.col("at_risk").cast("long") * F.col("n")).over(wall).cast("double")
            / F.sum("n").over(wall).cast("double")
        ).alias("risk_share"),
    ).orderBy("segment", "nation")


# ---------------------------------------------------------------- Q157


def q157_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FANO-FACTOR burstiness per user (E13 — the dispersion
    index var/mean of daily activity counts: ≈1 is Poisson-like
    traffic, ≫1 is bursty bot/batch behavior, the anomaly screen
    run on event streams). Computed over ACTIVE days only (days
    with ≥1 event — the zero-inflated variant is a different
    statistic, declared here).

    Exactness: the day index is floor(epoch/86400) (rule 2 — never
    a raw timestamp); daily counts, Σx and Σx² are exact BIGINTs;
    the sample variance (n·Σx² − (Σx)²)/(n·(n−1)), the mean and
    fano = var/mean are one fixed IEEE expression from those
    integers (q89's convention); n = 1 users get NULL var/fano via
    a mirrored CASE.

    Plan: one events scan → (user, day) hash agg → user-grain agg,
    both with map-side partials; no window, no join. Two keyed
    shuffles at any scale."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", F.floor(_ep("ts") / 86400).cast("long").alias("day")
    )
    dc = e.groupBy("user_id", "day").agg(F.count(F.lit(1)).cast("long").alias("x"))
    g = dc.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("n_events"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    n = F.col("n_days").cast("double")
    sx = F.col("n_events").cast("double")
    sxx = F.col("sxx").cast("double")
    mean = sx / n
    var = F.when(
        F.col("n_days") > 1,
        (n * sxx - sx * sx) / (n * (n - F.lit(1.0))),
    ).otherwise(F.lit(None).cast("double"))
    return g.select(
        "user_id",
        "n_days",
        "n_events",
        F.round(mean, 6).alias("mean_daily"),
        F.round(var, 6).alias("var_daily"),
        F.round(var / mean, 6).alias("fano"),
    ).orderBy("user_id")


# ---------------------------------------------------------------- Q158


def q158_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG-k AUTOCORRELATION (k = 1…7) of daily order revenue (E13/
    E3 — the seasonality probe: a weekly cycle shows as a lag-7
    peak; q89 correlates two SERIES, this correlates a series with
    its own calendar shifts). Pairs are calendar-joined — lag k
    pairs day d with d+k only when BOTH days traded (gap semantics
    declared; no gap-filling).

    Exactness: daily revenue is an exact DECIMAL(18,2) sum (q89's
    grain); pair power sums Σx, Σy, Σxy, Σx², Σy² stay exact
    decimal; Pearson r is q89's fixed IEEE expression over their
    double casts, ROUND 6. The 7-lag fanout happens at DATE grain
    via explode (≤7·|days| rows — never the fact table, and never
    a BNLJ), and the shift is a date-grain equi-join on
    date_add(day, lag).

    Plan: one orders scan → date-grain hash agg (map-side) → tiny
    explode + self-equi-join + 7-row agg. Scan-bound at any
    scale."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        dec("o_totalprice").alias("v"),
    )
    daily = o.groupBy("day").agg(
        F.sum("v").cast("decimal(18,2)").alias("s")
    )
    lagged = daily.select(
        "day",
        F.col("s").alias("x"),
        F.explode(F.array(*[F.lit(k) for k in range(1, 8)])).alias("lag"),
    ).withColumn("day_y", F.date_add(F.col("day"), F.col("lag")))
    j = lagged.join(
        daily.select(F.col("day").alias("day_y"), F.col("s").alias("y")),
        "day_y",
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    corr = (n * sxy - sx * sy) / F.sqrt(
        (n * sxx - sx * sx) * (n * syy - sy * sy)
    )
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").cast("long").alias("n_pairs"),
        F.round(corr, 6).alias("autocorr"),
    ).orderBy("lag")


# ---------------------------------------------------------------- Q159


def q159_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean per return flag (E13 — the robust average:
    clamp to the exact [p05, p95] order statistics, then average;
    q127 DETECTS outliers, this neutralizes them — the estimator
    used when you must keep every row but not its tail leverage).

    Both cut points come from ops/quantile.exact_quantiles_bucketed
    (the q98/q121/q127 scale contract: smallest value with
    den·cum ≥ num·tot over exact integer weights — bucket-grain
    windows only, declared identically in the oracle). Clamping is
    exact decimal compares (least/greatest); the winsorized mean is
    a decimal sum / count divided in double (rule 4), ROUND 6; the
    clip counts are exact integers.

    Plan: one lineitem scan → (flag, price) grain pre-agg feeding
    the quantile search; the 3-row bounds table broadcasts back
    onto the same pre-agg (weights carry the clamp — the fact table
    is never re-scanned); one 3-row final agg."""
    from ..ops.quantile import exact_quantiles_bucketed

    from ..ops.materialize import materialize

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", dec("l_extendedprice").alias("price")
    )
    # (flag, price) grain feeds THREE consumers (the quantile search's
    # bucket pass + in-bucket pass, and the clamp aggregation below) —
    # materialized so the single-row-group lineitem scan and the
    # grain hash-agg run once instead of three times (round-17; the
    # q127 discipline, measured ~1 s of repeated 1-core scan+agg).
    grain = materialize(
        li.groupBy("l_returnflag", "price").agg(
            F.count(F.lit(1)).cast("long").alias("w")
        )
    )
    qs = exact_quantiles_bucketed(
        grain, "l_returnflag", "price", "w", [1, 19], 20
    )
    bounds = qs.groupBy("l_returnflag").agg(
        F.min(F.when(F.col("_num") == 1, F.col("q"))).alias("lo"),
        F.min(F.when(F.col("_num") == 19, F.col("q"))).alias("hi"),
    )
    c = grain.join(F.broadcast(bounds), "l_returnflag").select(
        "l_returnflag",
        "w",
        "price",
        F.least(F.greatest(F.col("price"), F.col("lo")), F.col("hi")).alias(
            "cp"
        ),
        (F.col("price") < F.col("lo")).cast("long").alias("is_lo"),
        (F.col("price") > F.col("hi")).cast("long").alias("is_hi"),
        "lo",
        "hi",
    )
    return (
        c.groupBy("l_returnflag")
        .agg(
            F.sum("w").cast("long").alias("n"),
            F.min("lo").cast("double").alias("p05"),
            F.min("hi").cast("double").alias("p95"),
            F.sum(F.col("is_lo") * F.col("w")).cast("long").alias("n_clipped_low"),
            F.sum(F.col("is_hi") * F.col("w")).cast("long").alias("n_clipped_high"),
            F.round(
                F.sum(F.col("cp") * F.col("w")).cast("double")
                / F.sum("w").cast("double"),
                6,
            ).alias("winsorized_mean"),
            F.round(
                F.sum(F.col("price") * F.col("w")).cast("double")
                / F.sum("w").cast("double"),
                6,
            ).alias("raw_mean"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------- Q160


def q160_sampled_join_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEY-SPACE SAMPLED JOIN audit (E13/E1 — the cardinality/
    statistics estimation technique for joins too big to run in
    full: sample the JOIN KEY domain, not rows. Filtering BOTH
    sides to the same 1-in-8 hash bucket of c_custkey BEFORE the
    join keeps every sampled customer's orders INTACT — row
    sampling would shred the per-key structure and bias every
    per-customer statistic; key sampling is unbiased for them by
    construction).

    The query reports, per order priority, the sampled estimate
    (count × 8, and the sample's own exact average value) NEXT TO
    the full-join truth, plus the estimate/truth count ratio — the
    audit a pipeline runs once to certify the estimator before
    trusting sampled joins at 100 TB (where only the sampled side
    would ever run: both filters push below the join, so the join
    touches ~1/8 of each side's rows and 1/8 of the shuffle).

    Exactness: the bucket is ops/split.hash_bucket (md5-prefix mod —
    the q67/q70 engine-portable hash); counts exact BIGINT, sums
    exact decimal, averages rule-4 divisions, the ratio one double
    division of exact BIGINTs, ROUND 6 everywhere a float is
    emitted."""
    from ..ops.split import hash_bucket

    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", dec("o_totalprice").alias("v")
    )
    in_bucket = hash_bucket(F.col("c_custkey"), 8) == 0
    cs = c.filter(in_bucket)
    os_ = o.filter(hash_bucket(F.col("o_custkey"), 8) == 0)
    sample = (
        os_.join(cs, os_.o_custkey == cs.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_value_est"),
        )
    )
    full = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.round(
                F.sum("v").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_value_exact"),
        )
    )
    return (
        full.join(sample, "o_orderpriority", "left")
        .select(
            "o_orderpriority",
            F.coalesce(F.col("n_sample"), F.lit(0)).cast("long").alias("n_sample"),
            (F.coalesce(F.col("n_sample"), F.lit(0)) * 8)
            .cast("long")
            .alias("n_est"),
            "n_exact",
            "avg_value_est",
            "avg_value_exact",
            F.round(
                (F.coalesce(F.col("n_sample"), F.lit(0)) * 8).cast("double")
                / F.col("n_exact").cast("double"),
                6,
            ).alias("count_ratio"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q161


def q161_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NAIVE-SEASONAL FORECAST BACKTEST (E13/E3 — the time-series
    eval loop: score the lag-7 "same weekday last week" baseline
    every real forecaster must beat; q158 measures the weekly cycle,
    this CASHES it): per day-of-week, MAPE, mean error (bias) and
    pair count of forecast = revenue(d−7) against actual revenue(d).

    Exactness: daily revenue is the exact DECIMAL(18,2) sum (q89/
    q158 grain); each |error| and error is exact decimal; each
    percentage error is ONE double division ROUND(·,9) into
    DECIMAL(18,9) and the per-dow MAPE is the EXACT decimal mean of
    those fragments (q148's convention — float add order never
    matters), cast double on output. Day-of-week from integer epoch
    arithmetic: dow = (epoch_day + 4) % 7 (1970-01-01 was a
    Thursday) — no engine calendar functions in the hash gate.

    Plan: one orders scan → date-grain agg (map-side) → one
    date-grain self-equi-join on d−7 → 7-row agg. Scan-bound at any
    scale."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        dec("o_totalprice").alias("v"),
    )
    daily = o.groupBy("day").agg(
        F.sum("v").cast("decimal(18,2)").alias("s")
    )
    cur = daily.select(
        "day",
        F.col("s").alias("actual"),
        F.date_sub(F.col("day"), 7).alias("day_lag"),
    )
    j = cur.join(
        daily.select(F.col("day").alias("day_lag"), F.col("s").alias("fc")),
        "day_lag",
    )
    epoch_day = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    dow = F.pmod(epoch_day + F.lit(4), F.lit(7)).cast("int")
    err = F.col("actual") - F.col("fc")
    ape = F.round(
        F.abs(err).cast("double") / F.col("actual").cast("double"), 9
    ).cast("decimal(18,9)")
    g = j.select(
        dow.alias("dow"),
        err.alias("err"),
        ape.alias("_ape"),
    ).groupBy("dow")
    return (
        g.agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            (
                F.sum("_ape").cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("mape"),
            F.round(
                F.sum("err").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("mean_bias"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------- Q162


def q162_smoothed_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAYESIAN m-ESTIMATE smoothed ranking (E13/E2 — the cold-start
    fix every rating/CTR ranking needs: raw rates put a 1-for-1
    brand above a 490-for-1000 one; shrinking toward the global
    prior with pseudo-count m orders small-sample items sanely —
    the IMDB "true Bayesian estimate" / m-estimate classic):
    per part brand, the high-value order rate smoothed with m = 25.

    Exactness: per-brand n and hits are exact BIGINTs; the global
    prior is ONE division of two exact BIGINTs (computed from the
    SAME aggregate rows via a window sum, not a second scan);
    smoothed = (hits + m·prior)/(n + m) is a fixed IEEE expression
    (q131 convention); the rank orders by (smoothed DESC, brand) —
    a total order, ROUND only on output.

    Plan: one lineitem ⨝ orders fact join (the brand dim broadcast),
    one brand-grain hash agg, window sums at the ≤25-row brand
    grain. One fact shuffle at any scale."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", (F.col("o_totalprice") > 200000.0).cast("long").alias("hi")
    )
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("hi").cast("long").alias("hits"),
        )
    )
    wall = Window.partitionBy()
    m = F.lit(25.0)
    prior = (
        F.sum("hits").over(wall).cast("double")
        / F.sum("n").over(wall).cast("double")
    )
    smoothed = (F.col("hits").cast("double") + m * prior) / (
        F.col("n").cast("double") + m
    )
    raw = F.col("hits").cast("double") / F.col("n").cast("double")
    scored = base.select(
        "p_brand",
        "n",
        "hits",
        F.round(raw, 6).alias("raw_rate"),
        F.round(prior, 6).alias("prior"),
        smoothed.alias("_sm"),
    )
    wrank = Window.orderBy(F.col("_sm").desc(), F.col("p_brand").asc())
    return scored.select(
        "p_brand",
        "n",
        "hits",
        "raw_rate",
        "prior",
        F.round(F.col("_sm"), 6).alias("smoothed_rate"),
        F.row_number().over(wrank).cast("long").alias("rank"),
    ).orderBy("p_brand")


# ---------------------------------------------------------------- Q163


def q163_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM SEGMENTATION (E13/E2 — the marketing-analytics classic:
    score every customer 1-5 on Recency/Frequency/Monetary
    quintiles and bucket them into named segments; the canonical
    "who are my champions / who is hibernating" readout).

    Scale shape: quintile boundaries come from ONE call to
    ops/quantile.exact_quantiles_bucketed over a 3-metric unioned
    value-grain table (metric name as the group key — R, F and M
    boundaries in the same bucket-grain search, its fourth
    consumer); the per-user RFM aggregate is MATERIALIZED because
    both the boundary derivation and the assignment read it. The
    12-row boundary table pivots wide and broadcasts; assignment is
    four integer/double compares per metric.

    Exactness: recency = floor((snapshot − last_purchase)/86400)
    integer days (snapshot = max event epoch, a 1-row broadcast —
    the declared q56/q80 scalar-subquery shape); frequency exact
    BIGINT; monetary exact decimal cast double ONLY for the
    boundary compare and output. Quintile rule (declared, mirrored):
    score = 1 + count of boundaries the value strictly EXCEEDS;
    recency score flips (5 = most recent). Segment labels are one
    fixed-order CASE shared by both engines."""
    from ..ops.materialize import materialize
    from ..ops.quantile import exact_quantiles_bucketed

    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select("user_id", _ep("ts").alias("ep"), dec("value").alias("v"))
    snap = e.agg(F.max("ep").alias("_snap"))
    rfm = materialize(
        e.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("v").alias("_m"),
            F.max("ep").alias("_last"),
        )
        .crossJoin(F.broadcast(snap))
        .select(
            "user_id",
            F.floor((F.col("_snap") - F.col("_last")) / 86400)
            .cast("long")
            .alias("recency_days"),
            "frequency",
            F.round(F.col("_m"), 2).cast("double").alias("monetary"),
        )
    )
    metric = (
        rfm.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("r").alias("metric"),
                        F.col("recency_days").cast("double").alias("val"),
                    ),
                    F.struct(
                        F.lit("f").alias("metric"),
                        F.col("frequency").cast("double").alias("val"),
                    ),
                    F.struct(
                        F.lit("m").alias("metric"),
                        F.col("monetary").alias("val"),
                    ),
                )
            ).alias("_e")
        )
        .select("_e.metric", "_e.val")
        .groupBy("metric", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    # round-17: the quantile search reads its grain twice (bucket
    # pass + in-bucket pass) — materialize the small value-grain
    # table so the 3-way explode + hash-agg over the user table runs
    # once (the q127/q159 discipline).
    metric = materialize(metric)
    qs = exact_quantiles_bucketed(metric, "metric", "val", "w", [1, 2, 3, 4], 5)
    bounds = qs.groupBy("metric").pivot("_num", [1, 2, 3, 4]).min("q")
    wide = (
        bounds.select(
            "metric",
            F.col("1").alias("b1"),
            F.col("2").alias("b2"),
            F.col("3").alias("b3"),
            F.col("4").alias("b4"),
        )
        .groupBy()
        .pivot("metric", ["r", "f", "m"])
        .agg(
            F.min("b1").alias("b1"),
            F.min("b2").alias("b2"),
            F.min("b3").alias("b3"),
            F.min("b4").alias("b4"),
        )
    )

    def quint(v, p):
        return (
            F.lit(1)
            + (v > F.col(f"{p}_b1")).cast("int")
            + (v > F.col(f"{p}_b2")).cast("int")
            + (v > F.col(f"{p}_b3")).cast("int")
            + (v > F.col(f"{p}_b4")).cast("int")
        )

    scored = rfm.crossJoin(F.broadcast(wide)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        (F.lit(6) - quint(F.col("recency_days").cast("double"), "r"))
        .cast("int")
        .alias("r_score"),
        quint(F.col("frequency").cast("double"), "f").cast("int").alias("f_score"),
        quint(F.col("monetary"), "m").cast("int").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spender")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("casual")
    )
    return scored.select("*", seg.alias("segment")).orderBy("user_id")


# ---------------------------------------------------------------- Q164


def q164_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED (multiset) JACCARD near-dup pairs (E17 — the
    frequency-aware sibling of q33's set Jaccard: two docs that
    repeat the same words with the same MULTIPLICITIES score higher
    than mere vocabulary overlap; the measure behind weighted
    MinHash schemes): J_w = Σ_t min(tf_a, tf_b) / Σ_t max(tf_a,
    tf_b), top-20 pairs.

    Identity: Σ max = len_a + len_b − Σ min (multiset inclusion-
    exclusion), so only SHARED terms need the pair join — the
    unshared tail rides in via exact per-doc token totals.

    Exactness: tf counts, Σ min and the totals are exact BIGINTs;
    J_w is one double division, ROUND 6; total order before the
    LIMIT. Plan: q88's capped inverted index reused structurally —
    (doc, term, tf) MATERIALIZED (feeds df-cap, both join sides and
    the length table), df ≤ 100 cap drops stopword-grade hot keys
    BEFORE the self-join (declared recall bound: a pair sharing
    ONLY capped terms is not emitted — the q68/q88 contract), one
    (a, b) hash agg, TakeOrdered."""
    from ..ops.materialize import materialize
    from ..ops.text import tokens

    MAX_DF = 100
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(tokens("text")).alias("term")
    )
    tf = materialize(
        d.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("long").alias("tf")
        )
    )
    lens = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("len"))
    df_cap = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= MAX_DF)
        .select("term")
    )
    tfc = materialize(tf.join(df_cap, "term"))
    a = tfc.select(
        F.col("doc_id").alias("id_a"), "term", F.col("tf").alias("tf_a")
    )
    b = tfc.select(
        F.col("doc_id").alias("id_b"), "term", F.col("tf").alias("tf_b")
    )
    num = (
        a.join(b, "term")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).cast("long").alias("shared_min"))
    )
    la = lens.select(F.col("doc_id").alias("id_a"), F.col("len").alias("len_a"))
    lb = lens.select(F.col("doc_id").alias("id_b"), F.col("len").alias("len_b"))
    jw = F.col("shared_min").cast("double") / (
        F.col("len_a") + F.col("len_b") - F.col("shared_min")
    ).cast("double")
    return (
        num.join(la, "id_a")
        .join(lb, "id_b")
        .select(
            "id_a",
            "id_b",
            "shared_min",
            "len_a",
            "len_b",
            F.round(jw, 6).alias("weighted_jaccard"),
        )
        .orderBy(
            F.col("weighted_jaccard").desc(),
            F.col("id_a").asc(),
            F.col("id_b").asc(),
        )
        .limit(20)
    )


# ---------------------------------------------------------------- Q165


def q165_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISOTONIC CALIBRATION per event type (E13/E22 — the monotone
    score-repair step after q136's reliability diagnosis: fit the
    best non-decreasing map from props.k deciles to the empirical
    high-value rate via pool-adjacent-violators). PAVA is
    inherently SEQUENTIAL in bin order, so this is a DECLARED
    rows-only query (no SQL oracle — the driver records the weaker
    check; the pytest twin replays PAVA in pure Python and the
    hypothesis suite property-checks the kernel: monotone output,
    pool-mean preservation, equality with the O(n²) reference).

    Scale shape (ops/isotonic.py): the fact table folds map-side
    into (type, k-decile, n, pos) — ≤ 5 × 10 rows — and
    applyInPandas runs the O(bins) merge-stack fit per group on
    that category grain. The Python/Arrow boundary never sees data
    rows (the ops/sequential.py class)."""
    from ..ops.isotonic import isotonic_calibrate

    # NULL/non-numeric props.k must be EXCLUDED, not binned: least()
    # skips NULL operands, so least(9, NULL) = 9 would silently dump
    # every k-less event into the top decile and skew its fit
    # (round-9 advice). The isNotNull filter runs on the extracted
    # int so a non-numeric k (cast → NULL) is dropped the same way.
    k = F.get_json_object("props", "$.k").cast("int")
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("group"),
            k.alias("k"),
            (F.col("value") > 100.0).cast("long").alias("hit"),
        )
        .filter(F.col("k").isNotNull())
        .select(
            "group",
            F.least(F.lit(9), F.floor(F.col("k") / F.lit(10)))
            .cast("long")
            .alias("bin"),
            "hit",
        )
    )
    binned = e.groupBy("group", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("hit").cast("long").alias("pos"),
    )
    return isotonic_calibrate(binned).orderBy("group", "bin")


# ================================================================ round 10
# E13/E17/E19 widening: rank statistics (Spearman), boilerplate
# detection, shard-balance audit, deterministic Poisson bootstrap,
# n-gram novelty, categorical-association matrix, tail-mass shares,
# top-k rank stability, CUSUM changepoint. All libm-free (the §2.6
# convention: exact integer/decimal arithmetic into the hash gate,
# only IEEE-exact +,-,*,/,sqrt in the final double expressions).


def q166_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPEARMAN rank correlation per ``l_returnflag`` between
    ``l_quantity`` and ``l_extendedprice`` (E13 — q89's Pearson
    discipline moved to RANK space, the robust/monotone association
    measure an EDA pass reports next to Pearson).

    Exactness: tie-averaged fractional ranks are made INTEGER by
    doubling — 2·avg_rank = 2·rank_min + ties − 1 — so every power
    sum (n, Σx, Σy, Σxy, Σx², Σy²) is an exact DECIMAL sum of
    BIGINTs (the doubling cancels in the correlation ratio). The
    finish is q89's single shared IEEE expression
    ``(nΣxy−ΣxΣy)/(√(nΣx²−(Σx)²)·√(nΣy²−(Σy)²))``, ROUND 6.

    Plan — DISTRIBUTED RANK, not a per-group window sort (a 3-value
    group key would pin a plain ``partitionBy(g)`` sort to 3 tasks
    at ANY scale): each column's global rank decomposes as
    bucket-offset + within-bucket rank, where the bucket is an
    ORDER-PRESERVING integer division of the value. The within
    window partitions by (g, bucket) — hundreds of parallel sort
    partitions — and the offsets come from a bucket-grain count
    prefix (domain-constant rows, broadcast back). Ties stay exact:
    a value's tie block never crosses its bucket. Prices rank via
    integer cents (exact for 2-decimal-clean money, order- and
    tie-preserving). Two chained window blocks share the row
    pipeline; the only data-grain stages are the two (g, bucket)
    exchanges and their in-partition sorts.
    """
    from ..ops.rank import with_rank2

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    r = with_rank2(
        with_rank2(li, "x", group_cols=["g"], bucket_width=8),
        "y",
        group_cols=["g"],
        bucket_width=65536,
    )
    d19 = "decimal(19,0)"
    rx = F.col("r2_x").cast(d19)
    ry = F.col("r2_y").cast(d19)
    s = r.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rx).alias("sx"),
        F.sum(ry).alias("sy"),
        F.sum(rx * ry).alias("sxy"),
        F.sum(rx * rx).alias("sxx"),
        F.sum(ry * ry).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    rho = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select(
        F.col("g").alias("l_returnflag"),
        F.col("n").cast("long").alias("n_rows"),
        F.round(rho, 6).alias("spearman_rho"),
    ).orderBy("l_returnflag")


# ---------------------------------------------------------------- Q167


def q167_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOILERPLATE detection by shared document PREFIX (E19 — the
    cheap template catcher a web-corpus pipeline runs before
    near-dup: navigation chrome / licence headers repeat VERBATIM at
    document start, so grouping on the first-k-token prefix finds
    them with one hash-agg, no pair join at all).

    Every document with ≥ 8 tokens contributes its first-8-token
    prefix; prefixes shared by ≥ 2 documents are reported with the
    cluster size, the smallest member (the canonical keeper under
    the repo's min-id survivorship rule, q32/q110), and the cluster's
    share of the eligible corpus (exact counts, ONE division).

    Plan: projection → prefix hash-agg (map-side partials carry the
    corpus; state is bounded by the number of DISTINCT prefixes) →
    1-row eligible-count broadcast → TakeOrdered. No joins at data
    grain, no windows — the 100×-safe shape for a first-pass filter.
    """
    from ..ops.text import tokens

    d = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", tokens("text").alias("toks"))
        .filter(F.size("toks") >= 8)
        .select(
            "doc_id", F.array_join(F.slice("toks", 1, 8), " ").alias("prefix")
        )
    )
    from ..ops.materialize import materialize

    # ONE documents scan: the pre-filter prefix aggregate feeds both
    # the eligible total (Σ n_docs — vocabulary-sized rollup) and the
    # cluster filter; materialized so neither consumer re-derives the
    # corpus-grain agg (the q127/q143 multi-consumer rule)
    pre = materialize(
        d.groupBy("prefix").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").alias("keeper_doc"),
        )
    )
    tot = pre.agg(F.sum("n_docs").alias("n_eligible"))
    cl = (
        pre.filter(F.col("n_docs") >= 2)
        .crossJoin(F.broadcast(tot))  # 1-row scalar join
    )
    return (
        cl.select(
            "prefix",
            "n_docs",
            "keeper_doc",
            F.round(
                F.col("n_docs").cast("double")
                / F.col("n_eligible").cast("double"),
                6,
            ).alias("corpus_share"),
        )
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(20)
    )


# ---------------------------------------------------------------- Q168


def q168_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHARD-ASSIGNMENT balance audit (E24 — before a training run
    hash-shards a corpus into N writer tasks, measure how even the
    split actually is in documents AND token mass; a skewed shard is
    the straggler that holds the whole epoch hostage).

    Sharding is a deterministic engine-portable MINSTD step —
    ``shard = ((doc_id % 2147483647) · 48271 % 2147483647) % 32`` —
    exact BIGINT arithmetic in both engines (every intermediate
    < 1.04e14, far inside int64; doc_id folded mod the Mersenne
    prime first so the multiply can never overflow at any corpus
    size). Deviations are each ONE double division off exact
    integer sums, ROUND 6.

    Plan: projection → 32-group hash-agg (map-side combine does all
    the work) → 1-row totals broadcast. Zero data-grain shuffles
    beyond the agg's partials; the audit costs one scan at any SF.
    """
    from ..ops.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        ((F.col("doc_id") % 2147483647) * 48271 % 2147483647 % 32).alias(
            "shard"
        ),
        token_count("text").alias("ntok"),
    )
    per = d.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("tot_docs"), F.sum("n_tokens").alias("tot_toks")
    )
    j = per.crossJoin(F.broadcast(tot))
    # relative deviation from the perfectly even share: n·32/total − 1
    doc_dev = (
        F.col("n_docs").cast("double") * F.lit(32.0)
    ) / F.col("tot_docs").cast("double") - F.lit(1.0)
    tok_dev = (
        F.col("n_tokens").cast("double") * F.lit(32.0)
    ) / F.col("tot_toks").cast("double") - F.lit(1.0)
    return j.select(
        F.col("shard").cast("int").alias("shard"),
        "n_docs",
        "n_tokens",
        F.round(doc_dev, 6).alias("doc_dev"),
        F.round(tok_dev, 6).alias("tok_dev"),
    ).orderBy("shard")


# ---------------------------------------------------------------- Q169


def q169_poisson_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DETERMINISTIC POISSON BOOTSTRAP confidence intervals for the
    mean order value per priority (E13 — the at-scale bootstrap: a
    multiplier resample needs ONE pass and no per-replicate global
    shuffle, the standard trick for CIs over data too big to
    resample row-wise).

    Replicate weights are Poisson(1) multiplicities drawn from a
    DETERMINISTIC engine-portable MINSTD stream seeded by
    (o_orderkey, replicate) — exact BIGINT arithmetic (q168's
    envelope: every intermediate < 1.04e14), thresholded against the
    Poisson(1) CDF scaled to 2^31−1 as integer literals (pmf mass
    beyond w=4 lumped into w=4; 1.9 % of draws). Replicate r = −1
    carries weight 1 everywhere — the POINT estimate rides the same
    single aggregation. Each replicate mean is an exact decimal
    Σw·price / Σw finished by ONE double division; the 95 % CI is
    ORDER-STATISTIC selection (3rd / 98th of the 100 replicate
    means) — no float accumulation anywhere.

    Plan: scan → narrow-projection spread (one explicit repartition
    — the CPU-bound 101× explode otherwise runs on the scan's few
    input splits, q146's lesson) → explode → (priority, r) hash-agg
    with map-side partials (5 × 101 groups, MATERIALIZED for its two
    consumers) → 505-row window selection. The only data-sized
    stages are the spread and the partial agg; replicate count
    scales the MAP work linearly but never the shuffle width.
    """
    # The LCG/CDF weight arithmetic is composed as parsed SQL strings
    # (optimization round, guide §4.4/§5.3): the Column-tree form of
    # the 5-branch CASE × 101-way explode cost ~1,000 py4j round
    # trips of driver wall per build; one parse is ~1 ms. Exact
    # integer ops through the identical IEEE/decimal pipeline —
    # values proven bit-identical against the Column form.
    M = 2147483647
    o = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderkey",
            "o_orderpriority",
            "CAST(o_totalprice AS DECIMAL(12,2)) AS price",
        )
        # the 101x explode + weight arithmetic is CPU-per-row; a
        # small-file scan pins it to the scan's few input splits
        # (3 at bench SF) — spread it first (q146's idiom)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # u re-derives s1 inline per CASE branch; whole-stage codegen CSEs
    # the shared subtree, and the arithmetic is exact integers either
    # way (q168's envelope: every intermediate < 1.04e14).
    u = f"((o_orderkey % {M} * 48271 % {M}) + r * 40503) * 48271 % {M}"
    w = (
        f"CAST(CASE WHEN r = -1 THEN 1 "
        f"WHEN {u} < 790015083 THEN 0 "
        f"WHEN {u} < 1580030167 THEN 1 "
        f"WHEN {u} < 1975037709 THEN 2 "
        f"WHEN {u} < 2106706890 THEN 3 "
        f"ELSE 4 END AS DECIMAL(3,0)) AS w"
    )
    e = o.selectExpr(
        "o_orderpriority",
        "explode(sequence(-1, 99)) AS r",
        "price",
        "o_orderkey",
    ).selectExpr("o_orderpriority", "r", w, "price")
    rep = (
        e.groupBy("o_orderpriority", "r")
        .agg(
            F.expr("SUM(w * price)").alias("ws"),
            F.expr("SUM(w)").alias("wn"),
            F.expr("CAST(COUNT(1) AS BIGINT)").alias("n_rows"),
        )
        .selectExpr(
            "o_orderpriority",
            "r",
            "n_rows",
            "CAST(ws AS DOUBLE) / CAST(wn AS DOUBLE) AS m",
        )
    )
    # 505-row result feeding two branches whose pushed-down r filters
    # would otherwise each re-run the scan + 101x explode + partial
    # agg (the q127/q143 multi-consumer rule) — materialized, the
    # data-sized pipeline runs ONCE
    from ..ops.materialize import materialize

    rep = materialize(rep)
    point = rep.filter(F.col("r") == -1).select(
        "o_orderpriority",
        F.col("n_rows").alias("n_orders"),
        F.col("m").alias("mean_price"),
    )
    wsel = Window.partitionBy("o_orderpriority").orderBy("m", "r")
    boot = (
        rep.filter(F.col("r") >= 0)
        .select("o_orderpriority", "m", F.row_number().over(wsel).alias("rn"))
        .filter(F.col("rn").isin(3, 98))
        .groupBy("o_orderpriority")
        .agg(
            F.min(F.when(F.col("rn") == 3, F.col("m"))).alias("lo"),
            F.min(F.when(F.col("rn") == 98, F.col("m"))).alias("hi"),
        )
    )
    return (
        point.join(boot, "o_orderpriority")
        .select(
            "o_orderpriority",
            "n_orders",
            F.round("mean_price", 6).alias("mean_price"),
            F.round("lo", 6).alias("ci_lo"),
            F.round("hi", 6).alias("ci_hi"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q170


def q170_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-GRAM NOVELTY curve over corpus position (E19 — "is the tail
    of my crawl still contributing new content?": for each block of
    50 documents, the fraction of its distinct trigram shingles
    whose FIRST corpus appearance (minimum doc_id) falls inside the
    block's own documents; q146 measures eval-vs-train containment,
    this measures marginal novelty along ingestion order).

    Exactness: all counts are exact integers off distinct shingle
    sets; novelty is ONE division per bucket, ROUND 6.

    Plan: one documents scan → per-doc distinct shingle explode →
    (shingle → min_doc) hash-agg — the single data-grain shuffle;
    per-doc totals and per-doc novel counts are both doc-grain
    aggregates off that pipeline (novel counts read the agg OUTPUT,
    vocabulary-sized), joined doc-grain and rolled to bucket grain.
    No pair joins, no windows — scale is bounded by the shingle
    vocabulary, exactly like q144.
    """
    from ..ops.materialize import materialize
    from ..ops.text import shingles

    # q146's lessons applied: repartition by explicit count BEFORE
    # the CPU-bound interpreted shingle expression (a small-file scan
    # would pin it to one partition), and MATERIALIZE the per-doc
    # shingle sets — they feed two branches with different downstream
    # exchanges (doc-grain totals, shingle-grain first-appearance),
    # which would otherwise each re-scan and re-shingle the corpus
    d = materialize(
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select(
            "doc_id",
            F.array_distinct(shingles("text", 3)).alias("gs"),
        )
        .filter(F.size("gs") > 0)
        .select(
            "doc_id", "gs", F.size("gs").cast("long").alias("n_shingles")
        )
    )
    # doc-grain totals are a PROJECTION of the materialized sets — no
    # explode, no shuffle
    per_doc = d.select("doc_id", "n_shingles")
    pairs = d.select("doc_id", F.explode("gs").alias("g"))
    first = pairs.groupBy("g").agg(F.min("doc_id").alias("min_doc"))
    novel = first.groupBy("min_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_novel")
    )
    j = per_doc.join(
        novel, per_doc["doc_id"] == novel["min_doc"], "left"
    ).select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_novel", F.lit(0).cast("long")).alias("n_novel"),
    )
    b = j.groupBy(F.expr("doc_id div 50").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_shingles").cast("long").alias("n_shingles"),
        F.sum("n_novel").cast("long").alias("n_novel"),
    )
    return b.select(
        "bucket",
        "n_docs",
        "n_shingles",
        "n_novel",
        F.round(
            F.col("n_novel").cast("double") / F.col("n_shingles").cast("double"),
            6,
        ).alias("novelty"),
    ).orderBy("bucket")


# ---------------------------------------------------------------- Q171


def q171_assoc_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CATEGORICAL ASSOCIATION MATRIX over the event stream (E13 —
    q143 tests ONE column pair; an EDA/feature-selection pass wants
    the whole pairwise map with comparable EFFECT SIZES, not just
    test statistics): chi², degrees of freedom, Cramér's V and
    Tschuprow's T for every pair of (event_type, k-decile,
    hour-of-day), over events with a parseable props.k (the q165
    NULL rule: absent k EXCLUDES the row — for every pair, so all
    three tests share one row universe and one N).

    Exactness: ONE (type, decile, hour) aggregation (≤ 5·10·24 =
    1200 cells) is the only data-grain pass; each pair's
    contingency table is a rollup of those 1200 rows. Declared cell
    semantics: tables are built from OBSERVED level combinations
    only — a level pair with zero occurrences contributes no cell
    (its χ² term would be rt·ct/N); both engines derive cells,
    margins and level counts from the same observed grouping, so
    the contract is symmetric. Per-cell chi² contributions use
    q143's integer-cleared decimal-fragment form;
    V = √(χ²/(N·min(r−1,c−1))) and T = √(χ²/(N·√((r−1)(c−1)))) are
    fixed IEEE trees (√ is correctly rounded — no libm in the
    contract).
    """
    from ..ops.materialize import materialize

    k = F.get_json_object("props", "$.k").cast("int")
    e = (
        load_table(spark, sf_dir, "events")
        .select("event_type", k.alias("k"), F.hour("ts").alias("hr"))
        .filter(F.col("k").isNotNull())
        .select(
            F.col("event_type").alias("typ"),
            F.least(F.lit(9), F.floor(F.col("k") / F.lit(10)))
            .cast("int")
            .alias("kdec"),
            "hr",
        )
    )
    cube = materialize(
        e.groupBy("typ", "kdec", "hr").agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
    )
    d38 = "decimal(38,0)"

    def pair_stats(xcol: str, ycol: str, name: str) -> DataFrame:
        # Margins as WINDOW sums over the ≤ 1200-row cells frame
        # (round-17): the previous form materialized cells, built
        # rt/ct/n as three broadcast subqueries and joined them back
        # — 4 extra jobs and a checkpoint per pair for sums the
        # window computes in the same stage. The single-partition
        # total-sum window is CELL-grain (≤ 1200 rows at any data
        # scale — the q130/q137 bounded-grain class, allowlisted).
        # Identical values: exact long sums either way.
        cells = cube.groupBy(xcol, ycol).agg(F.sum("cnt").alias("o"))
        j = cells.select(
            xcol,
            ycol,
            "o",
            F.sum("o").over(Window.partitionBy(xcol)).alias("rt"),
            F.sum("o").over(Window.partitionBy(ycol)).alias("ct"),
            F.sum("o").over(Window.partitionBy()).alias("n"),
        )
        num = F.col("o").cast(d38) * F.col("n").cast(d38) - F.col(
            "rt"
        ).cast(d38) * F.col("ct").cast(d38)
        den = (
            F.col("n").cast(d38)
            * F.col("rt").cast(d38)
            * F.col("ct").cast(d38)
        )
        frag = F.round((num * num).cast("double") / den.cast("double"), 6)
        return j.agg(
            F.max(F.col("n")).cast("long").alias("n"),
            F.count_distinct(F.col(xcol)).cast("int").alias("r_levels"),
            F.count_distinct(F.col(ycol)).cast("int").alias("c_levels"),
            F.sum(frag.cast("decimal(18,6)")).alias("_chi2"),
        ).select(F.lit(name).alias("pair"), "*")

    stats = (
        pair_stats("typ", "kdec", "type_x_kdecile")
        .unionByName(pair_stats("typ", "hr", "type_x_hour"))
        .unionByName(pair_stats("kdec", "hr", "kdecile_x_hour"))
    )
    chi2 = F.col("_chi2").cast("double")
    nd = F.col("n").cast("double")
    rm1 = (F.col("r_levels") - 1).cast("double")
    cm1 = (F.col("c_levels") - 1).cast("double")
    v = F.sqrt(chi2 / (nd * F.least(rm1, cm1)))
    t = F.sqrt(chi2 / (nd * F.sqrt(rm1 * cm1)))
    return stats.select(
        "pair",
        "n",
        "r_levels",
        "c_levels",
        chi2.alias("chi2"),
        ((F.col("r_levels") - 1) * (F.col("c_levels") - 1))
        .cast("int")
        .alias("dof"),
        F.round(v, 6).alias("cramers_v"),
        F.round(t, 6).alias("tschuprow_t"),
    ).orderBy("pair")


# ---------------------------------------------------------------- Q172


def q172_tail_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TAIL-MASS concentration per source (E19 — "what fraction of my
    token budget do the biggest documents eat?": the heavy-tail
    companion to q154's HHI and q141's Gini, reported the way a
    data-mixture planner consumes it — top-1 % and top-10 % document
    share of total token mass, per source).

    Exactness: ranks are integers off a total order (token count
    desc, doc_id); cut sizes k = max(1, ⌊n/100⌋), max(1, ⌊n/10⌋) are
    exact integer arithmetic; shares are exact BIGINT token sums
    finished by ONE division each, ROUND 6.

    Plan: projection → ONE source-partitioned window sort carries
    rank, per-source n and total mass (three frames off one sort) →
    source-grain conditional aggregation. The sort is per-source
    (parallel across sources); no global ordering exists.
    """
    from ..ops.text import bpe_ish_count

    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", bpe_ish_count("text").alias("ntok")
    )
    ws = Window.partitionBy("source").orderBy(
        F.col("ntok").desc(), F.col("doc_id").asc()
    )
    wp = Window.partitionBy("source")
    r = d.select(
        "source",
        "ntok",
        F.row_number().over(ws).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    # integer floor division (`div`, = DuckDB `//`) — a double `/`
    # would break the exact-integer contract past 2^53
    k1 = F.greatest(F.lit(1).cast("long"), F.expr("n div 100"))
    k10 = F.greatest(F.lit(1).cast("long"), F.expr("n div 10"))
    agg = r.groupBy("source").agg(
        F.max("n").cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("tot_tokens"),
        F.max(k1).cast("long").alias("top1_docs"),
        F.max(k10).cast("long").alias("top10_docs"),
        F.sum(F.when(F.col("rn") <= k1, F.col("ntok")).otherwise(0))
        .cast("long")
        .alias("top1_tokens"),
        F.sum(F.when(F.col("rn") <= k10, F.col("ntok")).otherwise(0))
        .cast("long")
        .alias("top10_tokens"),
    )
    return agg.select(
        "source",
        "n_docs",
        "tot_tokens",
        "top1_docs",
        F.round(
            F.col("top1_tokens").cast("double")
            / F.col("tot_tokens").cast("double"),
            6,
        ).alias("top1_share"),
        "top10_docs",
        F.round(
            F.col("top10_tokens").cast("double")
            / F.col("tot_tokens").cast("double"),
            6,
        ).alias("top10_share"),
    ).orderBy("source")


# ---------------------------------------------------------------- Q173


def q173_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-K RANK STABILITY across time (E13 — "is last period's
    leaderboard still this period's?": overlap and Jaccard of the
    top-k revenue parts between 1995-H1 and 1995-H2, at k = 10, 50,
    100 — the drift check a recommender/report owner runs before
    trusting a cached ranking).

    Exactness: revenue per (half, part) is the exact decimal
    ``Σ extendedprice·(1−discount)``; ranks are integers off the
    (revenue desc, partkey) total order; overlap/Jaccard are exact
    integer counts with ONE division each, ROUND 6.

    Plan: one lineitem scan → (half, part) hash-agg → two half-
    partitioned window sorts (part-catalog-sized input) → part-keyed
    FULL OUTER self-align → explode of the 3-literal k array →
    k-grain aggregation. Everything past the first agg runs at
    catalog grain, which is log-sized next to the fact table.
    """
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == 1995)
        .select(
            F.when(F.month("l_shipdate") <= 6, "H1")
            .otherwise("H2")
            .alias("half"),
            "l_partkey",
            (
                dec("l_extendedprice")
                * (F.lit(1).cast(RATE) - dec("l_discount", RATE))
            ).alias("rev"),
        )
    )
    pr = li.groupBy("half", "l_partkey").agg(F.sum("rev").alias("rev"))
    wr = Window.partitionBy("half").orderBy(
        F.col("rev").desc(), F.col("l_partkey").asc()
    )
    # catalog-grain ranks feed two half-filtered branches; the half
    # predicate pushes below the window AND the fact aggregate, so
    # without materialization the lineitem scan + hash-agg run twice
    from ..ops.materialize import materialize

    rk = materialize(
        pr.select("half", "l_partkey", F.row_number().over(wr).alias("rn"))
    )
    a = rk.filter(F.col("half") == "H1").select(
        "l_partkey", F.col("rn").alias("rn_a")
    )
    b = rk.filter(F.col("half") == "H2").select(
        "l_partkey", F.col("rn").alias("rn_b")
    )
    j = a.join(b, "l_partkey", "full").select(
        F.coalesce("rn_a", F.lit(2147483647)).alias("rn_a"),
        F.coalesce("rn_b", F.lit(2147483647)).alias("rn_b"),
        F.explode(F.array(F.lit(10), F.lit(50), F.lit(100))).alias("k"),
    )
    agg = j.groupBy("k").agg(
        F.sum(F.when(F.col("rn_a") <= F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("rn_b") <= F.col("k"), 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
        F.sum(
            F.when(
                (F.col("rn_a") <= F.col("k")) & (F.col("rn_b") <= F.col("k")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_common"),
    )
    return agg.select(
        "k",
        "n_a",
        "n_b",
        "n_common",
        F.round(
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
            6,
        ).alias("containment"),
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast(
                "double"
            ),
            6,
        ).alias("jaccard"),
    ).orderBy("k")


# ---------------------------------------------------------------- Q174


def q174_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM CHANGEPOINT scan over the daily event-value series (E13
    — "did the level of this metric shift, and when?": the
    max-|CUSUM| location statistic, the screening step before a
    formal changepoint test; q142's EWMA flags drifts online, this
    localizes the single strongest break offline).

    Exactness: the classic CUSUM ``Σ_{i≤t}(x_i − x̄)`` is cleared of
    its division by scaling with D (the day count):
    ``stat_t = D·prefix_t − t·total`` — all DECIMAL arithmetic off
    exact daily decimal sums, no float accumulation. The normalized
    column is ONE double division, ROUND 6.

    Plan: one scan → day hash-agg (calendar-sized output), ONE
    day-ordered running-sum window at day grain (a single-partition
    sort of a calendar-sized series — the declared q143 tiny-global-
    window exception), TakeOrdered top-5. The fact table is touched
    once; everything ordered is calendar-sized.
    """
    e = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        dec("value").alias("v"),
    )
    daily = e.groupBy("day").agg(
        F.sum("v").cast("decimal(28,2)").alias("s")
    )
    wo = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    d10 = "decimal(10,0)"
    r = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.sum("s").over(wo).cast("decimal(28,2)").alias("prefix"),
        F.count(F.lit(1)).over(wall).cast(d10).alias("dd"),
        F.sum("s").over(wall).cast("decimal(28,2)").alias("tot"),
    )
    stat = F.col("dd") * F.col("prefix") - F.col("t").cast(d10) * F.col("tot")
    r2 = r.select(
        "day",
        "t",
        F.col("dd").cast("long").alias("n_days"),
        F.abs(stat).alias("astat"),
        (
            F.abs(stat).cast("double")
            / (F.col("dd").cast("double") * F.col("tot").cast("double"))
        ).alias("norm"),
    )
    return (
        r2.select(
            "day",
            "t",
            "n_days",
            F.col("astat").cast("double").alias("cusum_abs"),
            F.round("norm", 6).alias("cusum_norm"),
        )
        .orderBy(F.col("cusum_abs").desc(), "day")
        .limit(5)
    )


# ---------------------------------------------------------------- Q175


def q175_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KRUSKAL-WALLIS H test across order priorities (E13 — the
    k-sample completion of the nonparametric family: q145's
    Mann-Whitney compares TWO cohorts, this asks "does ANY of the
    five priorities' price distributions differ?", with the
    tie-corrected statistic).

    Exactness: GLOBAL tie-averaged ranks come doubled from
    ops/rank.with_rank2 (r2 = 2·rank_min + ties − 1, exact BIGINT
    — the q145 identity), so every group rank sum S_g = Σ r2 is an
    exact decimal and R_g²/n_g = S_g²/(4·n_g). Per-group fragments
    are ROUND(·,6) decimals summed exactly (the q143 convention);
    H = 12/(N(N+1))·ΣR_g²/n_g − 3(N+1) and the tie correction
    C = 1 − Σ(t³−t)/(N³−N) close with fixed IEEE trees. S_g is
    squared in DOUBLE (correctly-rounded decimal→double cast, then
    one multiply — identical in both engines at any magnitude,
    where a decimal square would overflow precision 38 past
    N ≈ 2e9).

    Plan: the distributed-rank decomposition (bucket offsets +
    (bucket)-partitioned windows — no single data-grain sort even
    though the rank is GLOBAL), one group-grain aggregation, one
    value-grain tie aggregation (vocabulary of distinct prices),
    and category-grain finishes. The oracle is the plain global
    window rank — the hash proves the decomposition exact.
    """
    from ..ops.rank import with_rank2

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    r = with_rank2(o, "v", group_cols=[], bucket_width=65536)
    sg = r.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("r2_v").cast("decimal(38,0)")).alias("s2"),
    )
    # ties at value grain; N derives from the same aggregate
    d13 = "decimal(13,0)"
    ties = o.groupBy("v").agg(F.count(F.lit(1)).cast(d13).alias("t"))
    tt = ties.agg(
        F.sum("t").cast("long").alias("nn"),
        F.sum(
            F.col("t") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tsum"),
    )
    # DECIMAL(38,6) fragments: magnitude ~ N³/(20·4) stays inside
    # 1e32 for any N the global rank() itself can reach (2^31 rows →
    # ~4.6e26) — a (28,6) cast would overflow ~100× earlier and
    # Spark's non-ANSI NULL would silently drop the group from the
    # sum (round-10 review finding)
    frag = F.round(
        (F.col("s2").cast("double") * F.col("s2").cast("double"))
        / (F.lit(4.0) * F.col("n").cast("double")),
        6,
    ).cast("decimal(38,6)")
    per = sg.select("g", "n", "s2", frag.alias("_f")).crossJoin(
        F.broadcast(tt)
    )
    wall = Window.partitionBy()
    nd = F.col("nn").cast("double")
    fsum = F.sum("_f").over(wall).cast("double")
    h = F.lit(12.0) * fsum / (nd * (nd + F.lit(1.0))) - F.lit(3.0) * (
        nd + F.lit(1.0)
    )
    c = F.lit(1.0) - F.col("tsum").cast("double") / (nd * nd * nd - nd)
    k = F.count(F.lit(1)).over(wall)
    return (
        per.select(
            F.col("g").alias("o_orderpriority"),
            "n",
            F.col("s2").cast("double").alias("rank_sum2"),
            F.round(
                F.col("s2").cast("double")
                / (F.lit(2.0) * F.col("n").cast("double")),
                6,
            ).alias("mean_rank"),
            F.round(h, 6).alias("h"),
            F.round(h / c, 6).alias("h_adj"),
            (k - 1).cast("int").alias("dof"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------- Q176


def q176_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REFERENTIAL-INTEGRITY AUDIT across every foreign-key edge of
    the schema (V1/V2's cross-TABLE completion — the reference
    verifies per-table row counts after load (SURVEY.md §2.2 V1);
    a warehouse also verifies that the EDGES hold before trusting
    joins: orphan children, NULL keys, and how much of each parent
    the children actually reference).

    One row per FK edge with exact counts: child rows, NULL FKs,
    orphans (child keys with no parent — LEFT ANTI), distinct child
    keys, parent keys, and parent coverage (ONE division, ROUND 6).

    Plan: per edge, one anti-join (AQE broadcasts the parent key
    column while it is dim-sized; shuffle-hash beyond that) and one
    child-side distinct — each edge is an independent branch BY
    SEMANTICS (the q137 multi-table audit class: per-edge scans are
    separate checks, not a reusable subtree); every branch folds to
    a 1-row summary before the 7-row union.
    """
    edges = [
        ("lineitem.l_orderkey->orders.o_orderkey",
         "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part.p_partkey",
         "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem.l_suppkey->supplier.s_suppkey",
         "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders.o_custkey->customer.c_custkey",
         "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation.n_nationkey",
         "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation.n_nationkey",
         "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("nation.n_regionkey->region.r_regionkey",
         "nation", "n_regionkey", "region", "r_regionkey"),
    ]
    out = None
    for name, child, fk, parent, pk in edges:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("fk"))
        p = load_table(spark, sf_dir, parent).select(F.col(pk).alias("pk"))
        # ONE pass per edge (round-17 job fusion — the previous shape
        # ran a base aggregation AND a separate anti-join branch, so
        # every child table was scanned twice; 7 edges fanned into 61
        # AQE stage-jobs ≈ 4 s of scheduling at sf0.1): pk is the
        # parent's PRIMARY key (unique by schema), so a LEFT join
        # cannot duplicate child rows and `pk IS NULL` marks exactly
        # the rows the LEFT ANTI branch counted. All counts stay
        # exact integers — identical output.
        base = (
            c.join(F.broadcast(p), F.col("fk") == F.col("pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_child"),
                F.sum(F.col("fk").isNull().cast("long"))
                .cast("long")
                .alias("n_null_fk"),
                F.count_distinct("fk").cast("long").alias("n_distinct_fk"),
                F.count_if(
                    F.col("fk").isNotNull() & F.col("pk").isNull()
                )
                .cast("long")
                .alias("n_orphan"),
            )
        )
        np = p.agg(F.count(F.lit(1)).cast("long").alias("n_parent"))
        row = (
            base.crossJoin(F.broadcast(np))
            .select(
                F.lit(name).alias("edge"),
                "n_child",
                "n_null_fk",
                "n_orphan",
                "n_distinct_fk",
                "n_parent",
                F.round(
                    F.col("n_distinct_fk").cast("double")
                    / F.col("n_parent").cast("double"),
                    6,
                ).alias("parent_coverage"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("edge")


# ---------------------------------------------------------------- Q177


def q177_pit_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME enrichment (E1+E16 composition — the FEATURE
    STORE join: attach to every fact the dimension state that was
    true WHEN THE FACT HAPPENED, never the current state — the
    leakage-free join every training pipeline and SCD2 warehouse
    needs): each lineitem's revenue attributed to the customer's
    loyalty TIER AS OF ITS SHIP DATE, where tiers derive from the
    customer's cumulative order count (1st order → BRONZE, 5th →
    SILVER, 10th → GOLD).

    Semantics: tier-start events at cumulative order counts 1/5/10
    (one row per (customer, day): the day's FINAL tier — max rank —
    so the as-of right side is unique per key+day, making the
    inclusive match engine-unambiguous); every lineitem then
    backward-as-of joins on (custkey, epoch-day of l_shipdate ≥
    tier-start day). TPC-H ships after ordering, so no line precedes
    its customer's first tier. Revenue is the exact decimal
    Σ price·(1−disc); day arithmetic is integer epoch days (rule 2).

    Plan: lineitem⋈orders equi-join (fact-fact, AQE), one
    customer-keyed window for cumulative counts (dim-grain), and
    ops/asof's UNION-SENTINEL as-of (ONE shuffle on custkey + an
    in-partition sort — no range blowup; the 100 TB feature-store
    shape). The oracle uses DuckDB's NATIVE ASOF JOIN — the hash
    proves the union-sentinel plan ≡ the native operator.
    """
    from ..ops.asof import asof_join

    epoch = F.lit("1970-01-01").cast("date")
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate").cast("date"), epoch).alias("oday"),
    )
    wc = Window.partitionBy("o_custkey").orderBy("oday", "o_orderkey")
    starts = (
        o.withColumn("cum", F.row_number().over(wc))
        .filter(F.col("cum").isin(1, 5, 10))
        .select(
            "o_custkey",
            "oday",
            F.when(F.col("cum") == 10, 3)
            .when(F.col("cum") == 5, 2)
            .otherwise(1)
            .alias("tier_rank"),
        )
        .groupBy("o_custkey", "oday")
        .agg(F.max("tier_rank").alias("tier_rank"))
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.datediff(F.col("l_shipdate").cast("date"), epoch).alias("sday"),
        (
            dec("l_extendedprice")
            * (F.lit(1).cast(RATE) - dec("l_discount", RATE))
        ).alias("rev"),
    )
    facts = li.join(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        ),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("o_custkey", "sday", "rev")
    j = asof_join(
        facts,
        starts.select(
            "o_custkey", F.col("oday").alias("ts"), "tier_rank"
        ),
        key="o_custkey",
        left_ts="sday",
        right_ts="ts",
        payload=["tier_rank"],
    )
    tier = (
        F.when(F.col("tier_rank") == 3, "GOLD")
        .when(F.col("tier_rank") == 2, "SILVER")
        .when(F.col("tier_rank") == 1, "BRONZE")
        .otherwise("NONE")
    )
    return (
        j.select(tier.alias("tier"), "rev", "o_custkey")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.count_distinct("o_custkey").cast("long").alias("n_customers"),
            F.round(F.sum("rev"), 2).cast("double").alias("revenue"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------- Q178


def q178_dedup_keeper_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP KEEPER ELECTION report (E15/E17's final act — after
    clustering finds the near-dup groups, a pipeline must pick ONE
    canonical document per cluster and account for what deletion
    saves; the reference's latest-amendment-wins is the same
    election under a different rule): over q96's deterministic
    document graph, per multi-member component elect the keeper
    under the declared (bpe-token count DESC, doc_id ASC) rule and
    report members, keeper, kept tokens, and the chars/tokens that
    dedup deletes.

    Exactness: all counts exact integers; the election is an argmax
    under a TOTAL order (token count, then min doc_id — no float
    anywhere); savings are integer subtractions.

    Plan: q96's edge derivation + log-diameter star-contraction
    components (`ops/components.py` — the iterative operator, again
    hash-proved against the oracle's recursive-CTE closure), one
    doc-grain join to attach (chars, tokens), one component-grain
    max-of-struct election (the q149 survivorship idiom: ONE hash
    agg, no per-rule shuffles), singletons excluded (no savings).
    """
    from ..ops.components import connected_components
    from ..ops.text import bpe_ish_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", bpe_ish_count("text").alias("ntok")
    )
    cc = connected_components(_doc_graph_edges(d), src="src", dst="dst")
    m = cc.join(
        d.select(F.col("doc_id").alias("vertex"), "n_chars", "ntok"),
        "vertex",
    )
    # keeper = argmax (ntok, -doc_id): max-of-struct with the doc_id
    # NEGATED inside so a single MAX realizes the (ntok DESC,
    # doc_id ASC) total order — the q149 one-agg survivorship idiom
    keeper = F.max(
        F.struct(
            F.col("ntok").alias("k1"),
            (-F.col("vertex")).alias("k2"),
        )
    )
    g = m.groupBy(F.col("comp").alias("component")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        keeper.alias("_k"),
        F.sum("n_chars").cast("long").alias("chars_total"),
        F.sum("ntok").cast("long").alias("tokens_total"),
    )
    return (
        g.filter(F.col("n_members") >= 2)
        .select(
            "component",
            "n_members",
            (-F.col("_k.k2")).cast("long").alias("keeper_doc"),
            F.col("_k.k1").cast("long").alias("tokens_kept"),
            "chars_total",
            "tokens_total",
            (F.col("tokens_total") - F.col("_k.k1"))
            .cast("long")
            .alias("tokens_deleted"),
        )
        .orderBy("component")
    )


# ---------------------------------------------------------------- Q179


def q179_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAINING-MIX REBALANCE PLAN (E13/E19 — q70 samples AT a given
    rate; this computes WHAT the rates must be: given declared
    target shares per source, how hard can each source be
    down-sampled — or is it a deficit source that caps the total
    mix?): the standard epoch-planning arithmetic of a data-mixture
    owner, reported per source.

    Semantics (declared): targets are fixed literals (a 20-source
    split, shares 9..1 hundredths summing to 100). The achievable mix size is capped by the
    scarcest source: T = min_s(tokens_s / share_s) — computed
    float-free as an integer-cleared argmin (tokens_s·D/share_num_s
    compared in exact BIGINT via cross-multiplication is overkill
    here since shares are exact hundredths: cap_s = tokens_s·100
    div share_pct, an exact integer floor). Each source's planned
    take is share_pct·T div 100 (exact), its sampling rate ONE
    division, deficit flag exact comparison.

    Plan: one documents scan → 4-row source aggregate; everything
    after is literal arithmetic at source grain (broadcast of the
    1-row cap). The audit a 100 TB mixture rebuild runs in seconds
    regardless of corpus size.
    """
    from ..ops.text import bpe_ish_count

    shares = {
        "src0": 9, "src1": 9, "src2": 8, "src3": 8, "src4": 7,
        "src5": 7, "src6": 6, "src7": 6, "src8": 5, "src9": 5,
        "src10": 5, "src11": 5, "src12": 4, "src13": 4, "src14": 3,
        "src15": 3, "src16": 2, "src17": 2, "src18": 1, "src19": 1,
    }
    src = load_table(spark, sf_dir, "documents").select(
        "source", bpe_ish_count("text").alias("ntok")
    )
    per = src.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("tokens"),
    )
    share_map = F.create_map(
        *[F.lit(x) for kv in shares.items() for x in kv]
    )
    share_pct = F.coalesce(
        F.element_at(share_map, F.col("source")), F.lit(0)
    ).cast("long")
    # cap_s = floor(tokens*100 / share_pct) in exact integer `div`:
    # the mix size this source alone supports; T = min over sources
    capped = per.select(
        "source", "n_docs", "tokens", share_pct.alias("share_pct")
    ).filter(F.col("share_pct") > 0)
    capped = capped.withColumn(
        "cap", F.expr("tokens * 100 div share_pct")
    )
    cap = capped.agg(F.min("cap").alias("t_total"))
    j = capped.crossJoin(F.broadcast(cap))
    planned = F.expr("share_pct * t_total div 100")
    return j.select(
        "source",
        "n_docs",
        "tokens",
        "share_pct",
        "t_total",
        planned.alias("planned_tokens"),
        F.round(
            planned.cast("double") / F.col("tokens").cast("double"), 6
        ).alias("sampling_rate"),
        (F.col("cap") == F.col("t_total")).cast("int").alias("is_binding"),
    ).orderBy("source")


# ---------------------------------------------------------------- Q180


def q180_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER-AWARE train/val/test split (E13+E15+E17 — the FIX for
    what q128 detects: a doc-level hash split strands members of one
    near-dup cluster on both sides of a fold, leaking eval content
    into train; splitting by the CLUSTER ROOT's hash keeps every
    cluster whole by construction): q96's components give each doc
    its cluster root (isolated docs root themselves), every member
    inherits the root's q67 90/5/5 md5 fold, and the report carries
    BOTH audits — cross-split clusters under the cluster-grain rule
    (provably 0, still computed generically, never assumed) and how
    many multi-member clusters the plain doc-level fold WOULD have
    torn (the q128 counterfactual, same corpus, same hash).

    Plan: q96's edge derivation + star-contraction components, a
    left join back to doc grain (root = coalesce(comp, doc_id) —
    isolated docs are their own cluster), one codegen md5 fold at
    CLUSTER grain, split-grain aggregation; the two audit scalars
    are component-grain aggregates broadcast onto the 3-row report
    (the declared q65 tiny-row pattern).
    """
    from ..ops.components import connected_components
    from ..ops.split import split_label
    from ..ops.text import token_count

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", token_count("text").alias("ntok")
    )
    cc = connected_components(_doc_graph_edges(d), src="src", dst="dst")
    from ..ops.materialize import materialize

    m = materialize(
        d.join(
            cc.select(F.col("vertex").alias("doc_id"), "comp"),
            "doc_id",
            "left",
        ).select(
            "doc_id",
            "ntok",
            F.coalesce("comp", F.col("doc_id")).alias("root"),
            split_label(F.coalesce("comp", F.col("doc_id")), 90, 5).alias(
                "split"
            ),
            split_label(F.col("doc_id"), 90, 5).alias("doc_split"),
        )
    )
    per_split = m.groupBy("split").agg(
        F.count_distinct("root").cast("long").alias("n_clusters"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("ntok").cast("long").alias("n_tokens"),
    )
    audits = m.groupBy("root").agg(
        F.count_distinct("split").alias("k_cluster"),
        F.count_distinct("doc_split").alias("k_doc"),
    )
    scalars = audits.agg(
        F.sum((F.col("k_cluster") > 1).cast("long"))
        .cast("long")
        .alias("cross_split_clusters"),
        # k_doc > 1 already implies >= 2 members — no extra conjunct
        F.sum((F.col("k_doc") > 1).cast("long"))
        .cast("long")
        .alias("doc_fold_torn_clusters"),
    )
    return (
        per_split.crossJoin(F.broadcast(scalars))
        .select(
            "split",
            "n_clusters",
            "n_docs",
            "n_tokens",
            "cross_split_clusters",
            "doc_fold_torn_clusters",
        )
        .orderBy("split")
    )


# --------------------------------------------------------------- Q182


def q182_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-rarity scoring (E19) — the integer-exact
    core of a unigram-LM surprisal/perplexity quality filter (the
    true ``-Σ ln p(tok)`` form is libm-dependent across engines, the
    q138/tfidf_topterms lesson, so the hash-gated contract keeps the
    pre-log statistics a pipeline thresholds on):

    per doc: token occurrences, distinct tokens, the summed corpus
    frequency of its token occurrences (high = boilerplate-like,
    low = rare/novel text), the corpus frequency of its RAREST
    token, occurrences of corpus-hapax tokens, and the hapax rate
    (one ROUND(.,6) double division; everything else exact BIGINT).

    Plan: one documents scan tokenized once; the corpus-frequency
    dictionary is a (tok) hash agg joined back to the occurrence
    explode (dictionary-sized build side — Spark/AQE picks broadcast
    when it fits); the per-doc rollup is a (doc_id) hash agg with
    map-side partials. Two shuffles total at any scale, both on keys
    with corpus-bounded (tok) or data-uniform (doc_id) cardinality —
    no windows, no Python, nothing collected.

    Reference anchor: SURVEY.md §2.5 E19 (the reference itself has
    no text analytics; this extends the training-data surface its
    data model feeds).
    """
    from ..ops.text import tokens

    d = load_table(spark, sf_dir, "documents")
    occ = d.select("doc_id", F.explode(tokens("text")).alias("tok"))
    freq = occ.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    return (
        occ.join(freq, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
            F.sum("f").alias("sum_corpus_freq"),
            F.min("f").alias("min_corpus_freq"),
            F.count_if(F.col("f") == 1).alias("n_hapax"),
            F.round(
                F.count_if(F.col("f") == 1).cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("hapax_rate"),
        )
    )


# --------------------------------------------------------------- Q186


def q186_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL AGGREGATE MAINTENANCE (E2/E16 — the materialized-
    view delta-maintenance idiom): a per-user (count, value-sum)
    aggregate table is MAINTAINED from a base snapshot plus a delta —
    ``new_agg = base_agg ⟗ delta_agg`` with null-safe addition — and
    the query PROVES the maintained result identical to a full
    recompute (the IVM correctness identity), emitting both the
    maintained figures and a per-row consistency flag the oracle
    reproduces.

    Base/delta are carved deterministically from events
    (event_id % 97: ~1% delta — the realistic arrival ratio).
    Partial sums stay EXACT DECIMAL through the merge and round once
    at output, so maintained ≡ recomputed holds bitwise (rule 1:
    decimal addition is associative; early rounding would break the
    identity in the last cent).

    100 TB story: maintenance costs agg(delta) + one key join against
    the existing aggregate table — proportional to the DELTA and the
    key cardinality, never the corpus; the full recompute exists here
    only as the audit branch. COUNT maintenance needs no tombstones
    (append-only deltas); deletable rows would carry signed counts
    through the same plan.
    """
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", dec("value").alias("v")
    )
    base = e.filter(F.col("event_id") % 97 != 0)
    delta = e.filter(F.col("event_id") % 97 == 0)
    b = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("bn"), F.sum("v").alias("bs")
    )
    d = delta.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("dn"), F.sum("v").alias("ds")
    )
    zero_n = F.lit(0).cast("long")
    zero_s = F.lit(0).cast("decimal(12,2)")
    maintained = (
        b.join(d, "user_id", "full_outer")
        .select(
            "user_id",
            (
                F.coalesce(F.col("bn"), zero_n)
                + F.coalesce(F.col("dn"), zero_n)
            ).alias("n"),
            (
                F.coalesce(F.col("bs"), zero_s)
                + F.coalesce(F.col("ds"), zero_s)
            ).alias("s"),
        )
    )
    full = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("fn"), F.sum("v").alias("fs")
    )
    return (
        maintained.join(full, "user_id")
        .select(
            "user_id",
            "n",
            F.round("s", 2).cast("double").alias("sum_value"),
            (
                (F.col("n") == F.col("fn")) & (F.col("s") == F.col("fs"))
            )
            .cast("int")
            .alias("consistent"),
        )
    )


# --------------------------------------------------------------- Q189


def _bpe_encoded_dict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct normalized corpus words encoded with the pinned
    BPE_FIXED_MERGES: (w, syms array<string>, n_tok long). Model
    state: memoized, each call no longer stacks another cached
    dictionary."""
    from ..ops.bpe import BPE_FIXED_MERGES, _chars, bpe_apply_merges
    from ..ops.materialize import materialize
    from ..ops.text import tokens

    def build() -> DataFrame:
        d = load_table(spark, sf_dir, "documents")
        dict_df = (
            d.select(F.explode(tokens("text")).alias("tok"))
            .select(
                F.regexp_replace(F.lower("tok"), "[^a-z]", "").alias("w")
            )
            .filter(F.col("w") != "")
            .distinct()
            .select("w", _chars("w").alias("syms"))
        )
        enc = bpe_apply_merges(dict_df, BPE_FIXED_MERGES)
        out = materialize(
            enc.select("w", "syms", F.size("syms").cast("long").alias("n_tok"))
        )
        enc.unpersist()
        return out

    return session_memo(
        spark, "advanced.bpe_dict", (), build, (table_path(sf_dir, "documents"),)
    )


def q189_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus ENCODER under the hash gate (E19) — the inference
    half the round-11 verdict named as the top code gap: ops/bpe.py
    trained the merge table (bpe_train_merges, q77) but nothing
    APPLIED one to documents. This query scores every document's
    REAL BPE token count by applying the pinned
    :data:`calaspark.ops.bpe.BPE_FIXED_MERGES` table (the oracle can
    only replay a merge list that is fixed text in both engines —
    training stays data-driven and is pinned by its own tests;
    encode∘train composition by tests/test_ops.py).

    Output per document: ``n_bpe_tokens`` (Σ over word occurrences of
    the word's encoded symbol count) and ``n_words`` (occurrences
    after normalization) — the two numbers a token-budget planner
    (q54/q58's consumers) actually needs.

    Plan (dictionary discipline, bpe_train's): ONE documents scan —
    ``explode_outer`` keeps zero-word documents as a NULL-token row,
    so no doc_id spine join is needed (that join is a doc-grain
    shuffle at 100 TB; NULL/'' words just carry zero token weight
    through the LEFT dictionary join) — then per-(doc, word) hash
    agg; the encoded dictionary comes from ops/bpe.bpe_apply_merges
    (chained codegen folds at DICTIONARY grain, persisted every
    ``chain`` merges — default 8; never the corpus), session-memoized
    per corpus via
    _bpe_encoded_dict so repeated calls encode once; word→n_tok
    LEFT equi-join (dictionary build side, AQE broadcasts when it
    fits); final (doc_id) hash agg. No Python, no windows, no
    collects — at 100 TB the encode cost is dictionary-sized,
    exactly like every published tokenizer pipeline.

    Determinism: _merge_pair's left-to-right greedy fold equals
    merge-first-occurrence-until-absent (fusing (l,r) can't create a
    new (l,r)), which is what the oracle's recursive CTE replays with
    non-global regexp_replace; normalization (lower, strip [^a-z])
    keeps every symbol regex-safe in both engines.
    """
    from ..ops.text import tokens

    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode_outer(tokens("text")).alias("tok")
    ).select(
        "doc_id",
        F.coalesce(
            F.regexp_replace(F.lower("tok"), "[^a-z]", ""), F.lit("")
        ).alias("w"),
    )
    per_doc_word = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).alias("n_w")
    )
    word_tok = _bpe_encoded_dict(spark, sf_dir).select("w", "n_tok")
    return (
        per_doc_word.join(word_tok, "w", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("n_w") * F.coalesce(F.col("n_tok"), F.lit(0)))
            .cast("long")
            .alias("n_bpe_tokens"),
            F.sum(F.when(F.col("w") != "", F.col("n_w")).otherwise(0))
            .cast("long")
            .alias("n_words"),
        )
    )
