"""Rows-only demo queries (SURVEY.md §2.6 "rows-only" list: E13, E14,
E17/E18 at scale, E20, E22, E23 true streaming).

No DuckDB oracle exists for these (hash functions, sketches, Python
boundaries, streaming runtime) — the driver records the weaker
rows-only check. Each returns a small, stable-schema DataFrame.
"""

from __future__ import annotations

from uuid import uuid4

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..memo import session_memo
from ..ops.lsh import ann_topk_lsh, neardup_pairs_lsh
from ..ops.materialize import materialize
from ..ops.multimodal import as_media_table, extract_features
from ..ops.text import tokens
from ..ops.udf_demos import TokenizeUDTF, sigmoid_quality_builtin, sigmoid_quality_pandas
from ..tables import load_table, spread, table_path


def _word_token_docs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, tuple]:
    """(doc_id, toks) word-token sets of the documents corpus, and the
    bitmask-dictionary key of their vocabulary, which every caller
    tokenizing through here shares."""
    docs = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.array_distinct(tokens("text", " ")).alias("toks")
    )
    return docs, ("wordtok", (table_path(sf_dir, "documents"),))


def lsh_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 at scale: banded-MinHash near-dup candidates, exact-Jaccard
    verified (sim ≥ 0.5). Subset of q33's exact output with LSH
    recall; the plan has NO cartesian — candidates come from a
    shuffle join on (band_id, band_hash)."""
    docs, dict_key = _word_token_docs(spark, sf_dir)
    return neardup_pairs_lsh(docs, threshold=0.5, dict_key=dict_key)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 at scale: SimHash-bucketed approximate top-10 neighbors of
    vec_id=0. Only the probe's bucket is exact-cosine ranked."""
    e = _corpus_e(spark, sf_dir)
    return ann_topk_lsh(e, probe_id=0, k=10)



def _shingled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # model state: the (doc_id, hashed 3-shingle set) table that
    # ngram_neardup and simhash_neardup both scan
    from ..ops.text import with_shingle_hashes

    def build() -> DataFrame:
        d = spread(load_table(spark, sf_dir, "documents"))
        return materialize(
            with_shingle_hashes(d.select("doc_id", "text"), n=3)
            .select("doc_id", F.array_distinct("toks").alias("toks"))
        )

    return session_memo(
        spark, "demos.shingled_docs", (), build, (table_path(sf_dir, "documents"),)
    )


def _corpus_e(spark: SparkSession, sf_dir: str) -> DataFrame:
    # model state: the typed corpus (vec_id, e double[], nrm) every ANN
    # demo scans; rebuilding it cost ~2.5 s per call at sf0.1
    def build() -> DataFrame:
        emb = spread(load_table(spark, sf_dir, "embeddings"))
        dot_self = F.aggregate(
            F.zip_with("e", "e", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return materialize(
            emb.select(
                "vec_id",
                F.transform("embedding", lambda x: x.cast("double")).alias("e"),
            ).withColumn("nrm", F.sqrt(dot_self))
        )

    return session_memo(
        spark, "demos.corpus_e", (), build, (table_path(sf_dir, "embeddings"),)
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18, compression family: Product-Quantization approximate
    top-10 neighbors of vec_id=0 — the CODES table (8 x 4-bit codes
    per vector, 32x smaller than the float column) is scanned with a
    pure-codegen ADC lookup-table score, and exact cosine runs only
    on the 50-survivor re-rank fetch. IVF prunes WHICH rows a probe
    reads; PQ shrinks WHAT each read costs — at 100 TB the two
    compose (IVF-PQ), and this demo is the PQ half measured alone.
    Rows-only (approximate by design); recall measured in
    ann_recall beside ivf/lsh."""
    from ..ops.ann_pq import load_or_build_pq, pq_topk

    e = _corpus_e(spark, sf_dir)
    model, codes = load_or_build_pq(e, table_path(sf_dir, "embeddings"))
    qv = e.filter(F.col("vec_id") == 0).collect()[0]["e"]
    import numpy as _np

    return pq_topk(e, codes, model, _np.asarray(qv, dtype="float64"), k=10)


def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18, the COMPOSED index (IVF-PQ, the FAISS-canonical layout):
    IVF cells prune WHICH rows the probe reads (nprobe=4 of 16), PQ
    codes shrink WHAT each read costs (32x), exact cosine only on
    the 50-survivor re-rank — at 100 TB the two reductions multiply
    (a probe reads nprobe/n_cells of a table 32x smaller than the
    embedding column). Rows-only; recall measured in ann_recall."""
    from ..ops.ann_pq import ivfpq_topk, load_or_build_ivfpq

    e = _corpus_e(spark, sf_dir)
    model, cc, cents = load_or_build_ivfpq(
        e, table_path(sf_dir, "embeddings"), _ivf_index_path(sf_dir)
    )
    qv = e.filter(F.col("vec_id") == 0).collect()[0]["e"]
    import numpy as _np

    return ivfpq_topk(
        cc, e, model, cents, _np.asarray(qv, dtype="float64"), k=10, nprobe=4
    )


def _ivf_index_path(sf_dir: str, n_cells: int = 16, iters: int = 2) -> str:
    """Shared on-disk IVF index location, keyed by the corpus file
    (path + mtime) and quantizer params: only the FIRST caller
    trains; every later call — bench re-runs, repeated probes, the
    recall harness — is a pruned scan of the persisted inverted
    file. A stale key self-invalidates when the corpus changes."""
    import hashlib
    import tempfile
    from pathlib import Path as _P

    src = _P(sf_dir) / "embeddings.parquet"
    key = hashlib.md5(
        f"{src}|{src.stat().st_mtime_ns if src.exists() else 0}"
        f"|{n_cells}|{iters}".encode()
    ).hexdigest()[:12]
    return str(_P(tempfile.gettempdir()) / f"calaspark_ivf_{key}")


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 at scale, quantizer family: IVF approximate top-10
    neighbors of vec_id=0 — k-means-lite coarse cells (Arrow-matmul
    assignment), exact cosine only inside the nprobe nearest cells.
    The data-adaptive sibling of ann_lsh_topk. Index-reuse shape via
    :func:`_ivf_index_path`.
    """
    from ..ops.ann_ivf import ann_topk_ivf

    e = _corpus_e(spark, sf_dir)
    return ann_topk_ivf(
        e, probe_id=0, k=10, n_cells=16, nprobe=4,
        index_path=_ivf_index_path(sf_dir),
    )

def pandas_udf_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22: Arrow-vectorized pandas UDF next to its built-in twin —
    the output shows they agree; the plan shows why the built-in wins
    (no ArrowEvalPython stage)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(sigmoid_quality_pandas("n_chars"), 6).alias("score_udf"),
        F.round(sigmoid_quality_builtin("n_chars"), 6).alias("score_builtin"),
    )


def udtf_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22: Python UDTF via SQL lateral join (text → token rows),
    restricted to 10 docs — the built-in posexplode twin is q29.

    Session hygiene: the input view gets a per-call unique name
    (uuid4 — safe across threads AND processes sharing a session,
    where a module-global counter is not) and is dropped as soon as
    the plan is analyzed (spark.sql analyzes eagerly), so concurrent
    callers in one session cannot collide; the UDTF registration is
    idempotent (same name, same class).
    """
    view = f"_udtf_docs_{uuid4().hex}"
    d = load_table(spark, sf_dir, "documents")
    d.orderBy("doc_id").limit(10).createOrReplaceTempView(view)
    spark.udtf.register("calaspark_tokenize", TokenizeUDTF)
    try:
        return spark.sql(
            f"""
            SELECT d.doc_id, t.token, t.pos
            FROM {view} d, LATERAL calaspark_tokenize(d.text) t
            """
        )
    finally:
        spark.catalog.dropTempView(view)


def sampling_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E13: seeded Bernoulli sample + stratified sampleBy, summarized
    per segment (sample membership is partition-dependent → rows-only)."""
    c = load_table(spark, sf_dir, "customer")
    plain = c.sample(fraction=0.1, seed=42)
    strat = c.sampleBy(
        "c_mktsegment",
        {s: f for s, f in zip(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            [0.05, 0.10, 0.15, 0.20, 0.25],
        )},
        seed=42,
    )
    a = plain.groupBy("c_mktsegment").agg(F.count("*").alias("n_plain"))
    b = strat.groupBy("c_mktsegment").agg(F.count("*").alias("n_strat"))
    return a.join(b, "c_mktsegment", "full_outer").na.fill(0)


def approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14: HLL approx_count_distinct and percentile_approx next to
    their exact counterparts (error visible in one row).

    The exact distinct count runs in its OWN aggregation, glued to
    the sketch branch by a 1-row broadcast cross join — the
    sketch_error lesson: mixing COUNT(DISTINCT) with object-agg
    functions in one .agg() plans the distinct as a re-aggregation
    whose first two phases KEY ON o_custkey — every HLL register
    set, exact-percentile buffer and KLL sketch is built once PER
    DISTINCT KEY (15k object buffers for a 150k-row global agg;
    plans/r17/approx_sketches_before.txt (2)/(4) `Keys [o_custkey]`
    — measured 2.2 s vs 0.7 s split). The blowup scales with key
    cardinality, not data size,
    so at 100 TB the single-agg form is quadratically worse while
    the split just adds one column-pruned scan. p50_approx's merge
    tree moves with the plan (rows-only demo; its exact twin
    p50_exact is bit-identical and the value stays far inside the
    accuracy-1000 rank envelope)."""
    o = load_table(spark, sf_dir, "orders")
    exact = o.agg(F.count_distinct("o_custkey").alias("nd_exact"))
    sketches = o.agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("nd_hll"),
        F.expr("percentile(o_totalprice, 0.5)").alias("p50_exact"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("p50_approx"),
    )
    return exact.crossJoin(F.broadcast(sketches))  # 1-row scalar join


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E20: binary-payload media table (document text bytes as the
    payload stand-in) → mapInPandas feature extraction. The decode
    plug point is stubbed (no codec libs in container); the Spark
    plumbing — binary column, meta struct, Arrow batching, output
    schema — is the real thing."""
    d = load_table(spark, sf_dir, "documents")
    media = as_media_table(
        d.select("doc_id", F.encode("text", "UTF-8").alias("payload")),
        "doc_id",
        "payload",
    )
    feats = extract_features(media, dim=16)
    return feats.select(
        "media_id",
        "n_bytes",
        F.round(F.aggregate("features", F.lit(0.0), lambda a, x: a + x), 4).alias(
            "feat_l1"
        ),
        F.size("features").alias("feat_dim"),
    )


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: per-document quality features (length/punct/digit/stopword
    ratios + BPE-ish token count) — the cheap pre-filters of a
    training-data pipeline, all codegen expressions."""
    from ..ops.text import bpe_ish_count, quality_features

    d = load_table(spark, sf_dir, "documents")
    out = quality_features(d.select("doc_id", "text"))
    return out.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        bpe_ish_count("text").alias("n_bpe_ish"),
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
        F.round("digit_ratio", 4).alias("digit_ratio"),
        F.round("stopword_ratio_en", 4).alias("stopword_ratio_en"),
    )


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: stopword-ratio language ID per document, summarized as a
    (pred_lang × labeled lang) confusion grid."""
    from ..ops.text import langid_scores

    d = load_table(spark, sf_dir, "documents")
    scored = langid_scores(d.select("doc_id", "lang", "text"))
    return (
        scored.groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
        .orderBy("lang", "pred_lang")
    )


def dedup_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E15+E17 composition — the full dedup pipeline: banded-MinHash
    near-dup pairs → connected components (iterative min-label
    propagation, lineage cut per round) → canonical-survivor
    election. Returns per-cluster sizes; iterative → rows-only."""
    from ..ops.components import connected_components

    docs, dict_key = _word_token_docs(spark, sf_dir)

    # Stage 1 — EXACT collapse before near-dup (the textbook pipeline
    # order): identical token sets form Jaccard-1 cliques, so feeding
    # them to LSH inflates the pair graph quadratically in clique
    # size. One linear groupBy elects a representative per distinct
    # set. The group key is a COMMUTATIVE SET FINGERPRINT — (sum,
    # xor) folds of the per-token xxhash64 — PLUS the token count:
    # order-independent, so the token array never needs the
    # O(n log n)-per-doc `array_sort` the previous hash-of-joined-
    # sorted-tokens key required (nothing downstream needs order
    # either: minhash lanes and array_intersect are both
    # commutative). Two different sets collide only if their hash
    # multisets agree on size AND sum AND xor simultaneously
    # (≈2^-128 per same-size pair) — same standing hash-collision
    # assumption as MinHash banding itself. The collapse shuffle and
    # the doc→rep mapping join still carry fixed-width keys — never
    # the token arrays — and tokenization runs once (materialized).
    # Components are unchanged: identical sets share every band
    # hash, so their edges were guaranteed anyway.
    # Hash the token array ONCE into an intermediate column — both
    # fingerprint folds then read longs instead of each re-running
    # the per-token xxhash64 transform (CollapseProject keeps the
    # non-cheap alias un-inlined, so `_ht` evaluates once per row).
    # sum fold in decimal(38,0): ANSI mode (Spark 4 default) raises
    # on long overflow, and |toks| · 2⁶³ exceeds int64 — decimal is
    # exact and still a fixed-width shuffle key
    hdocs = materialize(
        docs.withColumn("_ht", F.transform("toks", lambda t: F.xxhash64(t)))
        .withColumn(
            "fp",
            F.aggregate(
                "_ht", F.lit(0).cast("decimal(38,0)"), lambda a, x: a + x
            ),
        )
        .withColumn(
            "fpx",
            F.aggregate(
                "_ht", F.lit(0).cast("long"), lambda a, x: a.bitwiseXOR(x)
            ),
        )
        .withColumn("n_toks", F.size("toks"))
        .drop("_ht")
    )
    # Round-18 consumer-count audit: ``groups`` feeds TWO separate
    # actions (rep_docs' checkpoint below and the final rep_map
    # action), each re-running the groupBy over checkpointed hdocs —
    # one checkpoint of the set-grain aggregate replaces the second.
    groups = materialize(
        hdocs.groupBy("fp", "fpx", "n_toks").agg(
            F.min("doc_id").alias("rep_id")
        )
    )
    # rep_docs feeds TWO consumers in neardup_pairs_lsh (signatures
    # + verification) — materialize so the semi-join runs once.
    rep_docs = materialize(
        hdocs.join(
            groups.select(F.col("rep_id").alias("doc_id")), "doc_id", "left_semi"
        ).select("doc_id", "toks")
    )
    rep_map = hdocs.select("doc_id", "fp", "fpx", "n_toks").join(
        groups, ["fp", "fpx", "n_toks"]
    ).select("doc_id", "rep_id")

    # Stage 2 — banded MinHash over representatives only. Tighter
    # bands (4×8 vs the default 8×4): at this demo's higher threshold
    # (0.8) collision probability stays ~90% for true dups while
    # candidate volume drops sharply — band geometry follows the
    # threshold, the standard LSH tuning move.
    # dict_key: rep_docs' vocabulary EQUALS the full corpus word
    # vocabulary (every doc's token set equals its representative's),
    # so the bitmask dictionary is shared with lsh_minhash_pairs —
    # a superset/equal-vocabulary dictionary is exact (see
    # ops/lsh.bitmask_encode).
    pairs = neardup_pairs_lsh(
        rep_docs, threshold=0.8, num_hashes=32, bands=4, dict_key=dict_key
    )

    # Stage 3 — connected components on the representative graph,
    # then broadcast labels back through the doc→rep map. Cluster id
    # = min doc id reachable (reps are per-set minima, so the global
    # cluster minimum is always a representative).
    comp = connected_components(pairs)
    clusters = (
        rep_map.join(
            comp, rep_map["rep_id"] == comp["vertex"], "left"
        )
        .select(
            "doc_id",
            F.coalesce("comp", F.col("rep_id")).alias("cluster"),
        )
        .withColumn("is_canonical", (F.col("doc_id") == F.col("cluster")).cast("int"))
    )
    return (
        clusters.groupBy("cluster")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("is_canonical").cast("long").alias("n_kept"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("cluster").asc())
        .limit(20)
    )


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17×E18: embedding-cosine near-dup pairs (sim ≥ 0.95) via
    SimHash buckets — exact cosine only within buckets.

    The testdata embeddings are near-random (max pairwise cosine
    ≈ 0.51 — no natural near-dups), so like q32 this synthesizes the
    duplicates: each vector is unioned with a deterministically
    perturbed copy (2% rotated-component bleed, cosine ≈ 0.999).
    The operator then finds those pairs without any cartesian —
    candidates come only from SimHash bucket collisions (recall < 1:
    a perturbed twin whose sign bit flips lands elsewhere)."""
    from ..ops.lsh import embedding_neardup_pairs
    from ..ops.pairs import with_rotated_dups

    e = _corpus_e(spark, sf_dir).select("vec_id", "e")
    corpus = with_rotated_dups(e)
    return (
        embedding_neardup_pairs(corpus, threshold=0.95)
        .orderBy(F.col("sim").desc(), "id_a", "id_b")
    )


def ngram_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17/E19: n-gram (3-shingle) Jaccard near-dup pairs via banded
    MinHash — the standard dedup unit (word shingles catch local
    rewrites that bag-of-words misses). Same LSH plan as
    lsh_minhash_pairs, over shingle sets."""
    from ..ops.lsh import neardup_pairs_lsh
    from ..ops.text import with_shingle_hashes

    # hashed shingles (array<long>): set-equivalent to the string
    # form for Jaccard/MinHash, with no per-shingle string allocation;
    # the table is materialized ONCE PER SESSION (_shingled_docs —
    # the compact form a 100 TB pipeline persists before multi-pass
    # LSH): signature build + both verify sides read it instead of
    # re-tokenizing 3×, and no giant interpreted expression is left
    # under the downstream explode/aggregate for the optimizer to
    # clone into constraints
    docs = _shingled_docs(spark, sf_dir)
    # shingle vocab ≈ unique 3-grams of the corpus — far past the
    # bitmask cap; skip the dictionary probe job outright
    return neardup_pairs_lsh(docs, threshold=0.5, use_bitmask=False)


def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19: TF-IDF — tf (term count in doc), df (docs containing
    term), tfidf = tf·ln(N/df); global top-20 (doc, term) pairs.
    ln() is libm-dependent across engines → rows-only; everything
    else is integer-exact. Two aggregations, one self-join on term
    (broadcast: |vocab| rows). N arrives as a broadcast 1-row
    crossJoin (scalar-subquery shape), so the whole query is ONE lazy
    plan — no eager driver-side count()."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count("*").cast("double").alias("_n_docs"))
    terms = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = terms.select("doc_id", "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    out = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    return out.orderBy(
        F.col("tfidf").desc(), "doc_id", "term"
    ).limit(20)


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17 breadth: classic TEXT SimHash near-dup (Charikar) — the
    third dedup family next to MinHash-Jaccard and embedding-cosine.
    64-bit fingerprints from per-bit token votes; banded into 4×16-bit
    exact-match keys, so recall for Hamming ≤ 3 is EXACT (pigeonhole),
    unlike MinHash's probabilistic recall. Verification is one
    bit_count(xor) per candidate — no token arrays cross the shuffle.
    """
    from ..ops.lsh import simhash_neardup_pairs

    # 3-gram shingles, not bag-of-words: SimHash needs enough features
    # that unrelated docs disagree on most bits (small word vocabs
    # make everything collide); hashed form — SimHash only rehashes.
    # Shared session-memoized table (_shingled_docs).
    docs = _shingled_docs(spark, sf_dir)
    return (
        simhash_neardup_pairs(docs, max_hamming=3)
        .orderBy("hamming", "id_a", "id_b")
    )


def arrow_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 Arrow-native boundaries: `mapInArrow` per-doc token stats
    verified against their built-in twins, plus an `applyInArrow`
    per-user aggregate — batches cross as pyarrow RecordBatches with
    no pandas materialization (the zero-copy escape hatch when the
    Python side is itself Arrow-native). One summary row: agreement
    counts prove the Arrow workers match codegen expressions."""
    from ..ops.udf_demos import group_value_sum_arrow, token_stats_arrow_batches

    d = load_table(spark, sf_dir, "documents")
    stats = d.select("doc_id", "text").mapInArrow(
        token_stats_arrow_batches, "doc_id long, n_tokens long, n_chars long"
    )
    builtin = d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("bi_tokens"),
        F.length("text").cast("long").alias("bi_chars"),
    )
    agree = (
        stats.join(builtin, "doc_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum((F.col("n_tokens") == F.col("bi_tokens")).cast("long")).alias(
                "tokens_agree"
            ),
            F.sum((F.col("n_chars") == F.col("bi_chars")).cast("long")).alias(
                "chars_agree"
            ),
        )
    )
    e = load_table(spark, sf_dir, "events")
    users = (
        e.select("user_id", "value")
        .groupBy("user_id")
        .applyInArrow(group_value_sum_arrow, "user_id long, n long, sum_value double")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n").alias("n_events"),
        )
    )
    return agree.crossJoin(users)


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18 evaluation: measured recall@10 of both ANN families (IVF
    coarse-quantizer, SimHash-bucket LSH) against the exact
    brute-force top-10, per probe — the number that justifies (or
    indicts) an approximate index before it ships. Deterministic:
    both index builds are hash-seeded, no RNG.

    Measured on this corpus (near-random embeddings, max pairwise
    cosine ≈ 0.5), the IVF nprobe OPERATING CURVE at sf0.01 is:

        nprobe     1     2     4     8     16 (=all cells)
        recall   3-5   3-6   5-8   7-9     10   (of 10)

    — roughly linear in scan_frac, because k-means cells barely
    structure random vectors: there is no low-nprobe sweet spot on
    THIS corpus (on clustered real embeddings the curve saturates
    early — this harness is how you'd see that). nprobe=16 scans
    everything and must return 10/10 (exactness sanity bound).
    SimHash-bucket LSH recalls ~1 (the probe itself) — hyperplane
    buckets can't co-locate the "nearest" of essentially random
    vectors, while IVF's data-adaptive cells still capture the
    local neighborhood. Exactly the comparison this harness exists
    to surface; the whole 5-point curve costs ONE distributed job
    (per-(probe, cell) top-10s collected once — the nprobe=j answer
    is the driver-side merge of the j best cells' top-10s, which is
    exactly ann_topk_ivf's result because a global top-k over a
    union of cells equals the merge of per-cell top-ks under the
    same (sim desc, id) order).

    The per-probe top-10 lists collected here are k-row,
    driver-sized results of distributed TopK jobs (the same
    legitimate driver state as the IVF centroids) — the scans
    underneath stay fully distributed. Row norms are computed ONCE
    into the materialized table and the probe rides the scan as a
    plan-literal unit vector (`_dot_probe`), so each exact pass is
    one codegen dot + one division per row — the previous
    formulation evaluated three interpreted zip_with/aggregate dots
    per row per probe (incl. the constant probe norm), ~2× the
    whole harness's cost.
    """
    import math

    from ..ops.ann_ivf import _dot_probe, ann_topk_ivf

    e = _corpus_e(spark, sf_dir)

    import numpy as np

    probes = (0, 17)
    # ONE job fetches every probe vector; ONE job computes every
    # exact top-10 (per-probe literal dots ranked in a single scan
    # via a probe-tagged union — each branch is its own TakeOrdered
    # over the shared materialized table, still one Spark job).
    # model-sized harness state: re-collecting the probes cost a job
    qrows = session_memo(
        spark,
        "demos.recall_probes",
        probes,
        lambda: {
            r["vec_id"]: list(r["e"])
            for r in e.filter(F.col("vec_id").isin(list(probes))).collect()
        },
        (table_path(sf_dir, "embeddings"),),
    )
    # probes absent from the corpus (tiny/filtered tables) are skipped
    # rather than KeyError-ing the whole harness
    probes = tuple(p for p in probes if p in qrows)
    exact_branches = []
    for probe in probes:
        qv = qrows[probe]
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        qu = np.asarray([x / qn for x in qv], dtype="float64")
        sim = _dot_probe("e", qu) / F.when(
            F.col("nrm") == 0.0, F.lit(1.0)
        ).otherwise(F.col("nrm"))
        # ranked like the per-cell branch below (4-digit rounded sim,
        # then vec_id), so a near-tie at rank 10 resolves the same way
        # on both sides of the nprobe=16 exactness gate
        exact_branches.append(
            e.select(
                F.lit(probe).alias("probe"), "vec_id", F.round(sim, 4).alias("sim")
            )
            .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
            .limit(10)
        )

    # Round-8 (verdict #5): IVF is measured across the nprobe
    # OPERATING CURVE — recall@10 vs scan_frac (= nprobe/n_cells,
    # the probe-cost proxy) — so a consumer picks nprobe from data,
    # not folklore. nprobe=16 scans every cell and must hit 10/10
    # (the exactness sanity bound); on this near-random corpus the
    # curve is roughly linear in scan_frac (cells barely structure
    # random vectors — there is no low-nprobe sweet spot to find,
    # which is itself the measurement's answer).
    # The whole 5-point curve costs ONE distributed job: per-(probe,
    # cell) top-10 under ann_topk_ivf's exact ordering (rounded sim
    # desc, vec_id) — 2 probes x 16 cells x 10 rows to the driver —
    # then the nprobe=j result is the merge of the top-10s of the j
    # best cells (global-top-k of a cell union == merge of per-cell
    # top-ks; cell ranking is the same driver-side centroid argsort
    # ivf_probe uses, so the measured recall is the REAL operator's).
    from pyspark.sql import Window as _W

    from ..ops.ann_ivf import _unit_rows, load_or_build_ivf_index

    from ..ops.ann_pq import (
        ivfpq_topk,
        load_or_build_ivfpq,
        load_or_build_pq,
        pq_topk,
    )

    src = table_path(sf_dir, "embeddings")
    pq_model, pq_codes = load_or_build_pq(e, src)
    ipq_model, ipq_cc, ipq_cents = load_or_build_ivfpq(
        e, src, _ivf_index_path(sf_dir)
    )

    n_cells = 16
    idx = load_or_build_ivf_index(e, _ivf_index_path(sf_dir))
    inv = spark.read.parquet(idx.invfile_path)
    cell_order: dict[int, list] = {}
    branches2 = []
    for probe in probes:
        qv = qrows[probe]
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        qu = np.asarray([x / qn for x in qv], dtype="float64")
        cell_order[probe] = [
            int(c) for c in np.argsort(-(_unit_rows(idx.centroids) @ qu))
        ]
        vnrm = F.sqrt(
            F.aggregate(F.col("e"), F.lit(0.0), lambda a, v: a + v * v)
        )
        sim = F.round(
            _dot_probe("e", qu)
            / F.when(vnrm == 0.0, F.lit(1.0)).otherwise(vnrm),
            4,
        )
        branches2.append(
            inv.select(
                F.lit(probe).alias("probe"),
                "vec_id",
                F.col("cell").cast("int").alias("cell"),
                sim.alias("sim"),
            )
        )
    u2 = branches2[0]
    for b in branches2[1:]:
        u2 = u2.unionAll(b)
    wcell = _W.partitionBy("probe", "cell").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    cells_df = (
        u2.withColumn("rk", F.row_number().over(wcell))
        .filter(F.col("rk") <= 10)
        .select("probe", "vec_id", "cell", "sim")
    )

    # ONE collect for EVERY candidate list the harness compares
    # (round-17 job fusion, guide §2.6 overlap-independent-jobs): the
    # per-probe exact top-10s, the per-(probe, cell) top-10s, and the
    # six per-(probe, family) top-10s used to run as NINE sequential
    # collect jobs (~1 s fixed cost each on the measured profile —
    # job-sum 2 s vs 9 s wall, the rest driver+scheduling); they are
    # independent branches by construction, so a tagged union computes
    # them all in a single Spark job with identical per-branch plans.
    def _tag(kind: str, meth: str | None, probe: int, df, with_cells=False):
        # one parsed selectExpr per branch (round-18 expression diet)
        return df.selectExpr(
            f"'{kind}' AS k",
            ("CAST(NULL AS STRING) AS m" if meth is None else f"'{meth}' AS m"),
            f"{int(probe)} AS p",
            "vec_id",
            ("cell" if with_cells else "CAST(NULL AS INT) AS cell"),
            ("sim" if with_cells else "CAST(NULL AS DOUBLE) AS sim"),
        )

    all_branches = [
        _tag("exact", None, probe, b)
        for probe, b in zip(probes, exact_branches)
    ]
    all_branches.append(
        cells_df.select(
            F.lit("cell").alias("k"),
            F.lit(None).cast("string").alias("m"),
            F.col("probe").alias("p"),
            "vec_id",
            "cell",
            "sim",
        )
    )
    for probe in probes:
        all_branches.append(
            _tag("fam", "lsh", probe, ann_topk_lsh(e, probe_id=probe, k=10))
        )
        all_branches.append(
            _tag(
                "fam",
                "pq",
                probe,
                pq_topk(
                    e,
                    pq_codes,
                    pq_model,
                    np.asarray(qrows[probe], "float64"),
                    k=10,
                ),
            )
        )
        all_branches.append(
            _tag(
                "fam",
                "ivfpq",
                probe,
                ivfpq_topk(
                    ipq_cc,
                    e,
                    ipq_model,
                    ipq_cents,
                    np.asarray(qrows[probe], "float64"),
                    k=10,
                    nprobe=4,
                ),
            )
        )
    mega = all_branches[0]
    for b in all_branches[1:]:
        mega = mega.unionAll(b)
    collected = mega.collect()
    exact_by_probe: dict[int, set] = {p: set() for p in probes}
    fam_sets: dict[tuple, set] = {
        (m, p): set() for p in probes for m in ("lsh", "pq", "ivfpq")
    }
    cell_top = []
    for r in collected:
        if r["k"] == "exact":
            exact_by_probe[r["p"]].add(r["vec_id"])
        elif r["k"] == "cell":
            cell_top.append(r)
        else:
            fam_sets[(r["m"], r["p"])].add(r["vec_id"])

    rows = []
    for probe in probes:
        exact = exact_by_probe[probe]
        mine = [r for r in cell_top if r["p"] == probe]
        for nprobe in (1, 2, 4, 8, 16):
            chosen = set(cell_order[probe][:nprobe])
            merged = sorted(
                (r for r in mine if r["cell"] in chosen),
                key=lambda r: (-r["sim"], r["vec_id"]),
            )[:10]
            ivf = {r["vec_id"] for r in merged}
            rows.append(
                ("ivf", probe, nprobe, nprobe / n_cells, len(exact & ivf))
            )
        lsh = fam_sets[("lsh", probe)]
        rows.append(("lsh", probe, None, None, len(exact & lsh)))
        pq = fam_sets[("pq", probe)]
        rows.append(("pq", probe, None, None, len(exact & pq)))
        ivfpq = fam_sets[("ivfpq", probe)]
        rows.append(("ivfpq", probe, 4, 4 / n_cells, len(exact & ivfpq)))
        # SELF-RETRIEVAL gates (round-10 verdict #6, made scale-free):
        # the probe vector is IN the corpus, so every family must
        # return it — its own LSH bucket contains it, its own IVF
        # cell ranks first, and its ADC score + exact re-rank put it
        # at the top. Data-independent (holds even on near-random
        # vectors where absolute recall varies corpus to corpus —
        # sf0.001 measures PQ 3/10 where sf0.01 measures 9/10 on the
        # same 500×64 shape), yet any codebook/banding/sign break
        # fails it instantly. The measured sf0.01 ABSOLUTE bounds
        # (PQ ≥ 8/10) are pinned in tests/test_ops.py's gate twin.
        for fam, got in (("lsh", lsh), ("pq", pq), ("ivfpq", ivfpq)):
            if probe not in got:
                raise RuntimeError(
                    f"ANN recall gate: {fam} failed self-retrieval — "
                    f"probe {probe} missing from its own top-10"
                )
    # Exactness identity: nprobe == n_cells scans every cell, so IVF
    # recall there is 10/10 by construction — anything else means the
    # cell assignment / merge logic broke.
    for method, probe, nprobe, _frac, rec in rows:
        if method == "ivf" and nprobe == n_cells and rec != 10:
            raise RuntimeError(
                f"ANN recall gate: IVF nprobe={n_cells} must be exact "
                f"(10/10), got {rec}/10 for probe {probe}"
            )
    return spark.createDataFrame(
        rows,
        "method string, probe_id long, nprobe int, scan_frac double, "
        "recall_at_10 int",
    ).orderBy("method", "probe_id", "nprobe")


def sketch_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14 accuracy harness — the sketch counterpart of `ann_recall`
    (measure, don't guess): HLL `approx_count_distinct` relative
    error vs the exact distinct count, across cardinality regimes
    and rsd settings, in one report.

    Regimes come from the data: per-`o_orderpriority` distinct
    custkeys, per-`o_orderstatus`, and the global count — each
    measured at rsd 0.05 and 0.01. The number that matters is
    `rel_err` against the configured `rsd`: a sketch whose measured
    error blows past its contract is misconfigured for the data,
    and this is the query that would catch it before a 100 TB run
    trusts the sketch. Approximate by design → rows-only.

    Plan: each order row explodes into its three regime labels
    (prio:…, status:…, all); the exact distinct and the two sketches
    are computed in SEPARATE aggregations joined on the 9-row label —
    mixing COUNT(DISTINCT) with HLL aggregates in one agg forces the
    sketches through the distinct's Expand re-aggregation (measured
    5.5 s; split + label join ≈ 1 s).
    """
    o = load_table(spark, sf_dir, "orders")
    labeled = o.select(
        F.explode(
            F.array(
                F.concat(F.lit("prio:"), "o_orderpriority"),
                F.concat(F.lit("status:"), "o_orderstatus"),
                F.lit("all"),
            )
        ).alias("group_label"),
        "o_custkey",
    )
    exact = labeled.groupBy("group_label").agg(
        F.count_distinct("o_custkey").alias("nd_exact")
    )
    approx = labeled.groupBy("group_label").agg(
        F.approx_count_distinct("o_custkey", 0.05).alias("nd_rsd05"),
        F.approx_count_distinct("o_custkey", 0.01).alias("nd_rsd01"),
    )
    agg = exact.join(approx, "group_label")
    return agg.select(
        "group_label",
        "nd_exact",
        "nd_rsd05",
        "nd_rsd01",
        F.round(
            F.abs(F.col("nd_rsd05") - F.col("nd_exact")).cast("double")
            / F.col("nd_exact").cast("double"),
            6,
        ).alias("rel_err_rsd05"),
        F.round(
            F.abs(F.col("nd_rsd01") - F.col("nd_exact")).cast("double")
            / F.col("nd_exact").cast("double"),
            6,
        ).alias("rel_err_rsd01"),
    ).orderBy("group_label")


def pandas_grouped_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E22 completion — the two remaining Python-boundary shapes next
    to their built-in twins: a GROUPED_AGG pandas UDF (weighted mean
    per event type) checked against the codegen ``sum(v·w)/sum(w)``,
    and a grouped-map ``applyInPandas`` z-score whose per-group max
    |z| is re-aggregated JVM-side. Small grouped output; rows-only
    (float UDF arithmetic is not oracle-stable by design)."""
    from ..ops.udf_demos import weighted_mean_agg, zscore_per_group

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", F.col("value").cast("double").alias("v"),
        (F.col("user_id") % 7 + 1).cast("double").alias("w"),
    )
    # Spark forbids mixing a GROUPED_AGG pandas UDF with JVM
    # aggregates in one .agg() (INVALID_PANDAS_UDF_PLACEMENT) — the
    # twin runs as its own aggregation, joined on the group label.
    agg_udf = e.groupBy("event_type").agg(
        F.round(weighted_mean_agg("v", "w"), 6).alias("wmean_udf")
    )
    agg_b = e.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("v") * F.col("w")) / F.sum("w"), 6
        ).alias("wmean_builtin")
    )
    agg = agg_udf.join(agg_b, "event_type")
    z = zscore_per_group(
        e.select("event_type", "event_id", "v"), "event_type", "event_id", "v"
    )
    zz = z.groupBy("event_type").agg(
        F.round(F.max(F.abs(F.col("z"))), 4).alias("max_abs_z"),
        F.count(F.lit(1)).alias("n"),
    )
    return agg.join(zz, "event_type").orderBy("event_type")


def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E17×E18 at scale: SemDeDup (Abbas et al. 2023) — semantic
    dedup that compares embeddings ONLY within k-means cells
    (ops/semdedup.py). Like embedding_neardup, the near-random
    corpus gets synthesized duplicates (2% rotated-component bleed,
    cosine ≈ 0.999); the operator then finds them with quantizer-
    bounded compare work — a twin pair straddling a cell boundary is
    missed BY DESIGN (the published recall trade; the exact
    grid-blocked twin q73 sits beside it, and the within-cell stage
    itself is pinned exact by tests/test_ops.py).

    Output: per-cell summary (n_vecs, n_kept, n_dropped) — 16
    stable rows."""
    from ..ops.pairs import with_rotated_dups
    from ..ops.semdedup import semdedup

    e = _corpus_e(spark, sf_dir).select("vec_id", "e")
    # quantizer trains ONCE per (session, corpus) on a 1-in-4 hash
    # sample, then is reused — corpus-level model state, the ann_ivf
    # build/probe discipline (repeated pipeline runs over the same
    # snapshot retrain nothing); assignment and verify stay exact
    corpus = with_rotated_dups(e)

    def train():
        from ..ops.ann_ivf import train_ivf_centroids

        sample = materialize(
            corpus.filter(
                F.pmod(F.xxhash64(F.col("vec_id").cast("long")), F.lit(4))
                == 0
            ).select("vec_id", "e")
        )
        return train_ivf_centroids(sample, n_cells=16, iters=2)

    cents = session_memo(
        spark,
        "demos.semdedup_centroids",
        (16, 2),
        train,
        (table_path(sf_dir, "embeddings"),),
    )
    labeled = semdedup(
        corpus,
        n_cells=16,
        iters=2,
        threshold=0.95,
        centroids=cents,
    )
    return (
        labeled.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum("is_canonical").cast("long").alias("n_kept"),
            F.sum(1 - F.col("is_canonical")).cast("long").alias("n_dropped"),
        )
        .orderBy("cell")
    )


def hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E18×E19 composition — the canonical RAG retrieval stack in
    one plan: TRUE BM25 lexical top-k (ln idf — libm-dependent, so
    rows-only; q138 is the hash-gated pre-log twin) fused with IVF
    approximate vector top-k (ann_topk_ivf over the shared persisted
    index) by reciprocal rank fusion (q135's oracled operator,
    k = 60). On this synthetic corpus the text query {dup, hash,
    window} and probe vector 0 are independent signals — the point
    is the composed plan: two TakeOrdered candidate lists (model-
    sized), ranked by row_number over ≤50 rows, one full-outer
    equi-join, one fused TakeOrdered. Nothing data-sized crosses a
    single-partition boundary."""
    from ..ops.ann_ivf import ann_topk_ivf
    from ..ops.text import tokens as _toks
    from pyspark.sql import Window as W

    TERMS = ["dup", "hash", "window"]
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _toks("text").alias("toks")
    )
    dl = d.select("doc_id", F.size("toks").cast("bigint").alias("dl"))
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
        * (F.lit(0.25) + F.lit(0.75) * (F.col("dl").cast("double") / avgdl))
    )
    idf = F.log(
        F.lit(1.0)
        + ((F.col("nd") - F.col("dfd")) + F.lit(0.5))
        / (F.col("dfd") + F.lit(0.5))
    )
    lex = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(dft), "tok")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(F.sum(idf * sat).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(50)
    )
    ev = _corpus_e(spark, sf_dir)
    vec = ann_topk_ivf(
        ev, probe_id=0, k=10, n_cells=16, nprobe=4,
        index_path=_ivf_index_path(sf_dir),
    ).select(F.col("vec_id").alias("doc_id"), "sim")
    # Both lists are ≤50 rows of model-sized state — the row_number
    # windows are k-row single-partition by construction.
    rl = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("r_lex"),
    )
    rv = vec.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("sim").desc(), F.col("doc_id").asc()))
        .alias("r_vec"),
    )
    fused = rl.join(rv, "doc_id", "full").select(
        "doc_id",
        "r_lex",
        "r_vec",
        (
            F.coalesce(1.0 / (F.lit(60.0) + F.col("r_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(60.0) + F.col("r_vec")), F.lit(0.0))
        ).alias("rrf"),
    )
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", "r_lex", "r_vec", F.round("rrf", 6).alias("rrf"))
    )


def cms_shingle_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E14, frequency-sketch half (beside sketch_error's HLL
    cardinality half): count-min estimates of 3-token-shingle
    frequencies vs their exact counts, error MEASURED over every
    distinct shingle. Width 256 on a multi-thousand-key domain makes
    collisions real — the report shows the one-sided error the
    depth-min bounds: share of keys overestimated, mean/max absolute
    and relative overestimate (est ≥ exact ALWAYS; the property test
    in test_ops pins the invariant). Rows-only (xxhash64 buckets
    have no SQL oracle); 1 summary row."""
    from ..ops.cms import cms_counters, cms_estimate
    from ..ops.ssjoin import shingle_rows

    d = spread(load_table(spark, sf_dir, "documents"))
    # occurrence stream: NON-distinct shingles (id-grain explode)
    raw = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    tr = d.select("doc_id", F.posexplode(raw).alias("pos", "tok"))
    from pyspark.sql import Window as W

    wd = W.partitionBy("doc_id").orderBy("pos")
    l1, l2 = F.lead("tok", 1).over(wd), F.lead("tok", 2).over(wd)
    occ = materialize(
        tr.select(
            F.concat_ws(" ", F.col("tok"), l1, l2).alias("g"),
            l2.alias("_last"),
        )
        .filter(F.col("_last").isNotNull())
        .select("g")
    )
    DEPTH, WIDTH = 4, 256
    counters = cms_counters(occ, "g", depth=DEPTH, width=WIDTH)
    exact = occ.groupBy("g").agg(F.count(F.lit(1)).alias("exact"))
    est = cms_estimate(counters, exact, "g", depth=DEPTH, width=WIDTH)
    j = est.join(exact, "g").select(
        "g", "est", "exact", (F.col("est") - F.col("exact")).alias("over")
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("exact").alias("n_occurrences"),
        F.count_if(F.col("over") > 0).alias("n_overestimated"),
        F.count_if(F.col("over") < 0).alias("n_underestimated"),
        F.round(F.avg("over"), 3).alias("mean_over"),
        F.max("over").alias("max_over"),
        F.round(
            F.max(F.col("over").cast("double") / F.col("exact")), 3
        ).alias("max_rel_over"),
    )


def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19/E22 — distributed BPE tokenizer TRAINING (rows-only): 8
    merge rounds over the documents word dictionary via
    `ops/bpe.bpe_train` (q77 is the per-round counter; this is the
    loop). Every round is one dictionary-sized job + a 1-row argmax
    collect (model state); merges are fully data-determined by the
    (count DESC, left ASC, right ASC) total order, so the output is
    deterministic — the iterative data-dependent loop itself is why
    no SQL oracle exists (the q80/q96 recursive-CTE trick covers
    fixed graphs, not a vocabulary that rewrites itself each round);
    the exact merge sequence on a hand-computed corpus is pinned in
    tests/test_ops.py.
    """
    from ..ops.bpe import bpe_train

    d = load_table(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=8)
    return spark.createDataFrame(
        merges, "merge_round int, left string, right string, n long"
    )


def bpe_encode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E19 — BPE ENCODE at dictionary grain (rows-only companion to
    the hash-gated q189): apply the pinned fixed merge table
    (ops/bpe.BPE_FIXED_MERGES) to the corpus word dictionary and emit
    the 50 most frequent words with their encoded symbol sequences —
    the word→ids artifact a tokenizer pipeline memoizes before
    streaming the corpus through it. Total order (corpus count DESC,
    word ASC) makes the LIMIT deterministic; the oracled per-doc
    rollup lives in q189.
    """
    from .advanced import _bpe_encoded_dict

    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tokens("text")).alias("tok"))
        .select(F.regexp_replace(F.lower("tok"), "[^a-z]", "").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        _bpe_encoded_dict(spark, sf_dir)
        .join(counts, "w")
        .select(
            "w",
            F.array_join("syms", " ").alias("bpe_tokens"),
            "n_tok",
            "n",
        )
        .orderBy(F.col("n").desc(), F.col("w").asc())
        .limit(50)
    )
