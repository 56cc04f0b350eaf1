"""LSH operators — the 100 TB-scale near-dup and ANN paths
(SURVEY.md §2.5 E17/E18; round-1 verdict's top LLM-pipeline gap).

The declared exact queries (q33 Jaccard pairs, q34 cosine top-k) are
O(n²) / full-scan by definition. These operators are the scale
substitutes:

- :func:`minhash_signatures` + :func:`minhash_candidate_pairs`:
  banded MinHash LSH. Docs land in buckets keyed by (band_id,
  band_hash); only within-bucket pairs are compared, so the pair
  space is pruned from O(n²) to the collision volume. The shuffle is
  a plain hash partition on the band key — no cartesian, no
  broadcast of the corpus, skew bounded by bucket size.
- :func:`neardup_pairs_lsh`: candidates verified with EXACT Jaccard
  (join back to token sets) — LSH only prunes, the emitted pairs are
  exact, so output ⊆ q33's output with recall < 1 (tunable via
  bands/rows).
- :func:`hyperplane_buckets` + :func:`ann_topk_lsh`: random-
  hyperplane (SimHash) buckets for cosine ANN. Sign-bit signatures
  from FIXED seeded planes (driver-side literals — a few KB broadcast
  with the plan), candidates from the probe's bucket, exact cosine
  re-rank on the candidates only.

Everything is built-in `pyspark.sql.functions` expressions —
signatures are higher-order-function folds over the token/embedding
arrays inside whole-stage codegen; determinism comes from xxhash64
and the fixed seed, so results are stable across partitionings.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..memo import session_memo
from .materialize import materialize

_I64_MAX = (1 << 63) - 1


def _f64_sql(x: float) -> str:
    """Exact SQL double literal: ``repr`` is the shortest decimal that
    round-trips, and Spark parses double literals correctly rounded,
    so the parsed value is BIT-IDENTICAL to ``F.lit(float(x))``
    (verified incl. -0.0 / denormals / max double)."""
    return f"{float(x)!r}D"


def _f64_array_sql(xs) -> str:
    """SQL text of a literal double array.

    ONE py4j round-trip regardless of length — the optimization-round
    fix for the measured driver cost of ``F.array(*[F.lit(x) ...])``
    (~1 ms/py4j call × dim × planes: ann_recall spent 9 s of its
    12 s building expression trees; guide §1 "measure first" + §7.3
    driver-side work)."""
    return "array(" + ",".join(_f64_sql(x) for x in xs) + ")"


def _dot_lit_sql(vec_sql: str, plane: list[float]) -> str:
    """SQL text of the index-ordered double dot product of an array
    column with a literal plane vector — same fold expression
    :func:`_dot_lit` built column-by-column."""
    return (
        f"aggregate(zip_with({vec_sql}, {_f64_array_sql(plane)}, "
        f"(a, b) -> a * b), 0.0D, (acc, v) -> acc + v)"
    )


def _dot_lit(e: Column, plane: list[float]) -> Column:
    """Index-ordered double dot product of an array column with a
    literal plane vector."""
    lit_plane = F.array(*[F.lit(float(x)) for x in plane])
    return F.aggregate(
        F.zip_with(e, lit_plane, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _cosine(a: Column, b: Column) -> Column:
    """Exact cosine; both sides already double arrays."""

    def dot(x: Column, y: Column) -> Column:
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p * q),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


# ------------------------------------------------- bitmask encoding


def bitmask_encode(
    t: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    max_vocab: int = 512,
    dict_key: tuple[str, tuple[str, ...]] | None = None,
) -> tuple[DataFrame, int] | None:
    """Dictionary-encode token sets to fixed-width bitmasks.

    Builds a token→bit dictionary from the data (a tiny broadcast
    dim), then one groupBy produces columns ``m0..m{W-1}`` (W =
    ⌈|vocab|/64⌉ longs) per id, plus ``nt`` = |set|. Set intersection
    then costs W AND+popcount ops per pair instead of a per-pair
    string hash-set build (~15× on pair-heavy plans).

    Returns None when the vocabulary exceeds ``max_vocab`` — callers
    fall back to ``array_intersect``. The vocabulary count is one
    tiny Spark job at plan time.

    ``dict_key``: ``(name, source paths)`` naming ``t``'s token
    VOCABULARY as a function of those sources; the dictionary (model
    state, not query results) is then session-memoized. Any consistent
    token→bit assignment yields identical intersection counts, and a
    dictionary over a vocabulary superset is exact too (absent tokens
    never set bits), so callers whose inputs share a vocabulary may
    share a key.
    """
    def build() -> tuple:
        terms = t.select(F.explode(tokens_col).alias("tok")).distinct()
        n_vocab = terms.count()
        if n_vocab > max_vocab:
            return None, 0
        from pyspark.sql import Window

        dim = terms.withColumn(
            "bit", F.row_number().over(Window.orderBy("tok")) - 1
        )
        if dict_key is not None:
            dim = materialize(dim)
        return dim, max(1, (n_vocab + 63) // 64)

    if dict_key is None:
        dim, n_words = build()
    else:
        name, sources = dict_key
        dim, n_words = session_memo(
            t.sparkSession, "lsh.bitmask_dict", (name, max_vocab), build, sources
        )
    if dim is None:
        return None
    enc = (
        # explode_outer + left join keeps empty-set ids (all-zero mask)
        t.select(
            F.col(id_col), F.size(tokens_col).alias("nt"),
            F.explode_outer(tokens_col).alias("tok"),
        )
        .join(F.broadcast(dim), "tok", "left")
        .groupBy(id_col, "nt")
        .agg(
            *[
                F.sum(
                    F.when(
                        (F.col("bit") >= 64 * wi) & (F.col("bit") < 64 * (wi + 1)),
                        F.expr("shiftleft(CAST(1 AS BIGINT), bit % 64)"),
                    ).otherwise(F.lit(0).cast("long"))
                ).alias(f"m{wi}")
                for wi in range(n_words)
            ]
        )
    )
    return enc, n_words


def popcount_inter(n_words: int, left: str, right: str) -> Column:
    """|A∩B| from two sides' bitmask columns (AND + popcount)."""
    return sum(
        F.bit_count(F.col(f"{left}.m{wi}").bitwiseAND(F.col(f"{right}.m{wi}")))
        for wi in range(n_words)
    ).cast("int")


# ----------------------------------------------------------- MinHash


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    num_hashes: int = 32,
) -> DataFrame:
    """id → MinHash signature (array<long> of length ``num_hashes``).

    Hash family: ``xxhash64(i, token)`` — seeding by prepending the
    hash index as a column, so one JVM hash function yields
    ``num_hashes`` independent permutation surrogates. Each signature
    lane is a fold (min) over the token array: pure projection,
    no explode, no shuffle.

    Two alternatives were MEASURED and rejected (round 7):

    - explode → ``num_hashes`` MIN-agg columns (q95's shape): the
      per-doc hash-fold cost is a wash at this corpus's ~23-token
      arrays, but the aggregation's id-keyed exchange is tiny
      (signature-sized), so AQE coalesces it to ONE partition — and
      the downstream band self-join then fans 8M candidate rows out
      of a single task (13 s vs 4.5 s end-to-end). The projection
      shape inherits the scan's partitioning and never hits that
      cliff.
    - affine lanes ``(A_k·h + B_k) mod P`` over one base hash: the
      shared ``h`` correlates the lanes (the min-h token tends to
      win every lane), so band hashes collide across barely-similar
      docs and the candidate set explodes (7× slower at t=0.5).
    """
    # The whole signature array is ONE parsed expression (single py4j
    # round-trip) instead of num_hashes Column-built folds (~50 ms of
    # driver time per build, paid on every bench run and every
    # consumer — the round-17 expression-build fix; semantics
    # unchanged: int literal seed + L-suffixed long init match the
    # former F.lit types exactly).
    lanes = ",".join(
        f"aggregate(`{tokens_col}`, {_I64_MAX}L, "
        f"(acc, t) -> least(acc, xxhash64({i}, t)))"
        for i in range(num_hashes)
    )
    return docs.select(F.col(id_col), F.expr(f"array({lanes})").alias("sig"))


def minhash_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 8,
    rows_per_band: int = 4,
) -> DataFrame:
    """LSH banding: two docs are candidates iff some band of their
    signatures collides. Returns distinct (id_a < id_b) pairs.

    Plan shape: explode to (band_id, band_hash, id) — ``bands`` rows
    per doc — then a self-equi-join on the band key. At 100 TB this
    is the standard shuffle-on-bucket join; skewed buckets (near-
    identical boilerplate docs) are exactly the pairs we want, and
    AQE skew-join splits them.

    The band table is MATERIALIZED before the self-join: both join
    sides read the same narrow (id, band_id, band_hash) blocks, so
    the signature lineage (tokenize + ``num_hashes`` hash folds —
    the expensive projection) computes ONCE instead of once per
    side. The write is ``bands`` fixed-width rows per doc — far
    cheaper than re-running the folds at any scale — and
    checkpointing preserves the upstream partitioning, so the join
    output stays spread across the scan's partitions (an
    aggregation here would let AQE coalesce the tiny table to one
    partition and fan the candidate join out of a single task).
    """
    from .materialize import materialize

    assert bands * rows_per_band <= 64  # keep within a demo signature
    # One parsed expression for the whole band array (expression-build
    # fix, see minhash_signatures): `sig[i]` is GetArrayItem exactly
    # like .getItem(i), the int seed literal matches F.lit(j).
    band = F.explode(
        F.expr(
            "array("
            + ",".join(
                f"struct({j} AS band_id, xxhash64({j}, "
                + ",".join(
                    f"`sig`[{j * rows_per_band + r}]"
                    for r in range(rows_per_band)
                )
                + ") AS band_hash)"
                for j in range(bands)
            )
            + ")"
        )
    )
    b = materialize(
        sigs.select(F.col(id_col), band.alias("b")).select(
            id_col,
            F.col("b.band_id").alias("band_id"),
            F.col("b.band_hash").alias("band_hash"),
        )
    )
    l, r = b.alias("l"), b.alias("r")
    return (
        l.join(
            r,
            (F.col("l.band_id") == F.col("r.band_id"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def neardup_pairs_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    use_bitmask: bool = True,
    dict_key: tuple[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Banded-MinHash candidates, then EXACT Jaccard verification.

    Output: (id_a, id_b, n_inter, n_union, sim) with sim ≥ threshold
    — a subset of the exact q33 result (LSH recall), produced without
    ever forming the full pair space. The threshold test is integer
    arithmetic (no float admission), mirroring q33.

    ``use_bitmask=False`` skips the bitmask-dictionary probe — callers
    whose token space is known to dwarf the 512-term cap (e.g. n-gram
    shingles: |vocab| ≈ corpus-unique shingles) avoid paying a full
    explode+distinct vocabulary job just to learn "too big".
    """
    rows_per_band = num_hashes // bands
    # integer admission: inter/un >= t  ⟺  inter >= t*un (t rational)
    num, den = int(round(threshold * 10000)), 10000
    sigs = minhash_signatures(docs, id_col, tokens_col, num_hashes)
    cand = minhash_candidate_pairs(sigs, id_col, bands, rows_per_band)

    def size_prefilter(j: DataFrame, nt_a, nt_b) -> DataFrame:
        # J = |∩|/|∪| ≤ min(n_a,n_b)/max(n_a,n_b), so a size ratio
        # below the threshold can never pass — drop the pair on two
        # integers BEFORE paying the set intersection (the standard
        # dedup size filter; exact, a necessary condition only).
        return j.filter(F.least(nt_a, nt_b) * den >= F.greatest(nt_a, nt_b) * num)

    encoded = (
        bitmask_encode(docs, id_col, tokens_col, dict_key=dict_key)
        if use_bitmask
        else None
    )
    if encoded is not None:  # small-vocab fast path for verification
        enc, n_words = encoded
        # Both verify sides broadcast this table — materialize so the
        # explode + dictionary join + bitmask aggregation runs once,
        # not once per broadcast build (id-grain rows, model-sized).
        enc = materialize(enc)
        a = enc.withColumnRenamed(id_col, "id_a").alias("va")
        b = enc.withColumnRenamed(id_col, "id_b").alias("vb")
        j = cand.join(a, "id_a").join(b, "id_b")
        j = size_prefilter(j, F.col("va.nt"), F.col("vb.nt"))
        inter = popcount_inter(n_words, "va", "vb")
        un = F.col("va.nt") + F.col("vb.nt") - inter
    else:
        # Large-vocab fallback: verify on 64-BIT-HASHED token sets,
        # not the string arrays — the candidate join then shuffles
        # fixed-width longs and `array_intersect` compares longs
        # instead of strings. Jaccard over xxhash64-hashed sets
        # equals Jaccard over the sets themselves up to hash
        # collisions (≈ |toks|²·2⁻⁶⁴ per doc — the same standing
        # assumption MinHash banding already makes).
        # Materialized once — both verify sides read the hashed sets.
        t = materialize(
            docs.select(
                F.col(id_col),
                F.array_distinct(
                    F.transform(F.col(tokens_col), lambda x: F.xxhash64(x))
                ).alias("htoks"),
            ).select(F.col(id_col), "htoks", F.size("htoks").alias("nt"))
        )
        a = t.select(
            F.col(id_col).alias("id_a"),
            F.col("htoks").alias("toks_a"),
            F.col("nt").alias("nt_a"),
        )
        b = t.select(
            F.col(id_col).alias("id_b"),
            F.col("htoks").alias("toks_b"),
            F.col("nt").alias("nt_b"),
        )
        j = cand.join(a, "id_a").join(b, "id_b")
        j = size_prefilter(j, F.col("nt_a"), F.col("nt_b"))
        inter = F.size(F.array_intersect("toks_a", "toks_b"))
        un = F.col("nt_a") + F.col("nt_b") - inter
    return (
        j.select(
            "id_a",
            "id_b",
            inter.cast("long").alias("n_inter"),
            un.cast("long").alias("n_union"),
        )
        .filter(F.col("n_inter") * den >= F.col("n_union") * num)
        .withColumn(
            "sim",
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union").cast("double"),
                4,
            ),
        )
    )


# ------------------------------------------------------- SimHash ANN


_SM64_MASK = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """SplitMix64 finalizer (public-domain constants): full-avalanche
    64-bit mix, so nearby inputs give statistically independent
    outputs."""
    z = (x + 0x9E3779B97F4A7C15) & _SM64_MASK
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _SM64_MASK
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _SM64_MASK
    return z ^ (z >> 31)


def _planes(dim: int, nbits: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes WITHOUT numpy's global
    state. Each component derives INDEPENDENTLY from splitmix64 of a
    distinct (seed, i, j) index — full avalanche, so plane i+1 is not
    a shift of plane i and within-plane components are not a Weyl
    sequence (a linear congruence here correlates the planes and
    degrades bucket balance / the (1-θ/π)^nbits recall model).
    Literal-sized: nbits × dim floats ship inside the plan."""
    out = []
    for i in range(nbits):
        row = []
        for j in range(dim):
            h = _splitmix64(_splitmix64(seed * 0x51_7CC1B7 + i) ^ j)
            # top 32 bits → [-1, 1)
            row.append((h >> 32) / (1 << 31) - 1.0)
        out.append(row)
    return out


def hyperplane_buckets(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    dim: int = 64,
    nbits: int = 12,
    seed: int = 42,
) -> DataFrame:
    """id → SimHash bucket (long): sign bits of ``nbits`` fixed
    hyperplane projections. Cosine-similar vectors collide with high
    probability; bucket cardinality ≈ n / 2^nbits controls candidate
    volume. Pure projection — the planes are plan literals."""
    planes = _planes(dim, nbits, seed)
    # The whole bucket expression parses as ONE py4j round-trip
    # (expression-build fix): previously nbits × (dim F.lit calls +
    # fold construction) ≈ 2.6 s of pure driver time per build for
    # nbits=12/dim=64 (measured via cProfile in ann_recall). CASE WHEN
    # mirrors F.when/otherwise; bare int literals match F.lit's types.
    bucket = " + ".join(
        f"(CASE WHEN {_dot_lit_sql(f'`{vec_col}`', p)} > 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    return emb.select(
        F.col(id_col), F.col(vec_col), F.expr(bucket).alias("bucket")
    )


def ann_topk_lsh(
    emb: DataFrame,
    probe_id: int,
    id_col: str = "vec_id",
    vec_col: str = "e",
    k: int = 10,
    dim: int = 64,
    nbits: int = 12,
) -> DataFrame:
    """Approximate top-k neighbors of one probe vector.

    Plan: bucket everything (projection), broadcast the probe's
    1-row bucket, equi-join on bucket (only the colliding fraction
    of the corpus is scanned for exact cosine), TopK. At 100 TB with
    nbits sized so buckets hold ~10⁴ vectors, the exact re-rank
    touches 10⁻⁵ of the corpus. Recall < 1 (single-probe LSH);
    multi-probe = union over neighboring buckets.
    """
    all_b = hyperplane_buckets(emb, id_col, vec_col, dim, nbits)
    probe = all_b.filter(F.col(id_col) == probe_id).select(
        F.col("bucket").alias("bucket"),
        F.col(vec_col).alias("qe"),
    )
    cand = all_b.join(F.broadcast(probe), "bucket")
    # One parsed expression instead of three Column-built lambda
    # folds (round-17 expression-build fix; 0.0D keeps the
    # accumulators DOUBLE — identical IEEE op order to the F.lit
    # form in _cosine).
    dot_sql = (
        "aggregate(zip_with({x}, {y}, (p, q) -> p * q), 0.0D, "
        "(acc, v) -> acc + v)"
    )
    sim = F.round(
        F.expr(
            f"({dot_sql.format(x=f'`{vec_col}`', y='qe')}) / "
            f"(sqrt({dot_sql.format(x=f'`{vec_col}`', y=f'`{vec_col}`')}) * "
            f"sqrt({dot_sql.format(x='qe', y='qe')}))"
        ),
        4,
    )
    return (
        cand.select(F.col(id_col), sim.alias("sim"))
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "e",
    threshold: float = 0.95,
    dim: int = 64,
    nbits: int = 8,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via SimHash bucketing (E18×E17).

    The vector twin of MinHash near-dup: bucket on sign-bit
    signatures, exact-cosine only within buckets (id_a < id_b), keep
    pairs ≥ threshold. Recall < 1 by construction (cosine-similar
    pairs collide with probability (1 - θ/π)^nbits); the pair space
    never materializes across buckets — the same
    shuffle-on-bucket-key plan as the text LSH.
    """
    b = hyperplane_buckets(emb, id_col, vec_col, dim, nbits)
    # Precompute each vector's norm ONCE (n folds) instead of folding
    # both self-dots inside every pair (3 folds/pair → 1 fold/pair —
    # the pair volume dwarfs n, so this is the dominant-term fix).
    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda acc, v: acc + v * v
        )
    )
    b = b.withColumn("nrm", nrm)
    l = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("ea"),
        F.col("nrm").alias("na"),
    )
    r = b.select(
        F.col("bucket"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = l.join(r, "bucket").filter(F.col("id_a") < F.col("id_b"))
    dot = F.aggregate(
        F.zip_with("ea", "eb", lambda p, q: p * q),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim = dot / (F.col("na") * F.col("nb"))
    return (
        pairs.select("id_a", "id_b", F.round(sim, 4).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ------------------------------------------------------ text SimHash


def simhash64(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
) -> DataFrame:
    """id → 64-bit SimHash (Charikar) of the token set.

    Plan: explode tokens, hash each ONCE (xxhash64), then one
    groupBy(id) computing 64 per-bit ±1 vote sums — plain int
    aggregates with map-side partial aggregation, so the shuffle
    carries 64 ints per id per task, not per-token rows. The
    fingerprint assembles driver-side from literal-shift terms
    (bit 63 contributes the two's-complement negative weight).
    """
    h = docs.select(F.col(id_col), F.explode(tokens_col).alias("t")).select(
        id_col, F.xxhash64("t").alias("h")
    )
    # All 64 vote sums AND the fingerprint assembly in ONE parsed
    # aggregate expression (expression-build fix — the Column-built
    # form cost ~500 py4j round-trips ≈ 0.6 s of driver time per
    # build). shiftleft(bit, i) equals bit·2^i for i < 63 and the
    # two's-complement negative weight at i = 63 (1L<<63 is the min
    # long), so every term matches the former bit·F.lit(±2^i)
    # bit for bit; the plan fuses assembly into the aggregate's
    # result projection — same shuffle (64 int partials per id).
    terms = " + ".join(
        "shiftleft(CASE WHEN sum(((shiftright(`h`, {i}) & 1) * 2) - 1) > 0 "
        "THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END, {i})".format(i=i)
        for i in range(64)
    )
    return h.groupBy(id_col).agg(F.expr(terms).alias("simhash"))


def simhash_neardup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "toks",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Text-SimHash near-dup pairs: band the 64-bit fingerprint into
    ``n_bands`` exact-match keys, candidate-join within bands, verify
    by exact Hamming distance (``bit_count(xor)``).

    Unlike MinHash banding, recall here is EXACT by pigeonhole: with
    4 bands of 16 bits, ≤3 differing bits cannot touch all 4 bands,
    so every pair within ``max_hamming`` ≤ ``n_bands``-1 shares at
    least one band key. Same shuffle-on-bucket plan as the other LSH
    operators — no cartesian.
    """
    assert max_hamming < n_bands, "exact recall needs max_hamming < n_bands"
    assert 64 % n_bands == 0
    width = 64 // n_bands
    mask = (1 << width) - 1
    # Materialize the fingerprint table once: both self-join branches
    # would otherwise recompute the whole tokenize+vote lineage. At
    # 16 bytes/doc this is the table a 100 TB pipeline would persist
    # to storage anyway (fingerprints are reused across runs).
    sh = materialize(simhash64(docs, id_col, tokens_col))
    band = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(j).alias("band_id"),
                    F.shiftright("simhash", j * width)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for j in range(n_bands)
            ]
        )
    )
    b = sh.select(id_col, "simhash", band.alias("b")).select(
        id_col,
        "simhash",
        F.col("b.band_id").alias("band_id"),
        F.col("b.band_val").alias("band_val"),
    )
    l = b.select(
        F.col(id_col).alias("id_a"),
        F.col("simhash").alias("sh_a"),
        "band_id",
        "band_val",
    )
    r = b.select(
        F.col(id_col).alias("id_b"),
        F.col("simhash").alias("sh_b"),
        "band_id",
        "band_val",
    )
    cand = (
        l.join(r, ["band_id", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
