"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash,
embedding-cosine — the dedup family a 100 TB training-data pipeline
needs.  (The reference concatenates uploads without dedup,
``utils/file_utils.py:413`` — absent there, first-class here.)

Scale shapes:
- exact: hash-groupBy (one shuffle of (hash, id) pairs, not texts).
- n-gram Jaccard: shingle-explode self-join — the join key is the
  shingle hash, so co-occurring docs meet without all-pairs.
- MinHash+LSH: 64 permutations, banded into 16 buckets; exact Jaccard
  verifies the candidates.
- SimHash: 60-bit signature via per-bit majority vote, one groupBy;
  four 15-bit chunks are its bands; exact hamming verifies.
- embedding cosine: SRP-LSH band keys; exact cosine verifies.  The
  brute-force crossJoin stays as the small-scale oracle.

The three banded schemes share one bucket-pair path,
:func:`_bucket_pairs`: (id, band, key) rows → distinct candidate pairs.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window as W, functions as F, types as T

from parserpdf_spark.operators.bounded import collect_bounded, filter_ids, local_df

# A cross-engine 60-bit token hash: md5 hex prefix → bigint.  Spark's
# xxhash64/hash have no DuckDB twin; md5 exists in both, and 15 hex
# chars (60 bits) always fit a signed 64-bit int.
def md5_60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def _tokenized(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, toks) for docs with ≥ n tokens of ``text`` — the token
    array is projected ONCE into a column so downstream gram expressions
    reuse it (the inline form re-evaluated the split per referencing
    expression: size, transform and filter each paid it).  Built as one
    selectExpr string — the per-Column form cost ~15 py4j round trips per
    query construction for the identical expression tree."""
    return docs.selectExpr(
        "doc_id",
        "filter(split(lower(text), ' '), x -> x != '') as toks",
    ).filter(f"size(toks) >= {int(n)}")


# word n-gram size of the near-dup schemes: Jaccard and MinHash must
# shingle alike, or the MinHash candidates miss Jaccard pairs
SHINGLE_N = 3


def _shingles_sql(n: int) -> str:
    """The distinct word n-grams of :func:`_tokenized`'s ``toks`` as one
    array, built with JVM-side array ops (transform over token index
    ranges).  :func:`word_shingles` explodes it in the same projection:
    in a projection of its own it was evaluated on docs the ``size(toks)
    >= n`` filter drops, where ``slice`` raises on a start of 0."""
    return (
        "array_distinct(transform("
        f"sequence(0, size(toks) - {int(n)}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {int(n)}))"
        "))"
    )


def word_shingles(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) — distinct word n-grams per doc of ``text``.
    Docs with fewer than ``n`` tokens yield no shingles (matching the SQL
    formulation ``range(len - n + 1)``; a truncated partial gram would
    silently diverge from the oracle)."""
    return _tokenized(docs, n).selectExpr(
        "doc_id", f"explode({_shingles_sql(n)}) as shingle"
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    only_pairs: DataFrame | None = None,
) -> DataFrame:
    """Exact :data:`SHINGLE_N`-gram Jaccard similar pairs over ``text``.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥
    threshold, rounded to 6 dp.

    Without ``only_pairs`` (the all-pairs oracle shape): shingle-explode
    self-join — the join key is the shingle, so cost is Σ |bucket|² over
    shingles, not |corpus|².

    ``only_pairs`` (doc_a, doc_b) restricts the computation to candidate
    pairs, and switches to the per-pair shape (r6): each candidate pair
    joins the two docs' DISTINCT-shingle arrays and the intersection is
    computed array-locally — no shingle explode, no self-join, so the
    verify does O(|shingles|) work per pair instead of Σ |bucket|² over
    the candidate docs' shingles.  The old self-join verify degraded
    quadratically when candidates clustered (many docs sharing the same
    shingles — exactly what near-dup candidates do, and a hot shingle is
    a skew key for the join); the array form is linear in candidate
    count and immune to hot shingles.  Output is identical: same
    distinct-shingle sets, same |∩| / (|a|+|b|−|∩|) formula, same
    rounding (oracle-parity tested).
    """
    if only_pairs is not None:
        # ONE bounded collect of the candidate PAIRS themselves
        # (operators/bounded.py).  Two things follow from it:
        # - the candidate-doc restriction becomes an id filter that
        #   pushes through union/repartition into the parquet scan
        #   (PushedFilters: In(doc_id, …)) — the verify re-reads
        #   O(candidate docs), not O(corpus);
        # - the pair list becomes a LocalRelation, so the verify's plan
        #   carries ZERO reference to the candidate lineage.  This
        #   matters: the LSH banding that produces the pairs is
        #   the most expensive subtree in the job, and referencing
        #   ``only_pairs`` from the verify plan re-evaluated it (one
        #   extra banding pass per reference, measured ~3 s of a 4 s verify
        #   at the 50k-doc scale).
        # Past the budget, the lazy plan-shaped fallback keeps the
        # semi-join form.
        # the doc_a < doc_b orientation filter runs IN SPARK before the
        # collect so pair comparison semantics (e.g. string ordering)
        # are the engine's, identical to the old grouped-self-join path;
        # de-duplication is plain equality — engine-agnostic, so it runs
        # in Python on the collected rows (no extra distinct shuffle)
        pairs = only_pairs.select("doc_a", "doc_b").filter(
            F.col("doc_a") < F.col("doc_b")
        )
        pair_rows = collect_bounded(pairs)
        if pair_rows is not None:
            local_pairs = list({(r["doc_a"], r["doc_b"]) for r in pair_rows})
            ids = sorted({x for p in local_pairs for x in p})
            docs = filter_ids(docs, "doc_id", ids)
            cand = local_df(docs.sparkSession, local_pairs, pairs.schema)
        else:
            cand_docs = (
                pairs.select(F.col("doc_a").alias("doc_id"))
                .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
                .distinct()
            )
            docs = filter_ids(docs, "doc_id", cand_docs)
            # the grouped self-join emitted one row per distinct pair
            # regardless of input multiplicity
            cand = pairs.distinct()
        # distinct-shingle ARRAY per candidate doc (never exploded)
        arrs = _tokenized(docs, SHINGLE_N).selectExpr(
            "doc_id", f"{_shingles_sql(SHINGLE_N)} as sh"
        )
        pa = arrs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        pb = arrs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        denom = F.size(F.col("sh_a")) + F.size(F.col("sh_b")) - inter
        return (
            cand.join(pa, "doc_a")
            .join(pb, "doc_b")
            .withColumn(
                "jaccard",
                F.round(inter.cast("double") / denom.cast("double"), 6),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
    sh = word_shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
NUM_PERMS = 64
NUM_BANDS = 16  # 16 bands × 4 rows


_MERSENNE31 = (1 << 31) - 1  # permutation modulus (universal hashing)


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, h0..h63): min over the :data:`SHINGLE_N`-gram shingles of
    ``text`` of :data:`NUM_PERMS` seeded permutations.

    ONE base hash per shingle + 64 affine maps ``(a·x + b) mod 2^31-1``
    (the standard universal-hash permutation family) — 64× cheaper than
    hashing each shingle per permutation, measured 30×+ wall-clock on
    the sf0.1 corpus.  The products stay under 2^62, inside bigint.

    The base hash is ``xxhash64`` (no cryptographic digest in the hot
    loop: md5 → xxhash64 measured ~25% faster warm and ~3× faster on the
    first execution, which pays md5's much larger codegen).  The hash
    family only affects WHICH permutations the mins come from; false
    POSITIVES are always removed by the exact-Jaccard verify, and the
    16×4 banding's recall at threshold 0.8 is an empirical ≈1 — measured
    exact-equal to the all-pairs oracle on the gate corpora, and
    re-checked every run by ``tests/test_oracle_parity.py`` (which gates
    the brute-force baselines too, so a recall miss can never drift in
    silently).  Signatures themselves have no oracle; xxhash64 needs no
    DuckDB twin.

    ZERO shuffle (r6): the shingle hashes stay an array column and each
    permutation's min is array-local, so the signature pass is a pure
    narrow map over the corpus — the 10^12-scale shape (the naive
    shingle×perm explode multiplies a shuffle by 64 that this plan
    doesn't even have; per-perm full hashing multiplies the *CPU* by
    64).

    The 64 affine-min maps themselves run in numpy over whole Arrow
    batches (guide §4.2): Spark's higher-order array functions evaluate
    their lambda interpreted per element, so 64 ``array_min(transform)``
    passes cost ~64 interpreted evals per shingle hash; one vectorized
    ``(flat·a + b) mod M`` + ``minimum.reduceat`` per batch does the
    same 64×|shingles| integer ops at native speed (measured −26% on
    the signature stage at the 50k-doc scale, identical output — int64
    affine arithmetic never overflows: h,a < 2^31 → h·a+b < 2^63).
    The plan stays a pure narrow map (Scan → Project → ArrowEvalPython;
    Exchange == 0 asserted by tests/test_plans.py)."""
    import random

    import pandas as pd  # noqa: F401 — pandas_udf return path

    rng = random.Random(1)
    coeffs = [
        (rng.randrange(1, _MERSENNE31), rng.randrange(0, _MERSENNE31))
        for _ in range(NUM_PERMS)
    ]
    # r6: ZERO-shuffle signatures.  A document's shingle hashes live in
    # one array column (no shingle string — hash the token tuples
    # directly), and each permutation's min is array-local — so the
    # explode + groupBy(doc_id) 64-min aggregate (one full Exchange of
    # every shingle hash) is gone entirely.  The min over the same value
    # multiset is identical, so signatures are bit-identical to the
    # aggregate form.
    n = SHINGLE_N
    gram_args = ", ".join(f"element_at(toks, i + {j + 1})" for j in range(n))
    hashed = _tokenized(docs, n).selectExpr(
        "doc_id",
        "array_distinct(transform("
        f"sequence(0, size(toks) - {n}), "
        f"i -> pmod(xxhash64({gram_args}), {_MERSENNE31}L)"
        ")) as hbase",
    )

    mins = _mins_udf(tuple(coeffs))

    sig = hashed.select("doc_id", mins("hbase").alias("sig"))
    # one selectExpr call: the former per-column F.element_at/.alias
    # Column building cost 128 py4j round trips per CONSTRUCTION
    # (~0.1 s of driver time every bench run) for the same projection
    return sig.selectExpr(
        "doc_id",
        *[f"element_at(sig, {i + 1}) as h{i}" for i in range(NUM_PERMS)],
    )


# pandas_udf objects cached per coefficient set: creating one costs a
# cloudpickle of the closure + a py4j registration (~0.1-0.2 s of driver
# time), which the former inline definition paid on EVERY query
# construction; the wrapped function is stateless w.r.t. the DataFrame,
# so reuse across plans and sessions is sound
# (tests/test_adversarial.py restarts the session between two uses)
@functools.lru_cache(maxsize=16)
def _mins_udf(coeffs: tuple):
    import pandas as pd  # noqa: F401 — pandas_udf return path

    a_vec = [a for a, _ in coeffs]
    b_vec = [b for _, b in coeffs]

    # NB: no type hints — pd is function-local, so the PySpark type-hint
    # prober can't resolve the string annotations
    @F.pandas_udf("array<long>")
    def mins(hb):
        import numpy as np

        if len(hb) == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(v) for v in hb), dtype=np.int64, count=len(hb))
        flat = np.concatenate(
            [np.asarray(v, dtype=np.int64) for v in hb]
        )
        a = np.asarray(a_vec, dtype=np.int64)
        b = np.asarray(b_vec, dtype=np.int64)
        starts = np.zeros(len(hb), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        # permutation axis processed in memory-bounded blocks: the 2-D
        # intermediate is block × |shingles in batch| — Arrow bounds
        # ROWS per batch, not shingles, so a giant-doc batch with a
        # full-width intermediate would be 64 × |flat| (gigabytes at
        # 10^7 shingles).  Normal batches (≤ ~250k shingles) still run
        # full-width in one op; only outsized batches pay the loop,
        # capped at ~128 MB of intermediate either way.
        blk = max(8, min(len(a), 16_000_000 // max(flat.size, 1)))
        out = np.empty((len(hb), len(a)), dtype=np.int64)
        for i in range(0, len(a), blk):
            blk_a = a[i : i + blk][:, None]
            blk_b = b[i : i + blk][:, None]
            vals = (flat[None, :] * blk_a + blk_b) % _MERSENNE31
            out[:, i : i + blk] = np.minimum.reduceat(vals, starts, axis=1).T
        return pd.Series(list(out))

    return mins


def _bucket_pairs(
    buckets: DataFrame, id_col: str, a_name: str, b_name: str
) -> DataFrame:
    """Distinct id pairs sharing any (band, key) bucket — the one
    candidate-pair path of every banded-LSH scheme here (MinHash, SimHash
    chunks, SRP bands).

    ONE ``groupBy(band, key)`` collects each bucket's ids, sorted by the
    engine's own comparator; ``posexplode`` then emits one row per id
    holding that id and the bucket's id list, and each row explodes the
    ids after it.  A row is O(k) for a bucket of k ids, never the bucket's
    k(k−1)/2 pairs as one array value, so a giant bucket streams its
    pairs instead of building them in one value.  Compared with a bucket
    self-join it shuffles the bucket rows once, needs no sort-merge and
    no persist, and references the signature subtree once.

    Output equals the self-join's ``a < b`` + ``distinct``: the list is
    sorted, the ``a < b`` filter drops equal ids, and ``collect_list``
    drops NULL ids, which ``a < b`` also discarded.  Struct ids compare
    field by field and a NULL field does not drop the row, so callers
    filter NULL struct fields first.
    """
    grouped = (
        buckets.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    return (
        grouped.select("ids", F.posexplode("ids").alias("i", a_name))
        .select(
            a_name,
            F.explode(
                F.slice("ids", F.col("i") + 2, F.size("ids"))
            ).alias(b_name),
        )
        .filter(F.col(a_name) < F.col(b_name))
        .distinct()
    )


def lsh_candidate_pairs(signatures: DataFrame) -> DataFrame:
    """Banded LSH: docs sharing any of :data:`NUM_BANDS` band buckets
    become candidates.

    The bucket key is ``xxhash64(band, h_i…)`` — one native JVM hash
    over the band's signature columns (bigint shuffle key), not a
    cryptographic digest of a concatenated string; a key collision can
    only ADD a candidate pair, which the exact-Jaccard verify removes.
    Pair generation is :func:`_bucket_pairs`.
    """
    rows = NUM_PERMS // NUM_BANDS
    # one selectExpr string builds all band structs in a single py4j
    # round trip (the per-Column form cost ~100 round trips per query
    # construction); the parsed expressions are identical — SQL integer
    # literals and xxhash64's default seed match F.lit/F.xxhash64
    structs = ",".join(
        "struct({b} as band, xxhash64({b}, {cols}) as key)".format(
            b=band,
            cols=", ".join(f"h{band * rows + r}" for r in range(rows)),
        )
        for band in range(NUM_BANDS)
    )
    buckets = signatures.selectExpr(
        "doc_id", f"explode(array({structs})) as b"
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    return _bucket_pairs(buckets, "doc_id", "doc_a", "doc_b")


def minhash_lsh_pairs(docs: DataFrame, threshold: float) -> DataFrame:
    """LSH candidates verified by exact Jaccard ≥ threshold.

    The exact-Jaccard verify runs ONLY over the candidate pairs'
    documents (``only_pairs``), so the cost is the MinHash pass plus a
    shingle join over the candidate subset — never an all-pairs scan.
    At high thresholds the 16×4 banding's recall is ≈1, so output
    matches exact all-pairs Jaccard.  Nothing is persisted: within the
    collect budget the verify reads the candidates once, through its
    bounded collect, and :func:`_bucket_pairs` references the signature
    subtree once."""
    signatures = minhash_signatures(docs)
    return jaccard_pairs(
        docs, threshold=threshold, only_pairs=lsh_candidate_pairs(signatures)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
SIMHASH_BITS = 60  # md5_60 gives 60 usable bits


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over ``text``'s token hashes.

    Pure relational: explode distinct tokens → one groupBy with 60
    conditional-sum agg columns → recombine bits.  Ties (sum == 0)
    resolve to bit 0.
    """
    toks = F.filter(F.split(F.lower(F.col("text")), " "), lambda x: x != F.lit(""))
    t = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("tok")
    ).withColumn("th", md5_60(F.col("tok")))
    aggs = [
        F.sum(
            F.when(F.shiftright(F.col("th"), b).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
        ).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]
    votes = t.groupBy("doc_id").agg(*aggs)
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(
            F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("bigint"), b)
        ).otherwise(F.lit(0).cast("bigint"))
        sig = bit if sig is None else sig + bit
    return votes.select("doc_id", sig.cast("bigint").alias("simhash"))


def simhash_pairs(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ 3: candidates share one of
    4 × 15-bit chunks (a pair within distance 3 must agree on ≥1 chunk —
    pigeonhole), then an exact popcount verify.

    The bucket id is ``struct(doc_id, simhash)``, so each candidate pair
    carries both signatures and the verify needs no join back to them.
    NULL doc_ids are dropped first: a struct with a NULL field still
    compares, where ``doc_a < doc_b`` discarded it."""
    sig = simhash(docs).filter(F.col("doc_id").isNotNull())
    chunks = [
        F.shiftright(F.col("simhash"), c * 15).bitwiseAND(F.lit((1 << 15) - 1))
        for c in range(4)
    ]
    buckets = sig.select(
        F.struct("doc_id", "simhash").alias("id"),
        F.posexplode(F.array(*chunks)).alias("band", "key"),
    )
    pairs = _bucket_pairs(buckets, "id", "a", "b")
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------

def cosine_expr(a, b):
    """Cosine between two array<double> columns, computed with the same
    sequential fold in any engine (deterministic double math).  A zero
    vector yields NULL (ANSI mode would otherwise raise DIVIDE_BY_ZERO,
    and DuckDB's NaN sorts *greater* than any threshold)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na, nb = (
        F.sqrt(F.aggregate(x, F.lit(0.0), lambda acc, v: acc + v * v))
        for x in (a, b)
    )
    denom = na * nb
    return F.when(denom > 0, dot / denom)


def double_vecs(embeddings: DataFrame, out_id: str) -> DataFrame:
    """(``out_id``, ``{out_id}_v``): ``vec_id`` and its ``embedding`` cast
    to array<double>."""
    return embeddings.select(
        F.col("vec_id").alias(out_id),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            f"{out_id}_v"
        ),
    )


def embedding_dup_pairs(embeddings: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, cosine≥threshold) — brute-force O(n²) crossJoin.

    Baseline/oracle ONLY: use :func:`embedding_dup_pairs_bucketed` (the
    SRP-LSH path) for any real corpus — this one dies at scale."""
    return (
        double_vecs(embeddings, "id_a")
        .crossJoin(double_vecs(embeddings, "id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine", F.round(cosine_expr(F.col("id_a_v"), F.col("id_b_v")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


SRP_TARGET_MISS = 1e-2  # per-true-pair miss budget AT the threshold
SRP_SEED = 7  # seeds the random hyperplanes


@functools.lru_cache(maxsize=16)
def _srp_planes(dim: int, n_bits: int, seed: int):
    """Deterministic random hyperplanes (seeded, cached per process —
    the cache makes good on the docstring: the matmul UDFs call this
    once per Arrow batch, and regenerating the matrix per batch was
    wasted executor work).  Every caller shares the one cached array, so
    it is read-only: an in-place write raises instead of corrupting the
    planes of every later call."""
    import numpy as np

    planes = np.random.default_rng(seed).standard_normal((dim, n_bits))
    planes.flags.writeable = False
    return planes


def _srp_band_params(n_vectors: int, threshold: float) -> tuple[int, int]:
    """Corpus-aware SRP banding: (bits_per_band, num_bands).

    The r5 fixed scheme (8 bands × 4 bits = 16 buckets/band) is bucketed
    *structurally* but not *parametrically*: a random pair shares a
    specific 4-bit band key with probability 1/16, so ~half of ALL pairs
    become candidates once n is large (measured: the sf1.0 bench paid
    ~1e8 full-cosine verifies — brute force with extra shuffles).

    Fix (the standard LSH sizing):
    - ``bits_per_band r = clamp(ceil(log2 n) + 3, 8, 30)`` → ≥8n buckets
      per band, so expected random collisions per band are
      C(n,2)/2^r ≤ n/16 — Σ|bucket|² stays O(n), at any corpus size.
      (+3 rather than +1, r6 second pass: each random candidate pays a
      vector fetch through the verify joins plus an interpreted JVM
      cosine, while each extra projection bit is one numpy dot per
      vector — measured at n = 20k, +2 bits cut candidates 139k → 54k
      and the full query 3.3 → 2.0 s even though the matmul grew 40%.
      The 30-bit cap keeps ≥n buckets/band out to n ≈ 10⁹; past that
      the band count implied by the miss budget makes the signature
      matmul itself the bottleneck and a multi-probe scheme is the
      right tool.)
    - ``num_bands b = ceil(ln(1/miss) / -ln(1 - p^r))`` with
      ``p = 1 − arccos(threshold)/π`` (the SRP bit-agreement
      probability) holds the probability that a TRUE pair at exactly the
      threshold misses every band below ``SRP_TARGET_MISS`` (1%).

    p_miss arithmetic at threshold 0.95 (p = 0.899):
      n = 20,010 → r = 18, p^r = 0.147, b = 29 → miss = (1−0.147)^29 ≈ 1%
      for a pair AT 0.95; at cosine 0.99 (p = 0.955) miss ≈ 6e-8; exact
      duplicates (cosine 1) have identical signatures — miss = 0, always.
    Expected random candidates: b · C(n,2)/2^r ≈ 29 · n/16 ≈ 2n — linear.

    False positives are removed by the exact-cosine verify, so widening
    only trades (bounded, documented) recall on near-threshold pairs for
    the O(n) candidate set; it can never add wrong output rows.
    """
    import math

    n = max(int(n_vectors), 2)
    r = min(30, max(8, math.ceil(math.log2(n)) + 3))
    t = min(max(float(threshold), -1.0), 1.0)
    p = 1.0 - math.acos(t) / math.pi
    p_band = min(max(p ** r, 1e-12), 1.0 - 1e-12)
    b = math.ceil(math.log(SRP_TARGET_MISS) / math.log(1.0 - p_band))
    return r, min(64, max(4, b))


def srp_band_keys(
    embeddings: DataFrame, bits_per_band: int = 16, num_bands: int = 16
) -> DataFrame:
    """(id, keys: array<long>[num_bands]) — per-band SRP bucket keys of
    each ``vec_id``'s ``embedding``.

    One numpy matmul per Arrow batch against ``num_bands ×
    bits_per_band`` seeded hyperplanes, bits packed band-major into one
    long key per band (so band widths beyond 64 total bits work — the
    corpus-aware sizing needs hundreds of projections at 10⁹⁺ vectors).
    Identical vectors get identical keys in every band by construction.
    The udf object is cached per (bits, bands) — see
    :func:`_mins_udf` for why (cloudpickle + registration per query
    construction is pure driver overhead).
    """
    return embeddings.select(
        F.col("vec_id").alias("id"),
        _srp_keys_udf(bits_per_band, num_bands)(F.col("embedding")).alias("keys"),
    )


@functools.lru_cache(maxsize=16)
def _srp_keys_udf(bits_per_band: int, num_bands: int):
    import pandas as pd

    total_bits = bits_per_band * num_bands

    # NB: no type hints — pd is function-local, so the PySpark type-hint
    # prober can't resolve the string annotations
    @F.pandas_udf("array<long>")
    def keys(vecs):
        import numpy as np

        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack([np.asarray(v, dtype=np.float64) for v in vecs])
        planes = _srp_planes(mat.shape[1], total_bits, SRP_SEED)
        bits = (mat @ planes) >= 0.0
        weights = np.int64(1) << np.arange(bits_per_band, dtype=np.int64)
        packed = (
            bits.reshape(len(vecs), num_bands, bits_per_band).astype(np.int64)
            @ weights
        )
        return pd.Series(list(packed))

    return keys


def embedding_dup_pairs_bucketed(
    embeddings: DataFrame, threshold: float
) -> DataFrame:
    """The 100 TB embedding-dedup path: SRP-LSH banding → candidate
    pairs inside shared band buckets → exact cosine verify.

    Mirrors the MinHash+LSH shape (:func:`minhash_lsh_pairs`): the
    candidates come from :func:`_bucket_pairs` over the (band, key) rows,
    so pair cost is Σ|bucket|² per band — never the |corpus|² crossJoin
    of :func:`embedding_dup_pairs`, which stays as the small-scale
    baseline / test oracle.

    Band sizing is CORPUS-AWARE: one cheap ``count()`` of the input
    sizes the band keys at ``ceil(log2 n) + 3`` bits (≥8n buckets per
    band → expected random collisions O(n), not O(n²)) and picks the
    band count that keeps a true pair's miss probability at the
    threshold under 1% — see :func:`_srp_band_params` for the p_miss
    arithmetic.  Exact duplicates have identical signatures and can
    never miss.
    """
    rows, num_bands = _srp_band_params(embeddings.count(), threshold)
    sigs = srp_band_keys(embeddings, bits_per_band=rows, num_bands=num_bands)
    buckets = sigs.select("id", F.posexplode("keys").alias("band", "key"))
    cands = _bucket_pairs(buckets, "id", "id_a", "id_b")
    return (
        cands.join(double_vecs(embeddings, "id_a"), "id_a")
        .join(double_vecs(embeddings, "id_b"), "id_b")
        .withColumn(
            "cosine", F.round(cosine_expr(F.col("id_a_v"), F.col("id_b_v")), 6)
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def connected_components_star(
    pairs: DataFrame, max_iters: int = 50, stats: dict | None = None
) -> DataFrame:
    """Near-dup (doc_a, doc_b) pairs → (doc_id, cluster_id = component
    min): the step that collapses pair lists into dedup groups (keep one
    doc per cluster).  O(log n) rounds of alternating large-star / small-star
    contraction (Kiveris et al., *Connected Components in MapReduce and
    Beyond*, SoCC 2014), so a chain-like component needs O(log n)
    rounds, not one per hop of its diameter.

    - large-star(u): every strictly-larger neighbor of u re-attaches to
      ``m = min(N(u) ∪ {u})``
    - small-star(u): edges oriented (larger, smaller); every smaller
      neighbor and u itself re-attach to m

    Both phases are one groupBy + one join over the edge list; the edge
    set is a fixed point exactly when it is a forest of stars rooted at
    component minima.  The driver holds only change counts;
    ``localCheckpoint`` truncates per-round lineage so every round plans
    against a flat in-memory scan instead of a plan nested one level
    deeper per round.  Nodes whose only pairs are self-pairs label
    themselves.  A graph that has not reached the fixed point after
    ``max_iters`` rounds raises instead of returning partial labels.

    r6 size-adaptive fast path (output unchanged): a dup-pair graph is
    orders of magnitude smaller than its corpus, and each star round
    costs a fixed number of jobs regardless of size — pure scheduling
    overhead when the graph is tiny.  When the distinct non-self edges
    fit the collect budget (:mod:`operators.bounded`) and the id type
    is integral, the component minima are computed with a driver-side
    union-find over the collected edge list and the iterative rounds are
    skipped entirely; singleton handling stays distributed (the pair
    table itself may be arbitrarily large — only the DISTINCT non-self
    edges are bounded).  Past the budget nothing changes: the
    O(log n)-round star contraction below is the scale path.  Python's
    int min ≡ Spark's numeric min, so labels are identical (the tests
    pin both paths to each other and to a recursive-CTE reference);
    non-integral id types always take the distributed path (string min
    differs between engines in principle).

    r6 round-cost trims (output unchanged):
    - the intra-round ``large`` edge set is persisted (materialized by
      the round's one checkpoint job, unpersisted after the round), not
      eagerly checkpointed — one fewer job per round.
    - convergence: |edges| is tracked across rounds; only a round whose
      count did NOT change runs the (one-sided) anti-join equality
      check — both sets are distinct, so equal counts + small ⊆ edges ⟺
      equal.  Non-final rounds pay one count, not a full exceptAll
      symmetric difference.

    No session conf is touched — a conf write would leak into every
    other query sharing the session — so the rounds shuffle at the
    session width.
    """
    from pyspark import StorageLevel

    spark = pairs.sparkSession
    e = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # lazy checkpoint: the first action below materializes it, so sizing
    # the graph costs one job, not an eager-checkpoint job plus a count
    edges = e.localCheckpoint(eager=False)
    id_type = pairs.schema["doc_a"].dataType
    integral = isinstance(
        id_type, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)
    )
    # the fast path sizes the graph with the SAME bounded collect that
    # fetches the edges, so it needs no separate count() job; the
    # distributed branch still counts (it needs n_edges for the round
    # width, and pays one extra job only past the budget)
    edge_rows = collect_bounded(edges) if integral else None
    if edge_rows is not None:
        n_edges = len(edge_rows)
        # bounded driver fast path: union-find with min-root labels
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edge_rows:
            u, v = row["u"], row["v"]
            if u not in parent:
                parent[u] = u
            if v not in parent:
                parent[v] = v
            ru, rv = find(u), find(v)
            if ru != rv:
                # union by min so the root IS the component min
                if ru < rv:
                    parent[rv] = ru
                else:
                    parent[ru] = rv
        label_rows = [(x, find(x)) for x in parent]
        if stats is not None:
            stats["cc_rounds"] = 0
            stats["cc_edges"] = n_edges
        labels = local_df(
            spark,
            label_rows,
            T.StructType(
                [
                    T.StructField("doc_id", id_type),
                    T.StructField("cluster_id", id_type),
                ]
            ),
        )
        # singleton candidates — every node of a SURVIVING edge is in
        # ``parent`` (the collected edge set is complete within the
        # bound), so only pair rows that contributed NO edge (self-pairs
        # and null-id rows, i.e. rows the ``u != v`` filter dropped
        # under three-valued logic) can hold singleton nodes: one
        # explode+distinct over those few rows replaces the former
        # union of BOTH id columns + full-width distinct over EVERY node
        dropped = pairs.filter(
            ~F.coalesce(F.col("doc_a") != F.col("doc_b"), F.lit(False))
        )
        selfnodes = dropped.select(
            F.explode(F.array("doc_a", "doc_b")).alias("node")
        ).distinct()
        return _with_singletons(labels, selfnodes)
    all_nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    n_edges = edges.count()
    converged = False
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # LARGE-STAR
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least("mn", F.col("u")).alias("m")
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # SMALL-STAR
        oriented = large.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins2 = oriented.groupBy("u").agg(F.min("v").alias("m"))
        members = oriented.unionByName(
            mins2.select("u", F.col("u").alias("v"))
        ).distinct()
        small = (
            members.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        large.unpersist()
        n_small = small.count()
        unchanged = n_small == n_edges and (
            small.join(edges, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        edges, n_edges = small, n_small
        if unchanged:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iters} "
            "rounds — pathological input (the scheme is O(log n) rounds)"
        )
    if stats is not None:
        # round-count visibility (VERDICT r5 item 6): callers/benches
        # can observe convergence behavior without re-deriving it
        stats["cc_rounds"] = rounds
        stats["cc_edges"] = n_edges
    # fixed point = stars: non-roots appear as u, roots as v; nodes with
    # no surviving edges (self-pairs only) label themselves.  r6: in a
    # star forest every non-root carries exactly ONE edge (to its root)
    # and no node is both a non-root and a root, so only the root side
    # needs a distinct (1 narrow column) — the former distinct over the
    # whole unioned label set shuffled every (doc_id, cluster_id) row.
    roots = edges.select(F.col("v").alias("doc_id")).distinct()
    labels = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    ).unionByName(
        roots.select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return _with_singletons(labels, all_nodes)


def _with_singletons(labels: DataFrame, nodes: DataFrame) -> DataFrame:
    """``labels`` (doc_id, cluster_id) plus a self-label for every
    ``nodes.node`` they do not hold."""
    singletons = nodes.join(
        labels, nodes["node"] == labels["doc_id"], "left_anti"
    ).select(F.col("node").alias("doc_id"), F.col("node").alias("cluster_id"))
    return labels.unionByName(singletons)


def ngram_contamination(train: DataFrame, eval_docs: DataFrame) -> DataFrame:
    """Train/eval decontamination: for every training doc, how many of
    its distinct word 8-grams appear in ANY eval doc (and the flag).

    Shape: the eval shingle set is distinct-ed and BROADCAST — eval
    suites are small by construction (thousands of docs vs the corpus'
    billions), so the semi-join runs map-side against every train
    partition with NO shuffle of the exploded train shingles (the
    dominant volume; a shuffle of it would dwarf everything else in the
    job).  Asserted in tests/test_plans.py.  Every train doc appears in
    the output (clean docs with 0 hits) — the keep-with-status
    contract."""
    t = word_shingles(train, n=8)
    e = word_shingles(eval_docs, n=8).select("shingle").distinct()
    hits = (
        t.join(F.broadcast(e), "shingle", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )
    return (
        train.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("bigint")
            .alias("n_contaminated_ngrams"),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def sample_keep(fractions: dict[str, float], default: float = 0.0):
    """Deterministic stratified sampling as a Column: true iff
    ``md5_60(doc_id) % 10^6 < fraction(lang) * 10^6``.

    No RNG state, no seed plumbing: the same row is kept in every run,
    on every cluster, in every engine (the md5 bucket is the
    reproducibility contract — ``sample()``'s Bernoulli draw is not
    stable across partitionings)."""
    from itertools import chain

    if fractions:
        frac_map = F.create_map(
            *chain.from_iterable(
                (F.lit(k), F.lit(float(v))) for k, v in sorted(fractions.items())
            )
        )
        frac = F.coalesce(frac_map[F.col("lang")], F.lit(float(default)))
    else:  # no per-key overrides: every stratum keeps the default
        # (an argless create_map() is map<void,void> — unindexable)
        frac = F.lit(float(default))
    bucket = md5_60(F.col("doc_id").cast("string")) % 1_000_000
    return bucket < (frac * 1_000_000).cast("bigint")


def stratified_sample(docs: DataFrame, fractions: dict[str, float]) -> DataFrame:
    """Corpus balancing: the rows :func:`sample_keep` keeps."""
    return docs.filter(sample_keep(fractions))


def paragraph_dedup(extracted: DataFrame) -> DataFrame:
    """Sub-document exact dedup: one row per distinct ``para`` span text
    with its copy count and canonical occurrence (min (doc_id, offset) —
    a total order, deterministic across engines).

    Shuffles (hash, doc_id, offset) triples, never the texts twice —
    the hash-groupBy shape that scales; pair with MinHash for near-dup
    paragraphs."""
    paras = extracted.filter(F.col("kind") == "para").select(
        F.md5(F.col("text")).alias("text_hash"), "doc_id", "offset"
    )
    w = W.partitionBy("text_hash").orderBy(
        F.col("doc_id").asc(), F.col("offset").asc()
    )
    return (
        paras.withColumn("rn", F.row_number().over(w))
        .withColumn("n_copies", F.count("*").over(W.partitionBy("text_hash")))
        .filter(F.col("rn") == 1)
        .select(
            "text_hash",
            F.col("n_copies").cast("bigint").alias("n_copies"),
            F.col("doc_id").alias("canonical_doc"),
            F.col("offset").alias("canonical_offset"),
        )
    )


def keep_min_copy(among):
    """The exact-dedup keep-min rule as a Column: true on the min-doc_id
    row among the ``among`` rows sharing an ``md5(text)`` (one window)."""
    first = F.min(F.when(among, F.col("doc_id"))).over(W.partitionBy(F.md5("text")))
    return among & (F.col("doc_id") == first)

