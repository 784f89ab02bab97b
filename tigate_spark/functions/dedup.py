"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (100 TB documents):
- Exact dedup is one hash-aggregate on a digest column (map-side combine).
- Shingle/Jaccard candidates come from an **inverted-index self-join on the
  shingle** (explode → join → count), never an O(n²) cross join; at scale
  the shingle column is the shuffle key, AQE handles skewed (stop-phrase)
  shingles, and 5-token shingles keep the posting lists short.
- MinHash signatures are computed **row-locally** with higher-order array
  functions (no explosion); only the tiny (doc, band) pairs shuffle.
- SimHash is likewise row-local bit arithmetic.

All hashes are md5-derived (``functions.phash``) so the DuckDB oracles in
:mod:`tigate_spark.catalog_llm` reproduce results exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tigate_spark.functions.text import TOKENS_EXPR

# Algorithms are the published ones: MinHash resemblance sketches
# (Broder, "On the resemblance and containment of documents", 1997),
# banded LSH (Indyk & Motwani 1998; Leskovec/Rajaraman/Ullman MMDS ch.3),
# SimHash (Charikar, "Similarity estimation techniques from rounding
# algorithms", STOC 2002) — re-expressed as Spark higher-order functions.

#: MinHash modulus (2^31 - 1, prime); products stay < 2^62 — no overflow.
MINHASH_P = 2_147_483_647
# Pack-width invariant (see lsh_bands / minhash_lsh_pairs): both minhashes
# must fit 31 bits so `hi << 31 | lo` is injective, and the packed band
# value must fit 62 bits so `band << 62 | v` is injective in int64. A
# future change to the hash family or modulus must trip this loudly.
assert MINHASH_P <= (1 << 31) - 1, "band-key packing requires minhashes < 2^31"
#: number of MinHash functions (banded as b=4 bands × r=2 rows)
MINHASH_K = 8
#: LSH bands use r=2 rows — a collision needs two agreeing minhashes,
#: which kills the common-feature buckets a single shared shingle creates
MINHASH_BANDS = 4
# the band index rides the top two bits of the packed `band << 62 | v`
# bucket key, so at most four bands fit
assert MINHASH_BANDS <= 4, "band-key packing has 2 bits for the band index"
#: drop LSH buckets bigger than this — an oversized bucket signals a
#: corpus-common feature, not near-duplication, and would go quadratic
LSH_BUCKET_CAP = 100

_H32 = "cast(conv(substr(md5({e}), 1, 8), 16, 10) as bigint)"

#: 5-token shingles of the whitespace tokens (empty when < 5 tokens).
#: Indexed spelling (r17): ``slice(tokens, i, 5)`` allocated a 5-element
#: array per shingle inside the interpreted lambda; five direct array
#: lookups feed concat_ws the same strings with zero allocation —
#: measured −19-25% on the shingle stage, byte-identical output.
SHINGLES_EXPR = (
    "case when size(tokens) >= 5 then "
    "transform(sequence(1, size(tokens) - 4), i -> "
    "concat_ws(' ', tokens[i-1], tokens[i], tokens[i+1], tokens[i+2], tokens[i+3])) "
    "else cast(array() as array<string>) end"
)

#: cheap ≥5-token gate on the RAW text column: at least five maximal runs
#: of non-space characters. Exactly ``size(filter(split(text, ' '),
#: x -> x <> '')) >= 5`` (tokenization splits on the single space char, so
#: a token boundary is precisely a space/non-space transition), but the
#: possessive regex stops scanning at the 5th token instead of splitting
#: the whole document into an array — measured 0.118 → 0.073 s on the
#: single-task pre-fan-out filter at sf0.1. Row-exact equivalence pinned
#: by tests/test_shingle_spellings.py on adversarial strings + all SFs.
MIN5_TOKENS_PRED = "text rlike '^ *+([^ ]++ ++){4}[^ ]'"


def _fan_out(df: DataFrame) -> DataFrame:
    """Repartition ahead of expression-heavy row-local stages.

    A small parquet file arrives as one split → one task; hashing every
    shingle of every doc in a single thread serializes the stage. At lake
    scale the scan already has splits and the exchange would be pure
    movement — bytes-gated since r18 (``fan_out_if_small``); streaming
    micro-batch inputs (unsizeable) keep the fan-out.
    """
    from tigate_spark.sources.batch import fan_out_if_small

    return fan_out_if_small(df)


def with_shingles(df: DataFrame) -> DataFrame:
    # The <5-token filter runs BEFORE the fan-out on the cheap token count,
    # so Catalyst has nothing expensive to push below the exchange (an
    # equivalent size(shingles) filter would inline the whole shingle
    # expression into a pre-shuffle, single-split Filter — observed 2×
    # slowdown).
    # The pre-fan-out count predicate runs inside the SINGLE scan task a
    # one-file input produces, so it must be as cheap as possible: lower()
    # is dropped (case never changes the token count — lowercase mappings
    # never produce a space) and the split itself is replaced by the
    # early-exit regex gate MIN5_TOKENS_PRED (no token array materialized).
    # The real TOKENS_EXPR (with lower) is recomputed post-shuffle.
    return (
        df.filter(F.expr(MIN5_TOKENS_PRED))
        .transform(_fan_out)
        .withColumn("tokens", F.expr(TOKENS_EXPR))
        .withColumn("shingles", F.expr(f"array_distinct({SHINGLES_EXPR})"))
    )


def exact_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5-content groups → canonical id + copy count."""
    return (
        df.withColumn("content_hash", F.md5(F.col(text_col)))
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def ngram_jaccard_pairs(df: DataFrame,
                        df_cap: int | None = LSH_BUCKET_CAP) -> DataFrame:
    """Candidate near-dup pairs with exact Jaccard over 5-gram shingle sets.

    Inverted-index posting lists keyed by shingle; Jaccard in basis points
    = 10000·|∩| / |∪| over the **kept-shingle universe**: shingles whose
    document frequency exceeds ``df_cap`` are stop-shingles — removed from
    both the pairing and the set sizes, exactly like df-based stopword
    filtering in published near-dup pipelines. Without the cap one
    corpus-common shingle (df = 10⁶) generates O(df²) pairs; with it the
    pair work per shingle is ≤ cap·(cap-1)/2, so total work is linear in
    corpus size. Pairs are generated bucket-locally (array combinations
    inside each ≤cap posting list) — one clustering shuffle plus one agg
    shuffle, no self-join.

    ``df_cap=None`` opts out (exact Jaccard over the full shingle
    universe) for small-corpus callers; the default changed in r04 from
    uncapped to ``LSH_BUCKET_CAP`` (see OPERATORS.md note) because an
    uncapped posting list is quadratic in the hottest shingle's df.

    Single-pass dataflow (r06 rewrite — the previous version persisted
    the posting frame and scanned it twice, once for per-doc kept-shingle
    sizes and once for pair generation): each posting row now emits one
    membership marker per member (``doc_b`` NULL) *plus* its bucket-local
    pairs, and a single (doc_a, doc_b) aggregation yields both the sizes
    (NULL rows) and the intersections (pair rows). The three downstream
    consumers (inter, n_a, n_b) filter that one aggregate; within one
    action AQE's exchange reuse shares the aggregate's shuffle across
    the branches.

    NOT persisted (r18): the r06 form ``persist()``-ed the aggregate so
    "repeated actions on the returned frame" (i.e. a warm bench loop)
    read the cache — which made every timed bench pass after the first a
    scale-independent cache read (measured 0.182 s at 10× the corpus vs
    2.7 s honest recompute), exactly the cross-run result caching the
    optimization-round rules forbid. Every execution now computes from
    the inputs; callers that genuinely re-execute the frame many times
    can persist at the call site.
    """
    # explode_outer: plain explode triggers InferFiltersFromGenerate, whose
    # size(shingles)>0 predicate gets pushed below the fan-out exchange and
    # recomputes every shingle single-threaded.
    # cast once: the membership-marker struct and the empty-array fallback
    # below hard-code bigint fields, so an int doc_id column would hit a
    # concat type mismatch at analysis time — normalize here instead
    sh = with_shingles(df).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.explode_outer("shingles").alias("s"),
    ).filter(F.col("s").isNotNull())
    posting = sh.groupBy("s").agg(
        F.expr("array_sort(collect_list(doc_id))").alias("ds")
    )
    if df_cap is not None:
        posting = posting.filter(F.size("ds") <= df_cap)
    # one membership marker per member + the bucket-local pairs; the
    # size(ds) >= 2 guard keeps sequence(0, -1) from going descending
    combined_rows = F.expr(
        "concat("
        "transform(ds, d -> struct(d as doc_a, cast(null as bigint) as doc_b)), "
        "case when size(ds) >= 2 then "
        "flatten(transform(sequence(0, size(ds) - 2), i -> "
        "transform(sequence(i + 1, size(ds) - 1), j -> "
        "struct(ds[i] as doc_a, ds[j] as doc_b)))) "
        "else cast(array() as array<struct<doc_a:bigint,doc_b:bigint>>) end)"
    )
    combined = (
        posting.select(F.explode(combined_rows).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    inter = combined.filter(F.col("doc_b").isNotNull()).select(
        "doc_a", "doc_b", F.col("cnt").alias("inter")
    )
    sizes = combined.filter(F.col("doc_b").isNull()).select(
        F.col("doc_a").alias("doc_id"), F.col("cnt").alias("n_sh")
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "doc_a").join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("n_a") + F.col("n_b") - F.col("inter")).alias("union_sz"),
            F.expr("cast(inter * 10000 div (n_a + n_b - inter) as bigint)").alias("jaccard_bp"),
        )
    )


def minhash_signature(df: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """Row-local MinHash signature: sig[i] = min over shingles of
    ((a_i·h + b_i) mod p), with a_i/b_i md5-derived per function index.

    The hash-family constants are pre-computed driver-side (same md5
    derivation → same values as the oracle) so each shingle is md5'd
    exactly once per row; the k per-function mins then run over the cached
    hash array. Docs with no shingles (<5 tokens) are excluded.
    """
    from tigate_spark.functions.phash import h32_py

    p = MINHASH_P
    a = [h32_py(f"mh_a{i}") % p for i in range(k)]
    b = [h32_py(f"mh_b{i}") % p for i in range(k)]
    sig = F.array(
        *[
            F.expr(
                f"aggregate(hs, {p}L, (acc, h) -> least(acc, ({a[i]}L * h + {b[i]}L) % {p}))"
            )
            for i in range(k)
        ]
    )
    # docs with <5 tokens (no shingles) are already excluded by with_shingles
    return (
        with_shingles(df)
        .withColumn("hs", F.expr(f"transform(shingles, s -> {_H32.format(e='s')} % {p})"))
        .select("doc_id", sig.alias("sig"))
    )


def lsh_bands(df: DataFrame) -> DataFrame:
    """(doc_id, band, v) rows: band value = the r=2 minhash pair packed
    into ONE bigint (``hi << 31 | lo``; minhashes are < 2^31 so the pack
    is injective — the same bucket partition as the oracle's
    ``printf('%d:%d')`` string spelling, which every consumer uses only
    as an internal group/join key, never as output).

    The packed form (r17, guide §2.3 "narrower types") replaces the
    previous ``concat_ws(':')`` string: the (doc, band, v) rows are the
    dominant shuffle of the whole fuzzy-dedup family, and the key drops
    from a ~13-20 byte string (plus two int→string renders per band) to
    8 bytes with integer hash/compare. Output-identity across all seven
    band consumers verified by oracle re-drives; local bench effect
    ~5-8% on minhash_lsh (interleaved A/B), the bytes win is the
    at-scale point."""
    sigs = minhash_signature(df, MINHASH_K)
    bands = F.expr(
        f"transform(sequence(0, {MINHASH_BANDS - 1}), b -> struct(b as band, "
        "shiftleft(element_at(sig, cast(2 * b + 1 as int)), 31) + "
        "element_at(sig, cast(2 * b + 2 as int)) as v))"
    )
    return (
        sigs.select("doc_id", F.explode_outer(bands).alias("bv"))
        .filter(F.col("bv").isNotNull())
        .select("doc_id", F.col("bv.band").alias("band"), F.col("bv.v").alias("v"))
    )


def minhash_lsh_pairs(df: DataFrame, bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """LSH candidate pairs: b=4 bands × r=2 rows; docs agreeing on both
    minhashes of a band share a bucket; pairs count shared bands.

    Scale safety: buckets larger than ``bucket_cap`` are dropped before
    pairing (an oversized bucket is a corpus-common feature — pairing it
    is quadratic and semantically useless). Only (doc, band) rows shuffle.
    """
    # Bucket-local pair generation: ONE shuffle clusters the bucket key;
    # pairs come from array combinations inside each bucket row (bounded
    # by bucket_cap → ≤ cap·(cap-1)/2 pairs), then one final agg shuffle.
    # This replaces the sizes-join + self-join formulation (4 shuffles and
    # 4 recomputes of the signature pipeline) — the standard
    # sort-by-bucket-then-pair MinHash layout at lake scale.
    #
    # The (band, v) pair is packed into ONE bigint group key
    # (``band << 62 | v`` — injective: band < 4 and v < 2^62 since both
    # minhashes are < 2^31, see the MINHASH_P assert). r18, guide §2.3:
    # halves the group-key width of the family's dominant shuffle
    # (16 → 8 bytes) and replaces a two-column hash/compare with one
    # bigint; measured min-of-5 interleaved 0.456 → 0.424 at sf0.1 AND
    # 1.741 → 1.701 at the 10× probe. The bucket membership is identical
    # (key is internal only; outputs are doc pairs).
    #
    # Probed and REJECTED in the same A/B (r18): (a) a window-count gate
    # before a bounded collect_list (state-bounded, ties sf0.1 but loses
    # ~9-17% at 10× — the sort+window pass costs more than map-side
    # partial collect saves); (b) the count-gate + join-back posting
    # form (loses 30-70% at both SFs — the signature pipeline is
    # recomputed for the sizes branch).
    buckets = (
        lsh_bands(df)
        .select(
            "doc_id",
            (F.expr("shiftleft(cast(band as bigint), 62)") + F.col("v")).alias("bv"),
        )
        .groupBy("bv")
        .agg(F.expr("array_sort(collect_list(doc_id))").alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= bucket_cap))
    )
    pairs = F.expr(
        "flatten(transform(sequence(0, size(ds) - 2), i -> "
        "transform(sequence(i + 1, size(ds) - 1), j -> "
        "struct(ds[i] as doc_a, ds[j] as doc_b))))"
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared_bands"))
    )


def simhash(df: DataFrame, bits: int = 32) -> DataFrame:
    """Row-local 32-bit SimHash over the distinct-token vocabulary:
    bit b set iff Σ_tokens (±1 by token-hash bit b) > 0.

    Token hashes are hoisted into a column so each token is md5'd once,
    not once per bit.
    """
    sig = (
        f"aggregate(transform(sequence(0, {bits - 1}), b -> "
        f"case when aggregate(hs, 0L, (acc, h) -> acc + "
        f"case when (shiftright(h, cast(b as int)) & 1) = 1 then 1 else -1 end) > 0 "
        f"then shiftleft(1L, cast(b as int)) else 0L end), 0L, (acc, x) -> acc + x)"
    )
    return (
        _fan_out(df)
        .withColumn("tokens", F.expr(TOKENS_EXPR))
        .withColumn(
            "hs", F.expr(f"transform(array_distinct(tokens), t -> {_H32.format(e='t')})")
        )
        .select("doc_id", F.expr(sig).alias("simhash"))
    )


def simhash_near_pairs(df: DataFrame, max_hamming: int = 6,
                       bucket_cap: int = LSH_BUCKET_CAP) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share ≥1 of four 8-bit chunks
    (banded LSH on the signature), then exact Hamming filter.

    Oversized chunk buckets are dropped like in :func:`minhash_lsh_pairs`
    — on a clustered corpus a popular chunk value would pair
    quadratically."""
    sh = simhash(df)
    chunks = (
        sh.select(
            "doc_id",
            "simhash",
            F.explode_outer(
                F.expr(
                    "transform(sequence(0, 3), c -> "
                    "struct(c as chunk, shiftright(simhash, cast(c * 8 as int)) & 255 as v))"
                )
            ).alias("ch"),
        )
        .filter(F.col("ch").isNotNull())
        .select("doc_id", "simhash", F.col("ch.chunk").alias("chunk"), F.col("ch.v").alias("v"))
    )
    # bucket-local pair generation (see minhash_lsh_pairs): one clustering
    # shuffle, combinations inside each ≤cap bucket, one distinct shuffle
    buckets = (
        chunks.groupBy("chunk", "v")
        .agg(F.expr(
            "array_sort(collect_list(struct(doc_id, simhash)))"
        ).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= bucket_cap))
    )
    pairs = F.expr(
        "flatten(transform(sequence(0, size(ds) - 2), i -> "
        "transform(sequence(i + 1, size(ds) - 1), j -> "
        "struct(ds[i].doc_id as doc_a, ds[j].doc_id as doc_b, "
        "ds[i].simhash as sh_a, ds[j].simhash as sh_b))))"
    )
    cand = (
        buckets.select(F.explode(pairs).alias("p"))
        .select(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.bit_count(F.col("p.sh_a").bitwiseXOR(F.col("p.sh_b"))).alias("hamming"),
        )
        .distinct()
    )
    return cand.filter(F.col("hamming") <= max_hamming)


def fuzzy_decontaminate(df: DataFrame, eval_mod: int = 50) -> DataFrame:
    """Fuzzy benchmark decontamination: flag training docs whose MinHash
    LSH bands collide with any *eval-holdout* doc's bands — the
    near-duplicate (not just exact-n-gram) contamination check used on
    web-scale pretraining corpora (the MinHash analogue of the exact
    shingle-overlap check in ``decontaminate_vs_eval``).

    Eval side = ``doc_id % eval_mod == 0`` (the stand-in holdout). Eval
    sets are tiny relative to the corpus, so the eval band index
    broadcasts; the training corpus streams through one signature scan and
    one broadcast-hash join — no shuffle of the corpus at any scale.
    Output: (doc_id, n_band_hits, n_eval_docs) for every flagged
    training doc.
    """
    bands = lsh_bands(df)
    ev = F.broadcast(
        bands.filter(F.col("doc_id") % eval_mod == 0).select(
            F.col("doc_id").alias("eval_doc"), "band", "v"
        )
    )
    train = bands.filter(F.col("doc_id") % eval_mod != 0)
    return (
        train.join(ev, ["band", "v"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_band_hits"),
            F.countDistinct("eval_doc").alias("n_eval_docs"),
        )
    )
