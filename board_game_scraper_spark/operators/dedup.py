"""Document deduplication operators (training-pipeline additions).

Beyond the reference's key-based dedup (A1 merge.py:202-208 / F6 URL
dedup), a 100 TB corpus pipeline needs *content* dedup.  All operators
work on a DataFrame with (id_col, text_col) and stay JVM-side (built-in
functions) except where noted; the LSH band join is the scale path —
candidate pairs come from equi-joins on band keys, never an O(n²)
cross join.

Evaluation-count discipline (guide §1.2 "per-task work", round 7): the
tokenizer split() and the shingle array are materialized as real
columns before any higher-order function consumes them.  Interpreted
HOF lambdas re-evaluate their body per element and CollapseProject
inlines a non-cheap expression referenced once syntactically into the
lambda — the old inline formulation re-ran the regex split 3x per
shingle and the whole shingle build once per MinHash permutation
(measured 24x on minhash_band).  Signatures are likewise computed in
ONE pass over the shingles (per shingle all salted hashes at once,
folded with an elementwise running min — min commutes with the fold,
so the result equals the per-perm array_min exactly).

Hash argument: every hashing operator takes its hash as a function
(xxhash64 by default).  The oracle-checked queries (queries.py) call
these same operators with md5-derived hashes, which DuckDB reproduces
bit-exactly — so the oracle gate runs the production code.

Operators:
- exact_dedup            md5 hash groupBy (exact duplicates)
- simhash                64-bit SimHash from token hashes (Charikar)
- minhash_signatures     K-permutation MinHash via salted shingle hashes
- lsh_bands              banding of the signature for bucket join
- near_dup_pairs         candidate pairs from shared bands + verified
                         n-gram Jaccard similarity
- bucket_pairs           ordered in-bucket id pairs (shared by the LSH
                         near-dup operators here and in similarity.py)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MAX_LONG = (1 << 63) - 1


def tokens_col(text_col):
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def shingles_col(text_col, k: int = 3):
    """k-word shingles as an array column (JVM-side HOFs, no UDF).

    NOTE: inline form — every element_at re-evaluates the split.  Hot
    paths should materialize tokens first and use
    ``shingles_from_toks`` (see module docstring)."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))

    def make(i):
        return F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(k)]
        )

    return F.transform(idx, make)


def shingles_from_toks(toks_name: str = "_toks", k: int = 3):
    """k-word shingles from a MATERIALIZED token-array column.  The
    multiple syntactic references to the column keep CollapseProject
    from substituting the split back into the lambda (it refuses to
    duplicate non-cheap expressions, SPARK-36718)."""
    tk = F.col(toks_name)
    idx = F.sequence(F.lit(1), F.greatest(F.size(tk) - (k - 1), F.lit(1)))
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(tk, i + j) for j in range(k)]
        ),
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact content dedup: keep min(id) per content hash."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def simhash(df: DataFrame, id_col: str, text_col: str,
            bits: int = 64, hash=F.xxhash64) -> DataFrame:
    """SimHash: sign-aggregate of per-token hash bits.

    Pure built-ins: per token t, hash(t) (a long column expression)
    contributes +1/-1 per bit; the fingerprint bit b is 1 iff the sum
    over tokens is >= 0.  One hash per distinct token (bound once via a
    1-element transform input — HOF inputs are evaluated once, lambda
    bodies per element), its ``bits`` ±1 contributions unrolled into an
    array, and a single aggregate() keeps the running sums elementwise —
    same sums in the same order as the per-bit formulation, so identical
    fingerprints.
    """
    tdf = df.select(
        F.col(id_col),
        F.array_distinct(tokens_col(F.col(text_col))).alias("_toks"),
    )

    def contrib(t):
        return F.element_at(
            F.transform(
                F.array(hash(t)),
                lambda h: F.array(
                    *[
                        F.shiftright(h, b).bitwiseAND(F.lit(1)).cast("int")
                        * 2
                        - 1
                        for b in range(bits)
                    ]
                ),
            ),
            1,
        )

    sums = F.aggregate(
        F.col("_toks"),
        F.array_repeat(F.lit(0), bits),
        lambda acc, t: F.zip_with(acc, contrib(t), lambda a, b: a + b),
    )
    sdf = tdf.select(F.col(id_col), sums.alias("_sums"))
    fingerprint = None
    for b in range(bits):
        # bit 63 is the sign bit of int64: its contribution is -2^63
        term = F.when(
            F.element_at(F.col("_sums"), b + 1) >= 0,
            F.lit(1 << b if b < 63 else -(1 << 63)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = term if fingerprint is None else fingerprint + term
    return sdf.select(F.col(id_col), fingerprint.alias("simhash"))


def xxhash_salted(p: int, s):
    """Permutation p's hash of shingle s: xxhash64(str(p), s)."""
    return F.xxhash64(F.lit(str(p)), s)


def _shingle_frame(df: DataFrame, id_col: str, text_col: str,
                   shingle_k: int) -> DataFrame:
    """(id, sh): k-word shingles built from materialized tokens."""
    tdf = df.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_toks")
    )
    return tdf.select(
        F.col(id_col), shingles_from_toks(k=shingle_k).alias("sh")
    )


def _minhash_fold(num_perm: int, salted):
    """MinHash signature from a materialized ``sh`` shingle column in
    one pass: per shingle all num_perm salted hashes, elementwise
    running min (shingle arrays are never empty — split('') yields ['']
    — so the max-long seed never survives)."""
    return F.aggregate(
        F.col("sh"),
        F.array_repeat(F.lit(_MAX_LONG).cast("long"), num_perm),
        lambda acc, s: F.zip_with(
            acc,
            F.array(*[salted(p, s) for p in range(num_perm)]),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 16, shingle_k: int = 3,
                       salted=xxhash_salted) -> DataFrame:
    """MinHash signature: min over shingles of salted(perm, shingle)
    for each of num_perm salted hash functions — all JVM-side."""
    sh = _shingle_frame(df, id_col, text_col, shingle_k)
    return sh.select(
        F.col(id_col), _minhash_fold(num_perm, salted).alias("signature")
    )


def lsh_bands(signatures: DataFrame, id_col: str,
              bands: int = 4, rows_per_band: int = 4,
              band_hash=F.xxhash64) -> DataFrame:
    """Band the signature: (id, band, band_key).  Docs sharing a
    (band, band_key) are near-dup candidates — found by equi-join, the
    only approach that survives 10^10 docs."""
    out = signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: band_hash(
                    F.concat_ws(
                        ":",
                        F.slice(
                            F.col("signature"),
                            b * rows_per_band + 1,
                            rows_per_band,
                        ).cast("array<string>"),
                    )
                ),
            )
        ).alias("band", "band_key"),
    )
    return out


def ngram_jaccard(a_shingles, b_shingles):
    """Jaccard over shingle sets (array columns)."""
    inter = F.size(F.array_intersect(a_shingles, b_shingles))
    union = F.size(F.array_union(a_shingles, b_shingles))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def bucket_pairs(members: DataFrame, keys: list[str], id_col: str,
                 a: str = "a", b: str = "b") -> DataFrame:
    """Distinct ordered pairs (a < b) of ids that share a bucket.

    GROUPS on ``keys`` instead of self-joining the members: a self-join
    computes the whole bucketing pipeline twice (broadcast build side +
    stream side, no exchange reuse).  One shuffle of (keys, id), sorted
    bucket members, in-bucket pairs via posexplode — per-row memory
    stays O(bucket) and the pair set equals the join's."""
    buckets = members.groupBy(*keys).agg(
        F.array_sort(F.collect_list(id_col)).alias("_ids")
    )
    return (
        buckets.where(F.size("_ids") >= 2)
        .select("_ids", F.posexplode("_ids").alias("_i", a))
        .select(
            a,
            F.explode(
                F.slice(F.col("_ids"), F.col("_i") + 2, F.size("_ids"))
            ).alias(b),
        )
        .where(F.col(a) < F.col(b))
        .distinct()
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.7,
    num_perm: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    salted=xxhash_salted,
    band_hash=F.xxhash64,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidate generation + exact verify.

    1. signatures → bands → ``bucket_pairs`` → one row per (a, b).
    2. verify with exact shingle Jaccard; keep >= threshold.
    The verify join re-attaches shingles by id — two broadcast-able or
    shuffle-hash joins, no cross product anywhere.
    """
    sh = _shingle_frame(df, id_col, text_col, shingle_k)
    sigs = sh.select(
        F.col(id_col), _minhash_fold(num_perm, salted).alias("signature")
    )
    banded = lsh_bands(sigs, id_col, bands, num_perm // bands, band_hash)
    # buckets are keyed by band_key alone, as the oracle SQL joins: a
    # pair beyond the (band, band_key) buckets needs a cross-band hash
    # collision, and every candidate is still verified exactly
    cand = bucket_pairs(banded, ["band_key"], id_col)
    verified = (
        cand.join(sh.select(F.col(id_col).alias("a"),
                            F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col(id_col).alias("b"),
                        F.col("sh").alias("sh_b")), "b")
        .select(
            "a",
            "b",
            F.round(ngram_jaccard(F.col("sh_a"), F.col("sh_b")), 4).alias(
                "jaccard"
            ),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified


def dedup_keep_first(df: DataFrame, id_col: str, text_col: str,
                     threshold: float = 0.7) -> DataFrame:
    """Corpus-level near-dup removal: drop every doc that is a near-dup
    of a lower-id doc (greedy canonical-min rule — deterministic)."""
    pairs = near_dup_pairs(df, id_col, text_col, threshold)
    losers = pairs.select(F.col("b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")
