"""Deduplication families for training-data pipelines.

MinHash+LSH (shingle → minhash → band → bucket join), SimHash (bitwise
majority over token hashes), and n-gram Jaccard — all as Catalyst-only
plans over a text column, no Python.

Portability contract: every hash here is derived from md5 so the
DuckDB oracle can compute the *same* values (Spark's xxhash64/hash are
not available in DuckDB). `portable_hash` gives the shared 56-bit
integer hash; its comment has the DuckDB form.

Scale notes:
  * minhash: per-row O(shingles × num_perm) JVM expressions, then one
    explode(bands) + self-join on (band_idx, band_hash): the classic
    LSH bucket join. Bucket sizes are the skew risk at 10^12 docs —
    cap candidates per bucket (top-N by doc_id) before pairing.
  * simhash: map-only signature; near-dup = equal signature (or
    Hamming ≤ k via multi-probe tables).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import materialize

# 56-bit portable hash (no sign issues), identical in DuckDB via
# ('0x' || substr(md5(x),1,14))::BIGINT
def portable_hash(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, 14), 16, 10).cast("bigint")


def repeated_window_spans(
    df: DataFrame,
    window: int = 50,
    stride: int = 1,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact SUBSTRING-dedup candidates, the Spark shape of the
    suffix-array approach in Lee et al. 2022 ("Deduplicating Training
    Data Makes Language Models Better"): flag every ``window``-token
    span whose exact content occurs at least ``min_count`` times
    anywhere in the corpus (cross-document or repeated within one).
    Returns ``(doc_id, start, digest, occurrences)`` — start is the
    1-based token position; callers mask or cut the flagged spans.

    Scale shape: token positions explode at ``stride`` spacing (the
    Lee et al. default stride 1 costs ~n_tokens rows per doc — at
    10^12 tokens set stride ~ window/2 for the standard 2x-overlap
    approximation), the span digest is computed per exploded row
    (map-side), and a ``groupBy(digest).count()`` joined back onto
    the spans does the corpus-wide matching. No suffix array, no sort
    of the whole corpus — the digest shuffle is the only wide stage.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    base = df.select(F.col(id_col), toks.alias("_toks"))
    spans = base.select(
        id_col,
        F.explode(
            F.when(
                F.size(F.col("_toks")) >= window,
                F.sequence(
                    F.lit(1),
                    F.size(F.col("_toks")) - window + 1,
                    F.lit(stride),
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("start"),
        F.col("_toks"),
    ).select(
        id_col,
        "start",
        F.md5(
            F.concat_ws(" ", F.slice(F.col("_toks"), F.col("start"), window))
        ).alias("digest"),
    )
    # r7 de-skew (guide §2.5): the old F.count(*).over(partitionBy
    # digest) window shipped every raw span of a digest to ONE task —
    # no map-side partial aggregation, and AQE cannot split a window
    # partition, so one boilerplate 50-token span occurring 10^8 times
    # (cookie banner, license header) became a single straggler task.
    # groupBy+count partial-aggregates map-side (a hot digest reduces
    # to ~1 row per input partition) and the join-back is an equi-join
    # AQE skew-join can split. The exploded spans are materialized
    # once, so the counts branch and the join's left side both read
    # them instead of evaluating the explode+digest projection twice.
    spans = materialize(spans)
    counts = (
        spans.groupBy("digest")
        .agg(F.count("*").alias("occurrences"))
        .where(F.col("occurrences") >= min_count)
    )
    return spans.join(counts, "digest").select(
        id_col, "start", "digest", "occurrences"
    )


# -- shingling -------------------------------------------------------------------


def word_shingles(text_col: str = "text", k: int = 3) -> Column:
    """Distinct k-word shingles of lower(text), array<string>."""
    from .textstats import let_bound

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")

    def gen(t):
        n = F.size(t)
        shingles = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, k)),
            )
        )
        # guard: sequence(1, x<1) would generate a DESCENDING range
        return F.when(n >= k, shingles).otherwise(
            F.array().cast("array<string>")
        )

    # let_bound: tokenize once per row — a free-variable `toks` inside
    # the transform lambda would re-split the text per position
    return let_bound(toks, gen)


# -- MinHash + LSH ---------------------------------------------------------------


# Linear-permutation minhash: one md5 per shingle, then num_perm cheap
# affine maps (2j+1)*h + j*ADD mod PRIME — ~16x fewer digest calls than
# hashing (shingle, j) pairs. (2j+1) <= 63 keeps (2j+1)*h < 2^62 for the
# 56-bit base hash: no int64 overflow in either Spark or DuckDB.
MINHASH_PRIME = 2305843009213693951  # 2^61 - 1
MINHASH_ADD = 0x9E3779B9


def minhash_bands(sig_col: Column, num_bands: int = 4,
                  rows_per_band: int = 4) -> Column:
    """Band hashes: array of (hash of the band's minhash slice)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string"),
                        ),
                    )
                ),
                1, 14,
            ),
            16, 10,
        ).cast("bigint"),
    )


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    k: int = 3,
) -> DataFrame:
    """(id, sig array<bigint>) via explode + partial-aggregate min.

    Linear permutations of one base hash per shingle: one shingle-hash
    per exploded row, `num_perm` MIN aggregates with map-side combine —
    no higher-order-function re-evaluation (Catalyst would inline array
    lambdas into each of the permutation expressions, recomputing the
    shingle hashing per permutation) and no giant arrays.
    Rows with fewer than k tokens produce no shingles and are dropped.
    num_perm <= 64: the largest multiplier (2*63+1)=127 times the
    56-bit base hash stays below 2^63; 65 permutations would silently
    wrap negative in BOTH engines (exact bound, not a guess).
    """
    if num_perm > 64:
        raise ValueError(
            "num_perm <= 64: (2j+1)*hash must stay within int64"
        )
    ex = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(text_col, k)).alias("s"),
    )
    h = portable_hash(F.col("s"))
    aggs = [
        F.min(
            ((F.lit(2 * j + 1) * h) + F.lit(j * MINHASH_ADD)) % F.lit(MINHASH_PRIME)
        ).alias(f"mh{j}")
        for j in range(num_perm)
    ]
    sigs = ex.groupBy("id").agg(*aggs)
    return sigs.select(
        "id", F.array(*[F.col(f"mh{j}") for j in range(num_perm)]).alias("sig")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 16,
    num_bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Candidate near-dup pairs (a < b) sharing at least one LSH band.

    `max_bucket` caps pathological buckets (boilerplate-heavy corpora
    produce mega-buckets; capping bounds the pair blow-up).

    The banded frame is materialized before the self-join: a self-join
    restates its input subtree once per side, so the whole signature
    pipeline (shingle explode, MIN aggregates, band hashing, bucket-cap
    window) would otherwise run twice. The frame is narrow (id + two
    band columns), so the materialization is slim even at corpus scale.
    """
    rows = num_perm // num_bands
    sigs = minhash_signatures_df(df, text_col, id_col, num_perm)
    banded = sigs.select(
        F.col("id"),
        F.posexplode(
            minhash_bands(F.col("sig"), num_bands, rows)
        ).alias("band_idx", "band_hash"),
    )
    w = Window.partitionBy("band_idx", "band_hash").orderBy("id")
    banded = (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )
    banded = materialize(banded)
    a = banded.select(
        F.col("band_idx").alias("bi"), F.col("band_hash").alias("bh"),
        F.col("id").alias("a"),
    )
    b = banded.select(
        F.col("band_idx").alias("bi"), F.col("band_hash").alias("bh"),
        F.col("id").alias("b"),
    )
    return (
        a.join(b, ["bi", "bh"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


# -- SimHash ---------------------------------------------------------------------


def simhash(text_col: str = "text", bits: int = 16) -> Column:
    """SimHash over whitespace tokens: bit b = majority of token-hash bit b.

    NULL text yields a NULL signature (explicit guard — previously the
    NULL vote fell into the otherwise(-) branch and silently produced
    sig=0, contradicting the documented semantics; r3 advice).

    EXPRESSION FORM — TEST SCALE ONLY: this evaluates `bits` aggregate
    lambdas over the token-hash array, i.e. `bits` passes per row (64
    at production bits=64). For corpus-scale signature runs use
    :func:`simhash_signatures_df` (one exploded pass, map-side-combined
    SUM votes, value-identical output).
    """
    if bits > 64:
        raise ValueError("simhash signatures are int64: bits <= 64")
    from .textstats import let_bound

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    tok_hashes = F.transform(toks, lambda t: portable_hash(t))

    def sig(th):
        # let_bound: a free-variable tok_hashes inside the aggregate
        # lambdas would re-split and re-hash every token once per bit
        acc = None
        for b in range(bits):
            vote = F.aggregate(
                th,
                F.lit(0),
                lambda s, h: s
                + F.when(
                    F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1),
            )
            # bit 63 contributes int64-min (two's complement): lit(2**63)
            # overflows BIGINT and made the DOCUMENTED production setting
            # bits=64 throw NumberFormatException; the banding/XOR/bit_count
            # machinery is bit-identical on the signed value
            bit_val = -(2 ** 63) if b == 63 else 2 ** b
            bit = F.when(vote > 0, F.lit(bit_val)).otherwise(F.lit(0))
            acc = bit if acc is None else acc + bit
        return acc

    return (
        F.when(F.col(text_col).isNull(), F.lit(None)).otherwise(
            let_bound(tok_hashes, sig)
        )
    ).cast("bigint")


def simhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, sig) with values IDENTICAL to :func:`simhash` — the
    scalable shape for corpus runs (bits <= 64; bit 63 lands in the
    int64 sign position, two's complement).

    The expression form evaluates `bits` aggregate-lambdas over the
    token-hash array (bits passes per row; 64 at production bits=64 —
    flagged by the r2 plan audit). Here each token becomes one exploded
    row and the per-bit signed votes are `bits` SUM aggregates with
    map-side combine: one uniform shuffle on id, one pass over tokens.

    NULL-text rows explode to nothing, so they are re-attached with a
    NULL signature by a cheap map-only union branch — exactly
    `simhash()`'s output (r3 advice: the two shapes previously
    disagreed on NULL-text corpora); empty text tokenizes to [""] in
    both and agrees.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    nonnull = df.where(F.col(text_col).isNotNull())
    if bits > 64:
        raise ValueError("simhash signatures are int64: bits <= 64")
    ex = nonnull.select(F.col(id_col).alias("id"), F.explode(toks).alias("t"))
    h = portable_hash(F.col("t"))
    aggs = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    votes = ex.groupBy("id").agg(*aggs)
    sig = None
    for b in range(bits):
        # two's-complement top bit (see simhash(): bits=64 support)
        bit_val = -(2 ** 63) if b == 63 else 2 ** b
        bit = F.when(F.col(f"v{b}") > 0, F.lit(bit_val)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    null_rows = df.where(F.col(text_col).isNull()).select(
        F.col(id_col).alias("id"), F.lit(None).cast("bigint").alias("sig")
    )
    return votes.select("id", sig.cast("bigint").alias("sig")).unionByName(
        null_rows
    )


def simhash_hamming_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 2,
) -> DataFrame:
    """Near-dup pairs with simhash Hamming distance <= max_hamming.

    Banded blocking (the pigeonhole trick): split the signature into
    `bands` equal bit-bands — any pair within Hamming distance
    bands-1 must agree on at least one full band, so the candidate join
    keys on (band_idx, band_bits) instead of all-pairs; bit_count(XOR)
    then verifies the exact distance. Sound (no false negatives) for
    max_hamming <= bands - 1; the distinct pair set shuffles on the
    band value (uniform unless the corpus is one giant near-dup blob).

    Join-key cardinality = bands * 2^(bits/bands): the 16-bit default
    is for tests/small corpora — at corpus scale use bits=64, bands=4
    (16-bit bands, ~262k keys) so no single band bucket explodes.
    """
    # scalable signature path (one exploded pass, not `bits` lambda
    # passes per row); NULL-sig rows (NULL text) drop out of banding
    # via the IS NOT NULL filter — they cannot near-dup anything
    sigs = simhash_signatures_df(df, text_col, id_col, bits).where(
        F.col("sig").isNotNull()
    )
    return signature_hamming_pairs(sigs, bits, bands, max_hamming)


def signature_hamming_pairs(
    sigs: DataFrame,
    bits: int,
    bands: int,
    max_hamming: int,
    id_col: str = "id",
    sig_col: str = "sig",
) -> DataFrame:
    """(a, b, hamming) pairs within Hamming <= max_hamming over ANY
    (id, sig) bit-signature frame — the banding engine shared by text
    SimHash and perceptual image hashes (same pigeonhole guarantee and
    join-key cardinality math as :func:`simhash_hamming_pairs`).
    The banded frame is materialized before the self-join, as in
    :func:`minhash_lsh_pairs`.
    """
    if max_hamming > bands - 1:
        raise ValueError(
            f"banding with {bands} bands only guarantees recall up to "
            f"Hamming {bands - 1}; raise `bands` or lower `max_hamming`"
        )
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(j).alias("band_idx"),
                    F.shiftright(F.col(sig_col), j * band_bits)
                    .bitwiseAND(F.lit(mask)).alias("band_val"),
                )
                for j in range(bands)
            ])
        ).alias("b"),
    ).select("id", "sig", "b.band_idx", "b.band_val")
    banded = materialize(banded)
    left = banded.select(
        F.col("band_idx"), F.col("band_val"),
        F.col("id").alias("a"), F.col("sig").alias("sig_a"),
    )
    right = banded.select(
        F.col("band_idx"), F.col("band_val"),
        F.col("id").alias("b"), F.col("sig").alias("sig_b"),
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        left.join(right, ["band_idx", "band_val"])
        .where(F.col("a") < F.col("b"))
        .withColumn("hamming", dist.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("a", "b", "hamming")
        .distinct()
    )


# -- n-gram Jaccard ---------------------------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    block_col: Optional[str] = None,
    max_df: Optional[int] = None,
    max_posting: Optional[int] = None,
) -> DataFrame:
    """Exact pairwise Jaccard over k-word shingle sets, via a shingle
    inverted-index join (no cross join): pairs with jaccard >= threshold.

    `block_col` optionally restricts comparisons within blocks (a
    blocking key such as language or a fingerprint bucket) — at corpus
    scale you never run this unblocked.

    Scale guards (one boilerplate shingle shared by 10^6 docs would
    otherwise emit ~10^12 intermediate pairs):

    * ``max_df`` — drop shingles whose document frequency (within the
      block) exceeds it, BEFORE sizes are computed: a stop-shingle
      carries no Jaccard signal and all the blow-up. Jaccard stays
      EXACT over the retained shingle space (both the intersection and
      the set sizes see the same filtered universe).
    * ``max_posting`` — hard cap per posting list (window top-N by id,
      the same pattern as :func:`minhash_lsh_pairs`'s ``max_bucket``).
      This truncation can only UNDERCOUNT intersections, so it loses
      recall but never admits a false pair above the threshold.

    Both default to None (exact, uncapped) for oracle parity at test
    scale; at corpus scale always set ``max_df`` (e.g. 10_000) and keep
    ``max_posting`` as the backstop.
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
        F.explode(word_shingles(text_col, k)).alias("shingle"),
    ).distinct()
    join_keys = ["shingle"] + (["blk"] if block_col else [])
    if max_df is not None:
        dfreq = F.count("*").over(
            Window.partitionBy(*[F.col(c) for c in join_keys])
        )
        sh = sh.withColumn("_df", dfreq).where(
            F.col("_df") <= max_df
        ).drop("_df")
    sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
    posting = sh
    if max_posting is not None:
        w = Window.partitionBy(*[F.col(c) for c in join_keys]).orderBy("id")
        posting = (
            posting.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= max_posting)
            .drop("_rn")
        )
    a = posting.select(*(F.col(c) for c in join_keys), F.col("id").alias("a"))
    b = posting.select(*(F.col(c) for c in join_keys), F.col("id").alias("b"))
    inter = (
        a.join(b, join_keys)
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "a").join(sb, "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )
