"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the whole point of these at 100 TB):
- *exact*: one hash-aggregate over md5(normalized text) — shuffle on a short
  hash key, map-side combine; no text comparison ever crosses the wire.
- *minhash LSH*: per-doc signature (map-only), explode to (band_id, band_key)
  buckets, self-join *within buckets only* — the classic sub-quadratic
  candidate generation; the full N² pair space is never materialized.
- *n-gram Jaccard*: only run on LSH candidates (or within small blocking
  buckets) — it's the verifier, not the scanner.
- *simhash*: map-only 64-bit sketch; near-dup = small Hamming distance within
  LSH-style bucketed bands of the sketch.

Everything is built-in-function only (JVM/codegen); hashes are md5 hex
strings so the DuckDB oracle reproduces results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import cut_lineage
from ..modules import (DICT, STRING, TABLE, KiaraModule, ModuleCharacteristics,
                       _simple_module, config_kwargs)
from ..operations import Operation
from ..values import ValueMap
from .text import base_hash32, shingles_col, word_shingles_col

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_text(text: Column) -> Column:
    """Canonical form for exact dedup: lowercase, collapse whitespace runs."""
    return F.regexp_replace(F.trim(F.lower(text)), "\\s+", " ")


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates: (content_key, n_dups, keep_id, dup_ids...)."""
    keyed = df.select(
        F.col(id_col), F.md5(normalized_text(F.col(text_col))).alias("content_key")
    )
    return (
        keyed.groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep exactly one doc (min id) per distinct normalized text."""
    w_key = df.withColumn("content_key", F.md5(normalized_text(F.col(text_col))))
    keep = w_key.groupBy("content_key").agg(F.min(id_col).alias(id_col))
    return w_key.join(keep, on=["content_key", id_col], how="inner").drop("content_key")


# ---------------------------------------------------------------------------
# minhash + LSH
# ---------------------------------------------------------------------------

# Affine hash family h_i(x) = (a_i*x + b_i) mod P over a 32-bit base hash.
# One md5 per shingle total (vs one md5 per shingle PER hash function — 16x
# fewer digests; at sf0.1 this turned a 15s stage into ~2s, and at 100 TB the
# digest work is the dominant map-side cost).  P = 2^31-1 (Mersenne);
# a_i < 2^30 keeps a_i*x < 2^62: no 64-bit overflow in any engine.
MINHASH_P = 2_147_483_647
MINHASH_A = [686579305, 119540833, 26855093, 796233791, 295310487, 262950629,
             239670713, 149827707, 790779947, 110053355, 726600541, 795285933,
             957970517, 585582863, 93349857, 634036507]
MINHASH_B = [906070220, 68252793, 63989047, 201209005, 469521477, 499635468,
             56985561, 427000596, 900911954, 473392624, 964669077, 597409992,
             13955983, 342865762, 907557512, 730682427]


def minhash_signature(text: Column, num_hashes: int = 16, shingle_k: int = 5) -> Column:
    """MinHash signature as an array of bigint minima (expression form).

    The base-hash array (one md5 PER SHINGLE — the dominant cost) is
    let-bound through a lambda variable: the outer ``transform`` over a
    1-element array evaluates it exactly once per row, and the 16 affine
    min-folds read the bound variable.  Without the binding, each fold
    embeds its own copy of the shingle+md5 subtree — batch execution
    recovers via codegen subexpression elimination, but the Structured
    Streaming projection does NOT (measured 4.7s -> 0.6s per micro-batch
    on the sf0.1 corpus, bit-identical output).  For shuffle-based plans
    prefer ``minhash_signatures_df`` (exploded shingles + one aggregate).
    """
    sh = shingles_col(text, shingle_k)
    hashed = F.transform(sh, base_hash32)

    def _affine(i):
        # NB: single-arg lambda — a 2-arg lambda would be called by
        # pyspark's transform() as (element, index) and shadow the capture
        return lambda h: (
            F.lit(MINHASH_A[i]) * h + F.lit(MINHASH_B[i])
        ) % F.lit(MINHASH_P)

    return F.element_at(
        F.transform(F.array(hashed), lambda h0s: F.array(
            *[F.array_min(F.transform(h0s, _affine(i)))
              for i in range(num_hashes)])),
        1,
    )


def _shingles(text: Column, k: int, unit: str) -> Column:
    """Shingle set builder: ``unit='char'`` -> character k-grams,
    ``unit='word'`` -> space-joined word k-grams (the LLM-dedup standard;
    far fewer shingles per doc, so far less digest work downstream)."""
    if unit == "word":
        return word_shingles_col(text, k)
    if unit == "char":
        return shingles_col(text, k)
    raise ValueError(f"unknown shingle unit: {unit!r}")


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int,
                      unit: str = "char") -> DataFrame:
    """(id, shingle) rows — the scale-out shape for sketching: shingle
    extraction happens exactly once, downstream sketches are groupBy
    aggregations with map-side partial combine."""
    return df.select(
        F.col(id_col).alias("_id"),
        F.explode(_shingles(F.col(text_col), k, unit)).alias("_shingle"),
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 5,
    shingle_unit: str = "char",
) -> DataFrame:
    """(_id, h0..h{n-1}) signature table via explode + 16 min-aggregates.

    One shingle extraction per doc, ONE md5 per shingle (the affine family
    derives all 16 hashes from the 32-bit base), one hash aggregate — at
    100 TB this is a single shuffle on doc id with map-side partial min,
    instead of a quadratically-duplicated expression tree (the naive
    array-fold form was ~30x slower even at sf0.1; per-hash md5 ~7x).
    """
    ex = exploded_shingles(df, id_col, text_col, shingle_k, shingle_unit).withColumn(
        "_h0", base_hash32(F.col("_shingle"))
    )
    aggs = [
        F.min(
            (F.lit(MINHASH_A[i]) * F.col("_h0") + F.lit(MINHASH_B[i])) % F.lit(MINHASH_P)
        ).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return ex.groupBy("_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_unit: str = "char",
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH: docs sharing any band of
    ``num_hashes/bands`` consecutive signature values collide.

    Plan shape: map (signature) -> explode to ``bands`` rows -> shuffle on
    (band_id, band_key) -> within-bucket self-join -> distinct pairs.  The
    join key is a short pipe-joined string of the band's hash minima: buckets
    are tiny, the join never sees the full cross product.
    """
    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_k,
                                shingle_unit)
    banded = _band_rows(sig, num_hashes, bands)
    left = banded.alias("a")
    right = banded.alias("b")
    pairs = (
        left.join(
            right,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col("a._id") < F.col("b._id"),
            ],
        )
        .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
        .distinct()
    )
    return pairs


def _jaccard_arrays(sh_a: Column, sh_b: Column) -> Column:
    """Jaccard for two DISTINCT-element arrays: |A∪B| = |A|+|B|-|A∩B|, so one
    array_intersect replaces intersect+union — at 22k+ candidate pairs the
    second full set op (and its materialized union array) was ~half the
    verify-stage cost."""
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(sh_a).cast("double") + F.size(sh_b).cast("double") - inter
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
    block_col: str | None = None,
    hash_shingles: bool = True,
    max_block_size: int | None = None,
    broadcast_rows: int | None = None,
) -> DataFrame:
    """All pairs with shingle-Jaccard >= threshold.  ``block_col`` restricts
    the self-join to blocking buckets (at scale you ALWAYS block — use
    minhash_lsh_pairs for candidates instead of a raw cross join, or
    :func:`ngram_jaccard_pairs_lsh` which composes the two).

    ``broadcast_rows``: caller-supplied row count.  When small (<= 50k —
    shingle arrays are heavy, ~KBs/doc) the build side of the blocked
    self-join is broadcast and the probe side repartitioned to full
    parallelism: a LOW-cardinality block column (language, domain) caps a
    shuffle join's parallelism at the number of distinct blocks, funneling
    the quadratic per-pair set ops onto a handful of tasks.  Above the
    gate (or unset) the within-block shuffle join is unchanged — at that
    size the answer is LSH blocking, not a bigger broadcast.

    ``max_block_size`` is the skew guard for natural-key blocking: a
    low-cardinality block column (language, domain, ...) makes the
    within-block self-join quadratic in the hottest block — O((N/20)^2)
    at 100 TB for a ~20-language corpus.  When set, ONE cheap aggregate
    over the block column counts bucket sizes up front and raises with
    the offending buckets if any exceeds the cap, pointing the caller at
    LSH blocking — fail-fast beats an accidental quadratic shuffle.

    Shingle arrays are computed ONCE per doc before the join (O(N) extraction
    + O(pairs) set ops), not per pair — per-pair re-extraction is quadratic in
    practice and dominated the runtime.

    ``hash_shingles`` (default) replaces each string shingle with the first
    48 bits of its md5 as a BIGINT before the per-pair set ops: the verify
    stage is O(pairs x shingles) hash-set work either way, and primitive
    longs intersect several times faster than short strings (measured 34.6s
    -> single digits at sf0.1 over 3.2M verified pairs).  Jaccard over the
    hashed sets equals string Jaccard unless 48-bit md5 prefixes collide
    within one document pair (~1e-6 odds corpus-wide here); the md5-prefix
    rule is portable, so a SQL twin reproduces it bit-for-bit
    (`CAST('0x' || substring(md5(s),1,12) AS BIGINT)`)."""
    if max_block_size is not None and block_col is not None:
        hot = (df.groupBy(F.col(block_col).alias("_blk")).count()
               .filter(F.col("count") > max_block_size)
               .orderBy(F.desc("count")).limit(5).collect())
        if hot:
            worst = ", ".join(f"{r['_blk']!r}={r['count']}" for r in hot)
            raise ValueError(
                f"ngram_jaccard_pairs: blocking buckets exceed "
                f"max_block_size={max_block_size} ({worst}); a hot block "
                f"makes the within-block self-join quadratic — use "
                f"ngram_jaccard_pairs_lsh (minhash band candidates) or a "
                f"finer block column")
    sh_col = shingles_col(F.col(text_col), k)
    if hash_shingles:
        sh_col = F.array_distinct(F.transform(
            sh_col,
            lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")))
    sh = df.select(
        F.col(id_col).alias("_id"),
        sh_col.alias("_sh"),
        *([F.col(block_col).alias("_blk")] if block_col else []),
    ).withColumn("_n", F.size("_sh"))
    sh = cut_lineage(sh)
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"),
                  F.col("_n").alias("n_a"),
                  *([F.col("_blk")] if block_col else []))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"),
                  F.col("_n").alias("n_b"),
                  *([F.col("_blk")] if block_col else []))
    if (broadcast_rows is not None and broadcast_rows <= 50_000
            and block_col is not None):
        a = a.repartition(df.sparkSession.sparkContext.defaultParallelism)
        b = F.broadcast(b)
    # size prune: |A∩B| <= min(|A|,|B|) and |A∪B| >= max(|A|,|B|), so
    # J <= min/max — an integer predicate that kills most of the quadratic
    # blocked pairs before any per-pair set op runs.  Pure optimization:
    # pruned pairs provably cannot reach the threshold.
    joined = (a.join(b, on="_blk") if block_col else a.crossJoin(b)).filter(
        (F.col("id_a") < F.col("id_b"))
        & (F.least("n_a", "n_b").cast("double")
           >= F.lit(threshold) * F.greatest("n_a", "n_b")))
    return (
        joined.withColumn("jaccard", _jaccard_arrays(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-level exact dedup (the RefinedWeb/C4 line-level policy at
    paragraph granularity): a paragraph whose NORMALIZED form occurs >=
    ``min_count`` times across the corpus is removed from EVERY document;
    the document survives with its unique paragraphs stitched back in
    order.  Boilerplate (nav text, cookie banners, footers) dies corpus-
    wide without dropping the documents that carry it.

    Plan shape (all linear — the doc-level quadratic never appears):
      1. split each doc on blank-line paragraph boundaries, explode to
         (doc, position, paragraph) — one map + explode;
      2. count normalized-paragraph md5s corpus-wide — ONE hash aggregate
         with map-side combine; only 16-byte digests shuffle, never text;
      3. semi-join paragraph rows against the duplicated digests
         (broadcastable when boilerplate is rare — AQE decides), flag;
      4. reassemble per doc: groupBy(doc) with a position-sorted
         collect_list of surviving paragraphs.

    Returns (id, cleaned_text, n_paragraphs, n_removed) with EXACTLY one
    row per input document — an all-boilerplate (or empty) document comes
    back with empty cleaned_text and survives for downstream joins; the
    caller's length filter (text.quality_score) decides whether to drop
    it, keeping each policy single-purpose.  Paragraphs whose normalized
    form is shorter than ``min_chars`` are EXEMPT from dedup (kept, never
    counted as duplicates) — short fragments like headings collide by
    accident, and a dedup pass must never delete text it didn't prove
    duplicated.  Empty paragraphs (blank-line runs) are split artifacts
    and don't count."""
    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), "\\n\\s*\\n")).alias("_p", "_para"),
    ).withColumn("_norm", normalized_text(F.col("_para"))).filter(
        F.length("_norm") > 0)
    paras = paras.withColumn(
        "_h", F.when(F.length("_norm") >= min_chars, F.md5(F.col("_norm"))))
    paras = cut_lineage(paras)
    dup = (paras.filter(F.col("_h").isNotNull()).groupBy("_h").count()
           .filter(F.col("count") >= min_count).select("_h"))
    flagged = paras.join(dup.withColumn("_dup", F.lit(True)), "_h", "left")
    agg = (
        flagged.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.concat_ws("\n\n", F.array_sort(
                F.collect_list(F.when(F.col("_dup").isNull(), F.struct(
                    F.col("_p"), F.col("_para"))))
            ).getField("_para")).alias("cleaned_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_paragraphs"),
            F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
            .cast("bigint").alias("n_removed"),
        )
    )
    # one row per INPUT doc: documents whose every paragraph was filtered
    # (empty text) must not vanish from the output
    return df.select(F.col(id_col)).join(agg, id_col, "left").select(
        F.col(id_col),
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        F.coalesce("n_paragraphs", F.lit(0)).cast("bigint").alias("n_paragraphs"),
        F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"))


DedupParagraphs = _simple_module(
    "table.dedup.paragraphs", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": dedup_paragraphs(
        im["table"].data,
        **config_kwargs(self, "min_count", "min_chars", id_col="id_column",
                        text_col="text_column"),
    )},
    doc="""Corpus-wide exact paragraph dedup: duplicated paragraphs removed
    from every document, unique paragraphs stitched back in order.""",
)


def ngram_jaccard_pairs_lsh(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
    hash_shingles: bool = True,
) -> DataFrame:
    """:func:`ngram_jaccard_pairs` semantics with MINHASH-BAND blocking —
    the de-skewed scale path for n-gram Jaccard.  Natural-key blocking
    (language, domain) concentrates a 100 TB corpus into a handful of hot
    buckets whose within-block self-join is quadratic; banded LSH keys are
    uniformly distributed by construction, so candidate buckets stay tiny
    at any corpus size and the verify stage is O(candidate pairs), not
    O(hottest block squared).

    Plan shape: signature scan (map-only after one shuffle on id) ->
    explode to bands -> within-bucket join on (band_id, band_key) ->
    distinct candidate ids -> semi-join restricts shingle extraction to
    candidate docs -> exact (hashed-shingle) Jaccard, thresholded.  Same
    output contract as ``ngram_jaccard_pairs``: (id_a, id_b, jaccard),
    id_a < id_b — minus pairs no band catches (recall is the standard LSH
    S-curve at ``bands`` bands of ``num_hashes/bands`` rows; raise bands
    for higher recall at lower thresholds)."""
    cand = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands, k,
                             "char")
    cand = cut_lineage(cand)
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh_col = shingles_col(F.col(text_col), k)
    if hash_shingles:
        sh_col = F.array_distinct(F.transform(
            sh_col,
            lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")))
    cand_ids = (cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
                .distinct())
    sh = (df.join(cand_ids, id_col, "left_semi")
          .select(F.col(id_col), sh_col.alias("_sh")))
    sh = cut_lineage(sh)
    joined = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "_sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "_sh": "sh_b"}), "id_b")
    )
    return (
        joined.withColumn("jaccard", _jaccard_arrays(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    k: int = 5,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Asymmetric near-dup detection by n-gram CONTAINMENT (overlap
    coefficient |A∩B| / min(|A|,|B|)) — the measure Jaccard dedup is blind
    to: a short document quoted wholesale inside a much longer one has
    Jaccard ~|A|/|B| (tiny) but containment ~1.  The standard screen for
    quote-inclusion, boilerplate wrappers, and doc-inside-doc republishing.

    Candidates come from the same banded-minhash machinery as
    :func:`ngram_jaccard_pairs_lsh` (uniform buckets, no natural-key skew);
    the verify stage computes the exact hashed-shingle overlap coefficient
    on candidate pairs only.  LSH recall follows the Jaccard S-curve, so
    EXTREME size ratios (a tweet inside a book) can slip past the bands —
    for guaranteed substring recall use `table.dedup.ngram_spans`
    (ExactSubstr); this op is the set-containment complement at near-equal
    cost to a Jaccard pass.

    Output: (id_a, id_b, containment, jaccard), id_a < id_b, thresholded
    on containment."""
    cand = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands, k,
                             "char")
    cand = cut_lineage(cand)
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    sh_col = F.array_distinct(F.transform(
        shingles_col(F.col(text_col), k),
        lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long")))
    cand_ids = (cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col))
                .distinct())
    sh = (df.join(cand_ids, id_col, "left_semi")
          .select(F.col(id_col), sh_col.alias("_sh")))
    sh = cut_lineage(sh)
    joined = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "_sh": "sh_a"}),
                  "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "_sh": "sh_b"}), "id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    mn = F.least(F.size("sh_a"), F.size("sh_b")).cast("double")
    union = F.size("sh_a").cast("double") + F.size("sh_b").cast("double") \
        - inter
    containment = F.when(mn > 0, inter / mn).otherwise(F.lit(0.0))
    return (joined
            .withColumn("containment", containment)
            .filter(F.col("containment") >= F.lit(threshold))
            .select("id_a", "id_b",
                    F.round("containment", 6).alias("containment"),
                    F.round(F.when(union > 0, inter / union)
                            .otherwise(F.lit(0.0)), 6).alias("jaccard")))


def minhash_dedup_verified(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_unit: str = "char",
) -> DataFrame:
    """The production near-dedup pipeline: LSH candidates -> exact Jaccard
    verify -> verified near-dup pairs.  Join back to texts is by id (hash
    join on a bigint key), so text payloads move at most once."""
    cand = minhash_lsh_pairs(df, id_col, text_col, num_hashes, bands, shingle_k,
                             shingle_unit)
    # the candidate pair set is tiny (ids only) and used twice below —
    # checkpoint it so the signature+LSH pipeline runs exactly once.
    cand = cut_lineage(cand)
    # AQE coalesces the tiny id-pair set to ~1 partition; the shingle side
    # broadcasts, so without this the exact-Jaccard set ops (the dominant
    # verify cost) serialize onto one core.  Spreading ids is a trivial
    # shuffle; the per-pair array intersections then use every core.
    cand = cand.repartition(df.sparkSession.sparkContext.defaultParallelism)
    # shingle arrays only for docs that appear in some candidate pair —
    # candidates << corpus, so the expensive array extraction is O(candidates)
    # instead of O(corpus) per join side (at 100 TB the corpus-wide variant
    # re-extracts every document's shingles twice).
    cand_ids = cand.select(F.explode(F.array("id_a", "id_b")).alias(id_col)).distinct()
    sh = (
        df.join(cand_ids, id_col, "left_semi")
        .select(F.col(id_col),
                _shingles(F.col(text_col), shingle_k, shingle_unit).alias("_sh"))
        # materialize once: both join sides below reuse the same extracted
        # arrays instead of re-running the O(text) shingle extraction per side
    )
    sh = cut_lineage(sh)
    joined = (
        cand.join(sh.withColumnsRenamed({id_col: "id_a", "_sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({id_col: "id_b", "_sh": "sh_b"}), "id_b")
    )
    return (
        joined.withColumn("jaccard", _jaccard_arrays(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------


def with_simhash(
    df: DataFrame,
    text_col: str = "text",
    shingle_k: int = 5,
    id_col: str = "doc_id",
    shingle_unit: str = "char",
) -> DataFrame:
    """64-bit SimHash over shingle md5s, emitted as a 16-hex-digit string.

    For hex digit position p (0..15) and bit q (0..3) within it: the bit votes
    +1 if set else -1 across all shingle hashes; sketch bit = 1 iff vote sum
    > 0.  Hex-string output avoids 64-bit sign/overflow differences between
    engines; md5 + hex-digit decode are portable, so the SQL oracle
    reproduces it exactly.

    Plan shape: explode shingles -> ONE groupBy(id) with 64 sum aggregates
    (map-side combined) -> assemble digits -> join back.  The earlier
    expression-tree form (64 nested array folds, each re-deriving the shingle
    array) took 45s on 500 docs; this is sub-second and scales as a single
    shuffle on the id.
    """
    hexdigits = "0123456789abcdef"
    ex = exploded_shingles(df, id_col, text_col, shingle_k, shingle_unit).withColumn(
        "_h", F.md5(F.col("_shingle"))
    )
    aggs = []
    for p in range(16):
        digit = F.conv(F.substring("_h", p + 1, 1), 16, 10).cast("int")
        for q in range(4):
            mask = 1 << q
            aggs.append(
                F.sum(
                    F.when(digit.bitwiseAND(F.lit(mask)) > 0, F.lit(1)).otherwise(F.lit(-1))
                ).alias(f"v{p}_{q}")
            )
    votes = ex.groupBy("_id").agg(*aggs)
    digit_chars = []
    for p in range(16):
        digit_val = F.lit(0)
        for q in range(4):
            mask = 1 << q
            digit_val = digit_val + F.when(F.col(f"v{p}_{q}") > 0, F.lit(mask)).otherwise(F.lit(0))
        digit_chars.append(F.substring(F.lit(hexdigits), digit_val + 1, 1))
    sig = votes.select("_id", F.concat(*digit_chars).alias("simhash"))
    return (
        df.join(sig, on=df[id_col] == sig["_id"], how="left")
        .drop("_id")
        .withColumn("simhash", F.coalesce("simhash", F.lit("0" * 16)))
    )


# -- modules ---------------------------------------------------------------


def fuzzy_levenshtein_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: Column | str | None = None,
    max_distance: int = 10,
) -> DataFrame:
    """Edit-distance near-dup pairs with blocking.

    The N^2 pair space is never formed — two admissible prunes compose:
    - *blocking*: candidates only WITHIN blocking buckets (default: the
      first token of the text — similar strings almost always share it);
    - *length banding*: |len(a)-len(b)| lower-bounds edit distance, so each
      row joins only length-buckets of width (max_distance+1) within one
      step of its own (the b-side emits its bucket +/-1, LSH-band style —
      every qualifying pair meets exactly once, no dedup pass needed).
    The self-join therefore shuffles on (block, length-band) — far smaller
    buckets than blocking alone when blocks are hot.  ``levenshtein`` runs
    JVM-side with the threshold argument (banded O(d*n) DP with early
    exit, not the full O(n^2) matrix).  Output: (id_a, id_b, distance),
    id_a < id_b."""
    blk = (F.col(block_col) if isinstance(block_col, str) else block_col) \
        if block_col is not None else F.split(F.col(text_col), " ")[0]
    width = max_distance + 1
    keyed = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"),
        blk.alias("_blk"),
        (F.length(text_col).cast("bigint") / width).cast("bigint").alias("_lb"))
    a = keyed.select(F.col("_id").alias("id_a"), F.col("_txt").alias("_ta"),
                     "_blk", F.col("_lb").alias("_key"))
    b = keyed.select(
        F.col("_id").alias("id_b"), F.col("_txt").alias("_tb"), "_blk",
        F.explode(F.array(F.col("_lb") - 1, F.col("_lb"), F.col("_lb") + 1)
                  ).alias("_key"))
    dist = F.levenshtein("_ta", "_tb", max_distance).cast("bigint")
    return (
        a.join(b, ["_blk", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        # exact length pre-filter (tighter than the banding)
        .filter(F.abs(F.length("_ta") - F.length("_tb")) <= max_distance)
        .withColumn("distance", dist)
        # thresholded levenshtein returns -1 when the distance exceeds it
        .filter(F.col("distance") >= 0)
        .select("id_a", "id_b", "distance")
    )


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Classic Jaro-Winkler (scaling 0.1, prefix cap 4, boost threshold
    0.7) — bit-identical to DuckDB's ``jaro_winkler_similarity`` (verified
    on 3000 real part-name pairs to 1e-12), so the oracle can use the
    built-in."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        # DuckDB returns 0 even for two empty strings; match the oracle.
        return 0.0
    match_dist = max(l1, l2) // 2 - 1
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo = max(0, i - match_dist)
        for j in range(lo, min(l2, i + match_dist + 1)):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if j <= 0.7:
        return j
    p = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        p += 1
    return j + p * 0.1 * (1.0 - j)


def jaro_winkler_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    block_col: Column | str | None = None,
    threshold: float = 0.9,
) -> DataFrame:
    """Jaro-Winkler record-linkage pairs with blocking — the standard
    entity-resolution kernel for names/titles where edit distance is too
    strict (transposition-tolerant) and shingling too loose for short
    strings.

    Pruning mirrors :func:`fuzzy_levenshtein_pairs`: candidates form only
    within blocking buckets (default: first token), and for
    ``threshold >= 0.9`` an admissible length band composes on top —
    jw >= t (t > 0.7) forces jaro >= (t-0.4)/0.6 and jaro <= (2+r)/3 for
    length ratio r = min/max, so r >= 5t-4 >= 1/2: qualifying pairs sit in
    log2-length buckets at most 1 apart, and the b-side emits its bucket
    +/-1 LSH-band style (each ordered pair meets exactly once; the
    id_a < id_b filter keeps one orientation).  The kernel itself is a
    per-pair string DP with no JVM builtin, so it runs as an Arrow-batched
    pandas UDF over the *blocked candidates only* — the one place the
    engine deliberately leaves whole-stage codegen.  Output:
    (id_a, id_b, jw), jw rounded to 6dp before thresholding so both
    engines make the same boundary call."""
    from pyspark.sql.functions import pandas_udf

    blk = (F.col(block_col) if isinstance(block_col, str) else block_col) \
        if block_col is not None else F.split(F.col(text_col), " ")[0]
    banded = threshold >= 0.9
    lb = F.length(F.expr(f"bin(greatest(length({text_col}), 1))")) \
        .cast("bigint")
    keyed = df.select(
        F.col(id_col).alias("_id"), F.col(text_col).alias("_txt"),
        blk.alias("_blk"),
        (lb if banded else F.lit(0)).alias("_lb"))
    a = keyed.select(F.col("_id").alias("id_a"), F.col("_txt").alias("_ta"),
                     "_blk", F.col("_lb").alias("_key"))
    b_keys = (F.array(F.col("_lb") - 1, F.col("_lb"), F.col("_lb") + 1)
              if banded else F.array(F.col("_lb")))
    b = keyed.select(F.col("_id").alias("id_b"), F.col("_txt").alias("_tb"),
                     "_blk", F.explode(b_keys).alias("_key"))

    @pandas_udf("double")
    def _jw(sa, sb):
        import pandas as pd

        return pd.Series([_jaro_winkler_py(x, y) for x, y in zip(sa, sb)],
                         dtype="float64")

    return (
        a.join(b, ["_blk", "_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("jw", F.round(_jw("_ta", "_tb"), 6))
        .filter(F.col("jw") >= threshold)
        .select("id_a", "id_b", "jw")
    )


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(_id, band_id, band_key) rows from a signature table."""
    rows_per_band = num_hashes // bands
    return sig.select(
        "_id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws("|", *[
                    F.col(f"h{b * rows_per_band + j}").cast("string")
                    for j in range(rows_per_band)
                ]).alias("band_key"),
            )
            for b in range(bands)
        ])).alias("band"),
    ).select("_id", "band.band_id", "band.band_key")


def minhash_index_build(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_unit: str = "char",
) -> dict:
    """Build and PERSIST the corpus band index — the production shape for
    daily-ingest dedup: at 16 bigints/doc the index is ~1/1000th the
    corpus bytes, and every future batch screens against it WITHOUT
    rescanning 100 TB of corpus text (the signature scan is the dominant
    cost of :func:`minhash_dedup_incremental`).

    Writes (id, band_id, band_key) parquet plus a ``_index_meta.json``
    sidecar pinning the sketch parameters — a screen with MISMATCHED
    parameters would silently produce garbage candidates, so the loader
    refuses incompatible indexes instead."""
    import json
    import os

    sig = minhash_signatures_df(df, id_col, text_col, num_hashes, shingle_k,
                                shingle_unit)
    band_rows = _band_rows(sig, num_hashes, bands).withColumnRenamed(
        "_id", id_col)
    band_rows.write.mode("overwrite").parquet(path)
    meta = {"id_col": id_col, "text_col": text_col,
            "num_hashes": num_hashes, "bands": bands,
            "shingle_k": shingle_k, "shingle_unit": shingle_unit}
    with open(os.path.join(path, "_index_meta.json"), "w") as f:
        json.dump(meta, f)
    # count the WRITTEN parquet, not the plan — counting the plan would
    # re-run the whole signature scan (the cost this index amortizes)
    n_rows = df.sparkSession.read.parquet(path).count()
    return {"path": path, "n_band_rows": n_rows, **meta}


def minhash_index_load(
    spark,
    path: str,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_unit: str = "char",
    text_col: str = "text",
) -> DataFrame:
    """Load a persisted band index, REFUSING parameter mismatches
    INCLUDING the source text column (see :func:`minhash_index_build` —
    an index sketched from 'title' screened against batches sketched from
    'text' would silently accept near-duplicates).  Returns
    (_id, band_id, band_key)."""
    import json
    import os

    meta_path = os.path.join(path, "_index_meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    want = {"id_col": id_col, "text_col": text_col,
            "num_hashes": num_hashes, "bands": bands,
            "shingle_k": shingle_k, "shingle_unit": shingle_unit}
    if meta != want:
        raise ValueError(
            f"minhash index at {path} was built with {meta}, "
            f"screen requested {want} — candidates would be garbage; "
            f"rebuild the index or match the parameters")
    return (spark.read.parquet(path)
            .withColumnRenamed(id_col, "_id")
            .select("_id", "band_id", "band_key"))


def minhash_dedup_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 5,
    shingle_unit: str = "char",
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dedup: screen an incoming batch against the
    already-accepted corpus — the daily-ingest shape, where re-running
    corpus x corpus dedup on every batch would rescan 100 TB for a 100 GB
    delta.  A new doc is rejected when it near-matches (verified Jaccard
    >= threshold) any corpus doc OR any LOWER-ID batch peer (deterministic
    first-wins within the batch, no iterative acceptance chain).

    Plan shape: signatures for batch and corpus (in production the corpus
    signature table is persisted and only the batch side is computed — at
    16 bigints/doc it is ~1/1000th the corpus bytes); banded LSH keys
    joined batch-vs-corpus and batch-vs-batch; exact shingle verify only
    on candidates.  The corpus TEXT is touched only for candidate rows
    (semi-join pushdown), never rescanned wholesale.

    Returns one row per batch doc: (id, n_corpus_matches,
    n_batch_matches, accepted).  Batch and corpus ids must be DISJOINT
    (they address one shared doc store); an overlap would make the
    shingle lookup ambiguous — re-ingest under the same id is an update,
    not a dedup question — so it raises."""
    overlap = (new_df.select(F.col(id_col))
               .join(corpus_df.select(F.col(id_col)), id_col, "left_semi")
               .limit(1).count())
    if overlap:
        raise ValueError(
            "minhash_dedup_incremental: batch and corpus share ids — "
            "re-ingest under an existing id is an update, not a dedup "
            "screen; assign fresh batch ids")
    sig_new = minhash_signatures_df(new_df, id_col, text_col, num_hashes,
                                    shingle_k, shingle_unit)
    nb = _band_rows(sig_new, num_hashes, bands)
    if corpus_bands is not None:
        # persisted index path (minhash_index_build/load): the corpus
        # signature scan — the dominant cost at 100 TB — never runs
        cb = corpus_bands
    else:
        sig_corpus = minhash_signatures_df(corpus_df, id_col, text_col,
                                           num_hashes, shingle_k,
                                           shingle_unit)
        cb = _band_rows(sig_corpus, num_hashes, bands)
    vs_corpus = (
        nb.alias("a").join(cb.alias("b"),
                           ["band_id", "band_key"])
        .select(F.col("a._id").alias("new_id"),
                F.col("b._id").alias("other_id"),
                F.lit(True).alias("is_corpus")))
    vs_batch = (
        nb.alias("a").join(nb.alias("b"),
                           on=[F.col("a.band_id") == F.col("b.band_id"),
                               F.col("a.band_key") == F.col("b.band_key"),
                               F.col("a._id") > F.col("b._id")])
        .select(F.col("a._id").alias("new_id"),
                F.col("b._id").alias("other_id"),
                F.lit(False).alias("is_corpus")))
    cand = cut_lineage(vs_corpus.unionByName(vs_batch).distinct())

    def _sh(df: DataFrame) -> DataFrame:
        ids = (cand.select(F.explode(F.array("new_id", "other_id"))
                           .alias(id_col)).distinct())
        return (df.join(ids, id_col, "left_semi")
                .select(F.col(id_col),
                        _shingles(F.col(text_col), shingle_k,
                                  shingle_unit).alias("_sh")))

    all_sh = cut_lineage(_sh(new_df).unionByName(_sh(corpus_df)))
    verified = (
        cand.join(all_sh.withColumnsRenamed({id_col: "new_id", "_sh": "sh_a"}),
                  "new_id")
        .join(all_sh.withColumnsRenamed({id_col: "other_id", "_sh": "sh_b"}),
              "other_id")
        .filter(_jaccard_arrays(F.col("sh_a"), F.col("sh_b"))
                >= F.lit(threshold)))
    agg = verified.groupBy("new_id").agg(
        F.sum(F.when(F.col("is_corpus"), 1).otherwise(0))
        .cast("bigint").alias("n_corpus_matches"),
        F.sum(F.when(~F.col("is_corpus"), 1).otherwise(0))
        .cast("bigint").alias("n_batch_matches"))
    return (
        new_df.select(F.col(id_col))
        .join(agg, new_df[id_col] == agg["new_id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("n_corpus_matches", F.lit(0)).cast("bigint")
            .alias("n_corpus_matches"),
            F.coalesce("n_batch_matches", F.lit(0)).cast("bigint")
            .alias("n_batch_matches"),
            ((F.coalesce("n_corpus_matches", F.lit(0)) == 0)
             & (F.coalesce("n_batch_matches", F.lit(0)) == 0))
            .alias("accepted")))


class DedupMinhashIncremental(KiaraModule):
    """Screen an incoming batch against the accepted corpus (incremental
    minhash dedup)."""

    _module_type_name = "table.dedup.minhash_incremental"

    def create_inputs_schema(self):
        return {"batch": {"type": "table"}, "corpus": {"type": "table"}}

    def create_outputs_schema(self):
        return {"table": {"type": "table"}}

    @property
    def characteristics(self):
        # screening against a PERSISTED index reads external disk state
        # the cache key cannot see (the key holds only the index_path
        # STRING) — a rebuilt index must never be served a stale cached
        # screen, so the indexed form opts out of the job cache entirely
        # (r4 review round 2; same reasoning as pipeline source steps)
        from ..modules import ModuleCharacteristics

        if self.config.get("index_path"):
            return ModuleCharacteristics(is_idempotent=False)
        return self._characteristics

    def process(self, inputs: ValueMap, context):
        corpus_bands = None
        if self.config.get("index_path"):
            corpus_bands = minhash_index_load(
                context.spark, self.config["index_path"],
                **config_kwargs(self, "num_hashes", "bands", "shingle_k",
                                "shingle_unit", id_col="id_column",
                                text_col="text_column"))
        return {"table": minhash_dedup_incremental(
            inputs["batch"].data,
            inputs["corpus"].data,
            corpus_bands=corpus_bands,
            **config_kwargs(self, "threshold", "num_hashes", "bands",
                            "shingle_k", "shingle_unit", id_col="id_column",
                            text_col="text_column"),
        )}


DedupMinhashIndexBuild = _simple_module(
    "table.dedup.minhash_index.build",
    {"table": TABLE, "path": STRING},
    {"index_info": DICT},
    lambda self, im, ctx: {"index_info": minhash_index_build(
        im["table"].data,
        im["path"].data,
        **config_kwargs(self, "num_hashes", "bands", "shingle_k",
                        "shingle_unit", id_col="id_column",
                        text_col="text_column"),
    )},
    doc="""Build + persist the corpus minhash band index for indexed
    incremental dedup (see minhash_index_build).""",
    characteristics=ModuleCharacteristics(is_idempotent=False),
)


def duplicate_ngram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact substring-level dedup primitive (the Lee et al. 2022
    'Deduplicating Training Data Makes Language Models Better' ExactSubstr
    idea, word-gram formulation): find every word n-gram that occurs >=
    ``min_count`` times ACROSS THE CORPUS, then merge each document's
    duplicated gram positions into maximal token spans — the spans a
    training pipeline clips out instead of dropping whole documents.

    Plan shape (all linear, no self-join):
      1. tokenize once, explode (doc, position, gram-hash) — only the 8-byte
         xxhash64 of each gram shuffles, never gram text;
      2. one hash aggregate counts gram occurrences (map-side combined);
      3. semi-join positions against duplicated hashes (broadcastable when
         dup grams are rare, AQE decides);
      4. per-doc island merge: one window over (doc, start) — spans overlap
         when the next start <= running max end.

    Returns (doc_id, span_start, span_end, span_tokens): token-index spans,
    end exclusive.  At 100 TB this is the scan + one count shuffle + one
    window — the suffix-array construction of the paper is replaced by the
    fixed-n gram index, which loses longer-than-n maximality but keeps the
    whole pipeline in three shuffles."""
    from .text import tokens_col

    toks = df.select(F.col(id_col).alias("_id"),
                     tokens_col(F.col(text_col)).alias("_t"))
    nw = F.size("_t")
    grams = toks.select(
        "_id",
        F.explode(
            F.when(nw >= n, F.sequence(F.lit(0), nw - n))
            .otherwise(F.expr("array()"))).alias("_p"),
        "_t",
    ).select(
        "_id", "_p",
        F.xxhash64(F.concat_ws("\x1f", F.slice("_t", F.col("_p") + 1, n)))
        .alias("_g"))
    grams = cut_lineage(grams)
    dup = (grams.groupBy("_g").count()
           .filter(F.col("count") >= min_count).select("_g"))
    hits = grams.join(dup, "_g", "left_semi").select("_id", "_p")
    w = (Window.partitionBy("_id").orderBy("_p")
         .rowsBetween(Window.unboundedPreceding, -1))
    islands = (
        hits.withColumn("_end", F.col("_p") + n)
        .withColumn("_prev_max", F.max("_end").over(w))
        .withColumn("_new", F.when(
            F.col("_prev_max").isNull()
            | (F.col("_p") > F.col("_prev_max")), 1).otherwise(0))
        .withColumn("_grp", F.sum("_new").over(
            Window.partitionBy("_id").orderBy("_p")
            .rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        islands.groupBy("_id", "_grp")
        .agg(F.min("_p").alias("span_start"), F.max("_end").alias("span_end"))
        .select(F.col("_id").alias(id_col),
                "span_start", "span_end",
                (F.col("span_end") - F.col("span_start")).alias("span_tokens"))
    )


def ngram_novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Per-document n-gram novelty — the fraction of a document's word
    n-gram OCCURRENCES whose gram appears in no other document.  The
    corpus-level templating/boilerplate detector (RefinedWeb-style
    analysis): novelty ≈ 1 means unique content, ≈ 0 means the document
    is assembled from corpus-repeated grams — the scoring complement of
    :func:`duplicate_ngram_spans` (which emits clip POSITIONS; this
    emits a rankable per-doc score for budget/threshold decisions).

    Plan shape (all linear, no self-join): tokenize + explode
    (doc, gram-hash) once — only 8-byte xxhash64 values shuffle; one
    (doc, gram) hash aggregate; a (gram) doc-frequency rollup joined
    back ON THE SAME gram key (both sides already sit on the g-shuffle,
    AQE reuses it); one final per-doc aggregate.  At 100 TB: the scan +
    three linear shuffles.

    Documents with fewer than ``n`` tokens emit no grams and are absent
    from the output (documented contract — there is no n-gram evidence
    to score).  Returns (id, n_grams, n_distinct_grams, n_novel,
    novelty).

    Collision bound (r10 advice): grams are identified by ONE xxhash64 of
    the joined tokens, so two distinct grams colliding would silently
    merge (undercounting novelty).  Birthday bound: P(any collision) ≈
    G²/2⁶⁵ for G distinct grams — ~3·10⁻⁸ at G=10⁹ and still only ~0.03%
    at G=10¹¹ (a 100 TB-scale gram vocabulary), and a collision shifts
    one document's ratio by at most 1/n_distinct_grams — a score
    perturbation, not a dedup decision flip.  Where exactness matters at
    scale, pair ``_g`` with a second independent hash (the
    :func:`duplicate_ngram_spans` two-hash pattern) at the cost of
    doubling the shuffled key width."""
    from .text import tokens_col

    toks = df.select(F.col(id_col).alias("_id"),
                     tokens_col(F.col(text_col)).alias("_t"))
    nw = F.size("_t")
    grams = toks.select(
        "_id",
        F.explode(
            F.when(nw >= n, F.sequence(F.lit(0), nw - n))
            .otherwise(F.expr("array()"))).alias("_p"),
        "_t",
    ).select(
        "_id",
        F.xxhash64(F.concat_ws("\x1f", F.slice("_t", F.col("_p") + 1, n)))
        .alias("_g"))
    per_doc_gram = grams.groupBy("_id", "_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c_dg"))
    per_gram = per_doc_gram.groupBy("_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("_n_docs_g"))
    joined = per_doc_gram.join(per_gram, "_g")
    return (
        joined.groupBy("_id")
        .agg(F.sum("_c_dg").cast("bigint").alias("n_grams"),
             F.count(F.lit(1)).cast("bigint").alias("n_distinct_grams"),
             F.sum(F.when(F.col("_n_docs_g") == 1, F.col("_c_dg"))
                   .otherwise(0)).cast("bigint").alias("n_novel"))
        .select(F.col("_id").alias(id_col),
                "n_grams", "n_distinct_grams", "n_novel",
                F.round(F.col("n_novel").cast("double")
                        / F.col("n_grams").cast("double"), 6)
                .alias("novelty"))
    )


DedupNgramNovelty = _simple_module(
    "table.dedup.ngram_novelty", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": ngram_novelty(
        im["table"].data,
        **config_kwargs(self, "n", id_col="id_column", text_col="text_column"),
    )},
    doc="Per-document corpus n-gram novelty score (templating detector).",
)


def clip_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Apply :func:`duplicate_ngram_spans`: remove every duplicated span's
    tokens from each document and return the clipped text — the
    ExactSubstr 'clip, don't drop' policy end-to-end.  Documents with no
    duplicated spans pass through unchanged.

    One extra broadcast-ish join (spans are tiny relative to the corpus)
    + a map-side token filter: each doc aggregates its spans to an array
    and keeps tokens whose position falls in no span.  Token positions are
    the same tokenizer's indices the span op emitted, so clip boundaries
    are exact."""
    from .text import tokens_col

    spans = (duplicate_ngram_spans(df, id_col, text_col, n, min_count)
             .groupBy(id_col)
             .agg(F.collect_list(F.struct("span_start", "span_end"))
                  .alias("_spans")))
    toks = df.select(F.col(id_col), tokens_col(F.col(text_col)).alias("_t"))
    joined = toks.join(spans, id_col, "left")
    in_any = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda sp: (i >= sp.getField("span_start"))
        & (i < sp.getField("span_end")))
    kept = F.when(F.col("_spans").isNull(), F.col("_t")).otherwise(
        F.filter("_t", lambda t, i: ~in_any(i)))
    return joined.select(
        F.col(id_col),
        F.concat_ws(" ", kept).alias("clipped_text"),
        F.size("_t").cast("bigint").alias("n_tokens"),
        (F.size("_t") - F.size(kept)).cast("bigint").alias("n_tokens_removed"))


DedupClipSpans = _simple_module(
    "table.dedup.clip_spans", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": clip_duplicate_spans(
        im["table"].data,
        **config_kwargs(self, "n", "min_count", id_col="id_column",
                        text_col="text_column"),
    )},
    doc="Clip corpus-duplicated n-gram spans out of each document's text.",
)

DedupDuplicateNgramSpans = _simple_module(
    "table.dedup.ngram_spans", {"table": TABLE}, {"spans": TABLE},
    lambda self, im, ctx: {"spans": duplicate_ngram_spans(
        im["table"].data,
        **config_kwargs(self, "n", "min_count", id_col="id_column",
                        text_col="text_column"),
    )},
    doc="""Corpus-wide duplicated word-n-gram spans per document (exact
    substring dedup primitive).""",
)

DedupExact = _simple_module(
    "table.dedup.exact", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": exact_dedup(
        im["table"].data,
        **config_kwargs(self, id_col="id_column", text_col="text_column"))},
)

DedupMinhash = _simple_module(
    "table.dedup.minhash", {"table": TABLE}, {"pairs": TABLE},
    lambda self, im, ctx: {"pairs": minhash_dedup_verified(
        im["table"].data,
        **config_kwargs(self, "threshold", "num_hashes", "bands", "shingle_k",
                        id_col="id_column", text_col="text_column"),
    )},
)

DedupSimhash = _simple_module(
    "table.dedup.simhash", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": with_simhash(
        im["table"].data,
        **config_kwargs(self, "shingle_k", text_col="text_column"))},
)

DedupNgramJaccard = _simple_module(
    "table.dedup.ngram_jaccard", {"table": TABLE}, {"pairs": TABLE},
    lambda self, im, ctx: {"pairs": ngram_jaccard_pairs(
        im["table"].data,
        # hash_shingles is the exactness escape hatch: hashed 48-bit
        # shingles are collision-sensitive (~1e-6); callers that need
        # string-exact Jaccard can disable hashing per-operation
        **config_kwargs(self, "threshold", "hash_shingles", "max_block_size",
                        id_col="id_column", text_col="text_column",
                        k="shingle_k", block_col="block_column"),
    )},
)

DedupNgramContainment = _simple_module(
    "table.dedup.ngram_containment", {"table": TABLE}, {"pairs": TABLE},
    lambda self, im, ctx: {"pairs": ngram_containment_pairs(
        im["table"].data,
        **config_kwargs(self, "threshold", "num_hashes", "bands",
                        id_col="id_column", text_col="text_column",
                        k="shingle_k"),
    )},
    doc="Asymmetric containment near-dup pairs (see ngram_containment_pairs).",
)

DedupFuzzyLevenshtein = _simple_module(
    "table.dedup.fuzzy_levenshtein", {"table": TABLE}, {"pairs": TABLE},
    lambda self, im, ctx: {"pairs": fuzzy_levenshtein_pairs(
        im["table"].data,
        **config_kwargs(self, "max_distance", id_col="id_column",
                        text_col="text_column", block_col="block_column"),
    )},
)

DedupJaroWinkler = _simple_module(
    "table.dedup.jaro_winkler", {"table": TABLE}, {"pairs": TABLE},
    lambda self, im, ctx: {"pairs": jaro_winkler_pairs(
        im["table"].data,
        **config_kwargs(self, "threshold", id_col="id_column",
                        text_col="text_column", block_col="block_column"),
    )},
)


MODULES = [DedupExact, DedupMinhash, DedupSimhash, DedupNgramJaccard,
           DedupFuzzyLevenshtein, DedupDuplicateNgramSpans, DedupClipSpans,
           DedupMinhashIncremental, DedupParagraphs,
           DedupMinhashIndexBuild, DedupNgramContainment, DedupJaroWinkler,
           DedupNgramNovelty]
OPERATIONS = [
    Operation("table.dedup.jaro_winkler", "table.dedup.jaro_winkler",
              doc="blocked Jaro-Winkler record-linkage pairs"),
    Operation("table.dedup.exact", "table.dedup.exact"),
    Operation("table.dedup.minhash", "table.dedup.minhash"),
    Operation("table.dedup.simhash", "table.dedup.simhash"),
    Operation("table.dedup.ngram_jaccard", "table.dedup.ngram_jaccard"),
    Operation("table.dedup.ngram_containment", "table.dedup.ngram_containment"),
    Operation("table.dedup.fuzzy_levenshtein", "table.dedup.fuzzy_levenshtein"),
    Operation("table.dedup.ngram_spans", "table.dedup.ngram_spans"),
    Operation("table.dedup.clip_spans", "table.dedup.clip_spans"),
    Operation("table.dedup.ngram_novelty", "table.dedup.ngram_novelty",
              doc="per-doc corpus n-gram novelty score "
                  "(templating/boilerplate detector)"),
    Operation("table.dedup.minhash_incremental", "table.dedup.minhash_incremental"),
    Operation("table.dedup.paragraphs", "table.dedup.paragraphs"),
    Operation("table.dedup.minhash_index.build", "table.dedup.minhash_index.build"),
]


def fellegi_sunter_patterns(
    df: DataFrame,
    id_col: str,
    block_col,
    field_cols: list[str],
    m_probs: list[float] | None = None,
    prior: float = 0.05,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (Fellegi & Sunter
    1969; Winkler 1988) — the statistical scorer the rule-based
    entity-resolution composition lacks: blocked candidate pairs are
    reduced to per-field AGREEMENT PATTERNS γ ∈ {0,1}^k, and each
    pattern gets the classic log-likelihood match weight

        W(γ) = Σ_i  γᵢ·log₂(mᵢ/uᵢ) + (1−γᵢ)·log₂((1−mᵢ)/(1−uᵢ))

    plus the posterior match probability under a ``prior`` match rate.
    mᵢ (P(agree|match)) come from ``m_probs`` (reviewed/literature
    values — default 0.9 each); uᵢ (P(agree|non-match)) are estimated
    EMPIRICALLY as each field's agreement rate over ALL candidate pairs
    (the standard u-from-random-pairs practice — candidate pairs are
    overwhelmingly non-matches), clamped to [1e-6, 1−1e-6].

    Scale design: ONE blocked equality self-join (shuffle on the block
    key — the N² space is never formed), ONE 2^k-row pattern aggregate;
    u and the weight algebra run on the broadcast pattern grid.
    Determinism: agreement bits are null-safe equality, u is
    bigint/bigint division, the weight is a fixed-order sum of log₂
    ratio terms (round-6 absorbs libm ulp differences), the posterior
    is an explicit fixed-order product ratio — no pow().  Returns one
    row per observed pattern: (g_<field>... , n_pairs, weight,
    p_match)."""
    k = len(field_cols)
    m_probs = m_probs or [0.9] * k
    blk = F.col(block_col) if isinstance(block_col, str) else block_col
    keyed = df.select(
        F.col(id_col).alias("_id"), blk.alias("_blk"),
        *[F.col(f).alias(f"_f{i}") for i, f in enumerate(field_cols)])
    a, b = keyed.alias("a"), keyed.alias("b")
    pairs = a.join(b, (F.col("a._blk") == F.col("b._blk"))
                   & (F.col("a._id") < F.col("b._id")))
    gcols = [f"g_{f}" for f in field_cols]
    pat = (pairs.select(*[
        F.col(f"a._f{i}").eqNullSafe(F.col(f"b._f{i}")).cast("int")
        .alias(g) for i, g in enumerate(gcols)])
        .groupBy(*gcols)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs")))
    urow = pat.agg(
        *[(F.sum(F.col("n_pairs") * F.col(g)).cast("double")
           / F.sum("n_pairs")).alias(f"_u{i}")
          for i, g in enumerate(gcols)])
    urow = urow.select(*[
        F.least(F.greatest(F.col(f"_u{i}"), F.lit(1e-6)),
                F.lit(1.0 - 1e-6)).alias(f"_u{i}")
        for i in range(k)])
    g = pat.crossJoin(F.broadcast(urow))
    weight = None
    mt, ut = None, None
    for i, gc in enumerate(gcols):
        mi = float(m_probs[i])
        ui = F.col(f"_u{i}")
        term = F.when(F.col(gc) == 1, F.log2(F.lit(mi) / ui)) \
            .otherwise(F.log2(F.lit(1.0 - mi) / (F.lit(1.0) - ui)))
        mterm = F.when(F.col(gc) == 1, F.lit(mi)) \
            .otherwise(F.lit(1.0 - mi))
        uterm = F.when(F.col(gc) == 1, ui).otherwise(F.lit(1.0) - ui)
        weight = term if weight is None else weight + term
        mt = mterm if mt is None else mt * mterm
        ut = uterm if ut is None else ut * uterm
    pi = float(prior)
    post = (F.lit(pi) * mt) / (F.lit(pi) * mt + F.lit(1.0 - pi) * ut)
    return g.select(*gcols, "n_pairs",
                    F.round(weight, 6).alias("weight"),
                    F.round(post, 6).alias("p_match"))


DedupFellegiSunter = _simple_module(
    "table.linkage.fellegi_sunter", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": fellegi_sunter_patterns(
        im["table"].data,
        self.config["id_column"],
        self.config["block_column"],
        self.config["field_columns"],
        **config_kwargs(self, "m_probs", "prior"))},
    doc="""Fellegi-Sunter agreement-pattern match weights (see
    fellegi_sunter_patterns).""",
)


MODULES.append(DedupFellegiSunter)
OPERATIONS.append(
    Operation("table.linkage.fellegi_sunter",
              "table.linkage.fellegi_sunter",
              doc="Fellegi-Sunter probabilistic record-linkage pattern "
                  "weights (empirical-u, blocked pairs)"))
