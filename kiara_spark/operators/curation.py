"""Corpus-curation operators for training-data pipelines: PII redaction,
train/eval decontamination, repetition filtering, TF-IDF term weighting.

The reference stops at import/export/filter modules (no curation surface —
``/root/reference/src/kiara/modules/included_core_modules/``); these are the
standard large-corpus preparation steps (C4/Gopher-style filtering, n-gram
decontamination as in public LLM training reports, classic TF-IDF), built
Spark-first:

- PII + repetition ops are MAP-ONLY (regexp/array expressions, whole-stage
  codegen, zero shuffle) — at 100 TB they run at scan throughput.
- Decontamination shuffles ngram *hashes* only (16-byte md5 per gram), never
  text payloads, and the eval side of the semi-join is tiny -> broadcast.
- TF-IDF is two hash aggregates over the exploded (doc, term) stream + one
  window top-k; document frequencies are a per-term count that AQE handles.

Every op has a DuckDB-expressible twin registered in queries.py; regex
patterns avoid lookaround so Java regex (Spark) and RE2 (DuckDB) agree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..io import cut_lineage
from ..operations import Operation
from ..values import ValueMap
from ..modules import TABLE, _simple_module, config_kwargs
from .text import tokens_col

# Conservative, lookaround-free patterns — identical semantics in Java
# regex and RE2.  Order matters: emails first so the phone pattern can't
# eat digit runs inside an already-masked token.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Mask emails / IPv4s / phone-shaped digit runs and count each kind.

    Map-only: one regexp_count + one regexp_replace per pattern, fused into
    a single projection by codegen — no shuffle, no Python.  Counting
    happens BEFORE masking so overlapping patterns report what the raw text
    contained."""
    text = F.col(text_col)
    counts = {
        f"n_{kind}": F.regexp_count(text, F.lit(pat)).cast("bigint")
        for kind, pat in PII_PATTERNS.items()
    }
    redacted = text
    for kind, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"<{kind.upper()}>")
    return df.withColumns({**counts, "redacted_text": redacted})


def word_ngram_hashes(text_col, n: int) -> F.Column:
    """md5 hex of each word n-gram (space-joined) — the unit of overlap for
    decontamination.  Hashing means only 32-char digests ever shuffle.

    The token array is LET-BOUND through a 1-element transform (r12, the
    ``minhash_signature`` trick): inlined it appears three times (two
    sizes + the slice) and lambda-bearing expression trees have no
    subexpression elimination, so every row paid the regex tokenization
    3x.  Identical values."""
    base = tokens_col(text_col if not isinstance(text_col, str)
                      else F.col(text_col))

    def _grams_of(toks):
        # positions 0 .. size-n (inclusive); empty when the doc is shorter
        idx = F.when(
            F.size(toks) >= n,
            F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(
            idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n)))
        )

    return F.element_at(F.transform(F.array(base), _grams_of), 1)


def _bigram_bucket_rows(df: DataFrame, id_col: str, text_col: str,
                        buckets: int) -> DataFrame:
    """(_id, _bkt, _c): per-doc hashed word-bigram bucket counts — DSIR's
    feature extraction.  One map + explode + (id, bucket) aggregate; only
    (id, small-int bucket) pairs ever shuffle, never text.

    The token array is LET-BOUND through a 1-element transform (r12, the
    ``minhash_signature`` trick): written inline it appears three times in
    the generator expression (two sizes + the slice), and the lambda-bearing
    expression tree has no subexpression elimination, so every row paid the
    regex tokenization 3x.  ``coalesce(_bkt, -1)`` (never fires — md5 of a
    non-null gram) makes the bucket key non-nullable so the downstream
    ratio join infers no ``isnotnull`` filter that would re-evaluate the
    md5 below the aggregate."""
    from .text import base_hash32

    def _grams_of(tk):
        idx = F.when(F.size(tk) >= 2,
                     F.sequence(F.lit(1), F.size(tk) - 1)
                     ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tk, i, 2)))

    grams = F.element_at(
        F.transform(F.array(tokens_col(F.col(text_col))), _grams_of), 1)
    return (df.select(F.col(id_col).alias("_id"),
                      F.explode(grams).alias("_g"))
            .select("_id", F.coalesce(
                F.pmod(base_hash32(F.col("_g")), F.lit(buckets)),
                F.lit(-1)).alias("_bkt"))
            .groupBy("_id", "_bkt")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))


def dsir_sample(
    df: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 256,
    top_k: int = 100,
    gumbel: bool = True,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR —
    the standard recipe for biasing a raw crawl toward a target domain):
    estimate hashed word-bigram bucket distributions for the raw corpus
    and the ``target`` sample, score every raw document by its importance
    log-weight ``w(doc) = Σ_b count_doc[b] · ln(p_target[b] / p_raw[b])``
    (add-1 smoothed), and resample the ``top_k`` docs by Gumbel-top-k —
    equivalent to sampling without replacement ∝ exp(w), the paper's
    sampling rule — with deterministic per-doc Gumbel noise derived from
    ``base_hash32(id)`` so the draw is reproducible on any engine.
    ``gumbel=False`` degrades to plain top-k by weight.

    Scale shape: two (bucket)-key aggregates (raw + target counts — the
    bucket table is ``buckets`` rows, broadcast), one (id, bucket)
    aggregate for features, one broadcast join, one per-doc sum, one
    global top-k.  Documents' text is read exactly once.  Per-bucket
    ln-ratios go to int64 NANO UNITS (``trunc(x * 1e9)`` — the same
    fixed-point rule as the PQ distance path) so every per-doc sum and
    the final ranking is pure bigint arithmetic: exact, order-independent,
    identical in any engine.

    Returns (id, weight_e9, score_e9, rank), rank 1..top_k; divide the
    ``_e9`` columns by 1e9 for the float weights."""
    from .text import base_hash32

    feats = _bigram_bucket_rows(df, id_col, text_col, buckets)
    feats = cut_lineage(feats)
    raw_counts = feats.groupBy("_bkt").agg(F.sum("_c").alias("_cr"))
    tgt = _bigram_bucket_rows(target, id_col, text_col, buckets)
    tgt_counts = tgt.groupBy("_bkt").agg(F.sum("_c").alias("_ct"))
    raw_tot = raw_counts.agg(F.sum("_cr").alias("_R"))
    tgt_tot = tgt_counts.agg(F.sum("_ct").alias("_T"))
    # p_t[b] = (ct+1)/(T+B); p_r[b] = (cr+1)/(R+B); products go through
    # double BEFORE multiplying (bigint products overflow at corpus scale),
    # and the double->bigint cast truncates toward zero in both engines
    # (DuckDB twin spells it trunc(x*1e9))
    ratios = (raw_counts.join(tgt_counts, "_bkt", "left")
              .crossJoin(F.broadcast(raw_tot))
              .crossJoin(F.broadcast(tgt_tot))
              .select(
                  "_bkt",
                  (F.log(
                      ((F.coalesce(F.col("_ct"), F.lit(0)) + 1).cast("double")
                       * (F.col("_R") + buckets).cast("double"))
                      / ((F.col("_cr") + 1).cast("double")
                         * (F.col("_T") + buckets).cast("double")))
                   * F.lit(1e9)).cast("bigint").alias("_lr_e9")))
    weights = (feats.join(F.broadcast(ratios), "_bkt")
               .groupBy("_id")
               .agg(F.sum(F.col("_c") * F.col("_lr_e9")).cast("bigint")
                    .alias("weight_e9")))
    if gumbel:
        # u in (0,1) from the 32-bit id hash; g = -ln(-ln(u)), also in
        # truncated nano units so the score stays pure bigint
        u = ((base_hash32(F.col("_id").cast("string")) + F.lit(0.5))
             / F.lit(float(2 ** 32)))
        score = (F.col("weight_e9")
                 + (-F.log(-F.log(u)) * F.lit(1e9)).cast("bigint"))
    else:
        score = F.col("weight_e9")
    scored = weights.withColumn("score_e9", score.cast("bigint"))
    # distributed top-k FIRST (orderBy+limit compiles to
    # TakeOrderedAndProject — per-partition heaps, no global sort), THEN
    # a row_number over just the top_k survivors: a bare global window
    # would funnel the whole corpus-sized weights table into one task
    top = scored.orderBy(F.col("score_e9").desc(), F.col("_id")).limit(top_k)
    w = Window.orderBy(F.col("score_e9").desc(), F.col("_id"))
    return (top.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .select(F.col("_id").alias(id_col), "weight_e9", "score_e9",
                    "rank"))


def perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 3,
    group_col: str | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    document by mean negative log-prob under the corpus's own unigram LM,
    then split into ``n_buckets`` equal tiles (per ``group_col`` when
    given — CCNet tiles per language) ordered cheap-to-surprising.  With
    three buckets the labels are the paper's head/middle/tail; CCNet
    keeps head+middle for pretraining.

    Plan: one token-count aggregate (term-key shuffle, map-side combine),
    broadcast 1-row total, join back on term, per-doc aggregate, one
    window ntile — no Python, no driver loop; ordering ties break on the
    ROUNDED score then id, so tiling is bit-stable across engines."""
    toks = df.select(F.col(id_col).alias("_id"),
                     *([F.col(group_col).alias("_grp")] if group_col else []),
                     F.explode(tokens_col(F.col(text_col))).alias("_term"))
    tc = toks.groupBy("_term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c"))
    tot = tc.agg(F.sum("_c").cast("bigint").alias("_t"))
    # per-term -ln(p) rounds to 9dp and sums as exact decimals before the
    # mean: a plain double AVG is accumulation-order-dependent and the
    # rounded score feeds the ntile ORDER BY — one flipped ulp would move
    # a doc across a bucket boundary (the repo's standard sum discipline)
    neg_lp = F.round(-F.log(F.col("_c") / F.col("_t").cast("double")), 9)
    per_doc = (
        toks.join(tc, "_term").crossJoin(F.broadcast(tot))
        .groupBy("_id", *(["_grp"] if group_col else []))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
             F.round(
                 F.round(F.sum(neg_lp.cast("decimal(38,12)")), 6)
                 .cast("double") / F.count(F.lit(1)), 6)
             .alias("avg_neg_logprob")))
    w = Window.partitionBy(*(["_grp"] if group_col else [])).orderBy(
        F.col("avg_neg_logprob").asc(), F.col("_id").asc())
    out = per_doc.withColumn(
        "bucket", F.ntile(n_buckets).over(w).cast("bigint"))
    if n_buckets == 3:
        out = out.withColumn(
            "label",
            F.when(F.col("bucket") == 1, F.lit("head"))
            .when(F.col("bucket") == 2, F.lit("middle"))
            .otherwise(F.lit("tail")))
    else:
        out = out.withColumn("label",
                             F.concat(F.lit("b"), F.col("bucket")))
    cols = [F.col("_id").alias(id_col)]
    if group_col:
        cols.append(F.col("_grp").alias(group_col))
    return out.select(*cols, "n_tokens", "avg_neg_logprob", "bucket",
                      "label")


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Train/eval overlap check: a training doc is contaminated when it
    shares any word ``n``-gram with the eval set (the n-gram
    decontamination rule from public LLM training reports).

    Output: (doc_id, n_contaminated_grams, contaminated) for every train
    doc.  Plan: explode ngram HASHES on both sides, inner-join train grams
    against distinct eval grams (eval is small -> Spark broadcasts it),
    count hits per doc, left-join back onto train ids.  Text payloads never
    shuffle; the joined key is a 32-char digest."""
    train_grams = train.select(
        F.col(id_col), F.explode(word_ngram_hashes(F.col(text_col), n)).alias("_g")
    )
    eval_grams = (
        eval_df.select(F.explode(word_ngram_hashes(F.col(text_col), n)).alias("_g"))
        .distinct()
    )
    hits = (
        train_grams.join(eval_grams, "_g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_contaminated_grams"))
    )
    return (
        train.select(id_col)
        .join(hits, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_contaminated_grams", F.lit(0)).cast("bigint")
            .alias("n_contaminated_grams"),
            (F.coalesce("n_contaminated_grams", F.lit(0)) > 0)
            .cast("int").alias("contaminated"),
        )
    )


def repetition_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition signals, line-level: number of (non-empty)
    lines, duplicate-line fraction, and duplicate-token fraction.  High
    duplicate fractions flag boilerplate/navigation text.  Map-only array
    expressions — no shuffle."""
    text = F.col(text_col)
    lines = F.filter(F.split(text, "\n"), lambda ln: F.trim(ln) != F.lit(""))
    n_lines = F.size(lines)
    toks = tokens_col(text)
    n_toks = F.size(toks)
    return df.withColumns(
        {
            "n_lines": n_lines.cast("bigint"),
            "dup_line_frac": F.when(
                n_lines > 0,
                (n_lines - F.size(F.array_distinct(lines))).cast("double") / n_lines,
            ).otherwise(F.lit(0.0)),
            "dup_token_frac": F.when(
                n_toks > 0,
                (n_toks - F.size(F.array_distinct(toks))).cast("double") / n_toks,
            ).otherwise(F.lit(0.0)),
        }
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document.

    ``tf = term count in doc``; ``idf = ln((N+1)/(df+1)) + 1`` (smoothed,
    scikit-learn convention — public formula); score rounded to 6 dp so the
    SQL twin agrees bit-for-bit after rounding.

    Plan: one explode -> (doc, term) count aggregate; term document
    frequencies as a second aggregate over the first (no rescan); N rides
    along from a 1-row count.  Everything shuffles on term or (doc, term) —
    the exploded stream is the big intermediate, touched twice, never
    collected."""
    toks = df.select(F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("term"))
    # r12 note: a cut_lineage of the (doc, term, tf) grid was measured
    # SLOWER (1.49 -> 1.63s median) — with only two consumers (docfreq +
    # scoring join) runtime exchange reuse already dedupes the text pass,
    # and the checkpoint replaces it with an extra job.
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"))
    docfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    scored = (
        tf.join(docfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("_n") + 1).cast("double") / (F.col("df") + 1))
                   + F.lit(1.0)),
                6,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "tfidf",
                F.col("rnk").cast("bigint").alias("rnk"))
    )


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Build an inverted index: one row per term with its document frequency
    and the sorted posting list of matching doc ids — the search/retrieval
    primitive over a document corpus.

    Plan: explode to DISTINCT (doc, term) pairs (array_distinct before the
    explode keeps within-doc duplicates off the shuffle), one hash aggregate
    on term.  At 100 TB the exploded stream shuffles term+id only (never
    text); posting lists for stop-word-like terms are the skew risk, so
    ``min_df`` filtering and the doc-frequency column let callers drop or
    split heavy terms.  Postings surface as a comma-joined string so the
    output is engine-portable (array canonicalization differs per engine)."""
    pairs = df.select(
        F.col(id_col).alias("_id"),
        F.explode(F.array_distinct(tokens_col(F.col(text_col)))).alias("term"),
    )
    return (
        pairs.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("doc_freq"),
            F.concat_ws(
                ",", F.transform(F.array_sort(F.collect_list("_id")),
                                 lambda x: x.cast("string"))).alias("postings"),
        )
        .filter(F.col("doc_freq") >= min_df)
    )


def bm25_score(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    (public formula, Robertson/Spärck Jones):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        score   = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·len/avglen))

    Plan: corpus stats first — one explode->aggregate pass restricted to the
    query's terms (the filter lands BEFORE the shuffle, so only matching
    (doc, term) pairs move; a q-term query shuffles at most q rows per doc).
    Document lengths and the corpus average ride along from a map-only
    projection + a 1-row broadcast aggregate.  Scoring is a per-doc sum over
    at most |query| joined rows — no text ever shuffles.  Scores round to
    6 dp for engine portability."""
    qlits = [t.lower() for t in query_terms]
    toks = df.select(
        F.col(id_col).alias("_id"),
        tokens_col(F.col(text_col)).alias("_toks"))
    lens = toks.select("_id", F.size("_toks").cast("bigint").alias("_len"))
    corpus = lens.agg(
        F.count(F.lit(1)).cast("bigint").alias("_n"),
        F.avg("_len").alias("_avglen"))
    tf = (
        toks.select("_id", F.explode(
            F.filter(F.col("_toks"), lambda t: t.isin(*qlits))).alias("term"))
        .groupBy("_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    docfreq = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .join(lens, "_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("_n") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    norm = F.col("tf") + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_len") / F.col("_avglen"))
    # per-term score is pure scalar double math (deterministic); the per-doc
    # SUM rounds each term to 9 dp and accumulates as decimal so the total is
    # independent of addition order (and so the DuckDB twin matches exactly)
    term_score = F.round(idf * F.col("tf") * F.lit(k1 + 1.0) / norm, 9).cast(
        "decimal(38,12)")
    return (
        scored.groupBy(F.col("_id").alias(id_col))
        .agg(F.round(F.sum(term_score), 6).cast("double").alias("bm25"),
             F.count(F.lit(1)).cast("bigint").alias("n_query_terms_hit"))
    )


def term_freq_histogram(
    df: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Corpus frequency-of-frequencies: how many distinct terms occur
    exactly n times — the Zipf/vocabulary profile used to pick stopword and
    rare-term cutoffs before building vocabularies or TF-IDF weights.

    Two cascaded hash aggregates (term counts, then count-of-counts); the
    second input is the term vocabulary, so the histogram costs one small
    aggregate beyond the (term) shuffle that any vocabulary build pays."""
    toks = df.select(F.explode(tokens_col(F.col(text_col))).alias("term"))
    tf = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("occurrences"))
    return tf.groupBy("occurrences").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"))


# -- modules ---------------------------------------------------------------


TableRedactPii = _simple_module(
    "table.redact_pii",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": redact_pii(
        im["table"].data, **config_kwargs(self, text_col="text_column"))},
    doc="Mask emails/IPs/phones + per-kind counts; map-only regex pass.",
)

TableDecontaminate = _simple_module(
    "table.decontaminate",
    {"train": TABLE, "eval": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": decontaminate(
        im["train"].data, im["eval"].data,
        **config_kwargs(self, id_col="id_column", text_col="text_column",
                        n="ngram"))},
    doc="Flag training docs sharing any word n-gram with an eval set; "
        "ngram-hash join, text never shuffles.",
)

TableRepetitionStats = _simple_module(
    "table.repetition_stats",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": repetition_stats(
        im["table"].data, **config_kwargs(self, text_col="text_column"))},
    doc="Gopher-style duplicate-line/token fractions; map-only.",
)

TableTfidfTopTerms = _simple_module(
    "table.tfidf_top_terms",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": tfidf_top_terms(
        im["table"].data,
        **config_kwargs(self, "k", id_col="id_column",
                        text_col="text_column"))},
    doc="Top-k TF-IDF terms per doc (smoothed idf); two aggregates + "
        "window top-k.",
)

TableInvertedIndex = _simple_module(
    "table.inverted_index",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": inverted_index(
        im["table"].data,
        **config_kwargs(self, "min_df", id_col="id_column",
                        text_col="text_column"))},
    doc="Term -> (doc_freq, sorted posting list) inverted index; distinct "
        "(doc, term) explode + one term aggregate.",
)

TableBm25Score = _simple_module(
    "table.bm25_score",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": bm25_score(
        im["table"].data, self.config["query_terms"],
        **config_kwargs(self, "k1", "b", id_col="id_column",
                        text_col="text_column"))},
    doc="Okapi BM25 relevance vs a fixed query (config: query_terms, k1, b); "
        "pre-shuffle term filter, text never moves.",
)

TableTermFreqHistogram = _simple_module(
    "table.term_freq_histogram",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": term_freq_histogram(
        im["table"].data, **config_kwargs(self, text_col="text_column"))},
    doc="Corpus frequency-of-frequencies (Zipf profile); two cascaded "
        "aggregates.",
)

TRACKING_PARAMS = "utm_[a-z]+|fbclid|gclid|ref_src"


def canonical_url(url):
    """Canonical form of a URL for web-corpus dedup — the normalization
    every crawl pipeline applies before URL-level dedup (the cheapest dedup
    tier: same canonical URL => same fetch, no content comparison needed).

    Rules, in order (each a portable lookaround-free regex — Java and RE2
    agree; replacements differ only in backref syntax, `$1` vs `\\1`, so
    the DuckDB twin mirrors this chain with `\\1`):
    1. strip scheme (http/https, any case)  — http vs https collide;
    2. strip a leading ``www.``;
    3. drop the fragment;
    4. remove tracking params (utm_*, fbclid, gclid, ref_src), then a
       dangling ``?``;
    5. strip default ports ``:80``/``:443``;
    6. lowercase the HOST (path stays case-sensitive);
    7. strip one trailing slash.

    Map-only expression — canonicalization runs at scan throughput."""
    u = F.col(url) if isinstance(url, str) else url
    u = F.regexp_replace(F.trim(u), "(?i)^https?://", "")
    u = F.regexp_replace(u, "(?i)^www\\.", "")
    u = F.regexp_replace(u, "#.*$", "")
    # tracking params must be anchored at a separator — an unanchored
    # pattern would eat 'fbclid=1' out of a param NAMED 'xfbclid' (r4
    # review).  Three separator-preserving passes (r4 review round 2: a
    # blanket '&'->'?' promotion corrupted URLs with a literal '&' in the
    # path): first drop every '&'-separated tracking param; any tracking
    # param left is then in FIRST position, so one '?trk=...&' -> '?'
    # rewrite (next param inherits the '?') and one trailing
    # '?trk=...$' -> '' finish the job without ever touching non-query
    # '&' characters.
    u = F.regexp_replace(u, f"&({TRACKING_PARAMS})=[^&]*", "")
    u = F.regexp_replace(u, f"\\?({TRACKING_PARAMS})=[^&]*&", "?")
    u = F.regexp_replace(u, f"\\?({TRACKING_PARAMS})=[^&]*$", "")
    u = F.regexp_replace(u, "\\?$", "")  # a natively-dangling lone '?'
    u = F.regexp_replace(u, "^([^/:]+):(80|443)($|/)", "$1$3")
    u = F.concat(F.lower(F.regexp_extract(u, "^[^/]*", 0)),
                 F.regexp_replace(u, "^[^/]*", ""))
    return F.regexp_replace(u, "/$", "")


def url_dup_groups(df: DataFrame, url_col: str = "url",
                   id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup groups: (canonical_url, url_host, n_dups, keep_id).
    One map-only canonicalization + one hash aggregate on the canonical
    key — at 100 TB only the (short) canonical strings shuffle, with
    map-side combine; min-id survivor matches every other dedup family."""
    keyed = df.select(
        F.col(id_col),
        canonical_url(url_col).alias("canonical_url"))
    return (keyed.groupBy("canonical_url")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_dups"),
                 F.min(id_col).alias("keep_id"))
            .withColumn("url_host",
                        F.regexp_extract("canonical_url", "^[^/]*", 0)))


TableUrlDedup = _simple_module(
    "table.dedup.url",
    {"table": TABLE},
    {"groups": TABLE},
    lambda self, im, ctx: {"groups": url_dup_groups(
        im["table"].data,
        **config_kwargs(self, url_col="url_column", id_col="id_column"))},
    doc="URL canonicalization + dedup groups (scheme/www/fragment/"
        "tracking-param/port/case/trailing-slash normalization, min-id "
        "survivor).",
)

def _dsir_process(self, im: ValueMap, context):
    return {"table": dsir_sample(
        im["table"].data, im["target"].data,
        **config_kwargs(self, "buckets", "top_k", "gumbel", id_col="id_column",
                        text_col="text_column"))}


TableDsirSample = _simple_module(
    "table.sample.dsir", {"table": TABLE, "target": TABLE},
    {"table": TABLE}, _dsir_process,
    doc="DSIR importance resampling toward a target domain "
        "(hashed-bigram importance weights, Gumbel-top-k)")


TablePerplexityBuckets = _simple_module(
    "table.quality.perplexity_buckets",
    {"table": TABLE},
    {"table": TABLE},
    lambda self, im, ctx: {"table": perplexity_buckets(
        im["table"].data,
        **config_kwargs(self, "n_buckets", id_col="id_column",
                        text_col="text_column", group_col="group_column"))},
    doc="CCNet head/middle/tail perplexity tiles under the corpus's own "
        "unigram LM",
)

MODULES = [TableUrlDedup, TableRedactPii, TableDecontaminate, TableRepetitionStats,
           TableTfidfTopTerms, TableInvertedIndex, TableBm25Score,
           TableTermFreqHistogram, TableDsirSample, TablePerplexityBuckets]
OPERATIONS = [
    Operation("table.sample.dsir", "table.sample.dsir",
              doc="DSIR importance resampling toward a target domain"),
    Operation("table.quality.perplexity_buckets",
              "table.quality.perplexity_buckets",
              doc="CCNet-style perplexity head/middle/tail tiles"),
    Operation("table.dedup.url", "table.dedup.url",
              doc="URL canonicalization + dedup groups"),
    Operation("table.inverted_index", "table.inverted_index",
              doc="inverted index: term -> posting list"),
    Operation("table.term_freq_histogram", "table.term_freq_histogram",
              doc="corpus term frequency-of-frequencies"),
    Operation("table.bm25_score", "table.bm25_score",
              doc="BM25 relevance scores against a fixed query"),
    Operation("table.redact_pii", "table.redact_pii",
              doc="PII masking + counts"),
    Operation("table.decontaminate", "table.decontaminate",
              doc="train/eval n-gram overlap flags"),
    Operation("table.repetition_stats", "table.repetition_stats",
              doc="duplicate-line/token repetition signals"),
    Operation("table.tfidf_top_terms", "table.tfidf_top_terms",
              doc="per-doc top-k TF-IDF terms"),
]
