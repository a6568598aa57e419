"""Text-analysis operators over document tables (SURVEY §2.3 LLM-data ops).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs.  Every function here is deliberately
expressible in portable SQL so the DuckDB oracle can verify it exactly:
hashes are md5 hex strings (identical in every engine), tokenization is a
single shared regex.

At 100 TB these are embarrassingly parallel map-only transforms: no shuffle,
no driver data, scale is limited only by scan throughput.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..modules import STRING, TABLE, _simple_module, config_kwargs
from ..operations import Operation

TOKEN_SPLIT_RE = "[^a-z0-9]+"

# small built-in stopword sets for the language-ID heuristic; ASCII-only so
# regex/string semantics match across engines.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por"],
    "fr": ["le", "la", "les", "des", "une", "est", "dans", "pour"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"],
    "zh": ["de", "shi", "bu", "le", "ren", "wo", "zhe", "men"],
}

STOPWORDS_EN = LANG_MARKERS["en"] + ["a", "an", "it", "for", "on", "as", "are", "be"]


def tokens_col(text: Column) -> Column:
    """Lowercased word tokens; '' artifacts from leading/trailing separators
    removed.  DuckDB twin: list_filter(string_split_regex(lower(x),
    '[^a-z0-9]+'), t -> t <> '')."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token count, distinct tokens, avg token length, type-token ratio.

    The token and distinct-token arrays are STAGED as columns (r12,
    guide §1.2): written inline the four outputs reference the regex
    tokenization eight times (and the distinct-pass twice), and this
    lambda-bearing Project has no subexpression elimination — staged,
    each runs once per row.  Same expressions → identical values."""
    toks = F.col("_ts_tk")
    return (df
            .withColumn("_ts_tk", tokens_col(F.col(text_col)))
            .withColumn("_ts_dtk", F.array_distinct(toks))
            .withColumns(
        {
            "num_tokens": F.size(toks),
            "num_distinct_tokens": F.size(F.col("_ts_dtk")),
            "avg_token_len": F.when(
                F.size(toks) > 0,
                F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
                / F.size(toks),
            ).otherwise(F.lit(0.0)).cast("double"),
            "type_token_ratio": F.when(
                F.size(toks) > 0,
                F.size(F.col("_ts_dtk")).cast("double") / F.size(toks),
            ).otherwise(F.lit(0.0)),
        }
    ).drop("_ts_tk", "_ts_dtk"))


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality scoring: length, alpha ratio, stopword ratio,
    mean-word-length sanity — the standard pretraining-filter features
    (C4/Gopher-style rules, public literature)."""
    text = F.col(text_col)
    # Stage the token array (r12): inline, the three token-derived outputs
    # reference the regex tokenization ~7x in a lambda-bearing Project
    # with no subexpression elimination; staged it runs once per row.
    toks = F.col("_qs_tk")
    df = df.withColumn("_qs_tk", tokens_col(text))
    n_tok = F.size(toks)
    alpha_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z0-9]", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS_EN)))
    out = df.withColumns(
        {
            "num_tokens": n_tok,
            "alpha_ratio": F.when(
                F.length(text) > 0, alpha_chars.cast("double") / F.length(text)
            ).otherwise(F.lit(0.0)),
            "stopword_ratio": F.when(
                n_tok > 0, stop_hits.cast("double") / n_tok
            ).otherwise(F.lit(0.0)),
            "mean_word_len": F.when(
                n_tok > 0,
                F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)).cast("double") / n_tok,
            ).otherwise(F.lit(0.0)),
        }
    )
    quality = (
        F.when((F.col("num_tokens") >= 5) & (F.col("num_tokens") <= 100000), F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(F.col("alpha_ratio") >= 0.6, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when(F.col("stopword_ratio") >= 0.01, F.lit(0.25)).otherwise(F.lit(0.0))
        + F.when((F.col("mean_word_len") >= 2.0) & (F.col("mean_word_len") <= 12.0), F.lit(0.25)).otherwise(F.lit(0.0))
    )
    return out.withColumn("quality_score", quality.cast("double")) \
        .drop("_qs_tk")


GOPHER_REQUIRED_WORDS = ["the", "be", "to", "of", "and", "that", "have",
                         "with"]


def with_gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_required_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, 'Scaling Language
    Models', Table A1 — the standard pretraining document filter; same
    rules MassiveText/RefinedWeb/Dolma apply).  Appends per-rule signals
    and booleans plus the conjunction ``pass_gopher``:

    - word count in [min_words, max_words]
    - mean word length in [min_mean_word_len, max_mean_word_len]
    - '#' / '...' symbols per word <= max_symbol_word_ratio
    - fraction of lines starting with a bullet <= max_bullet_line_ratio
    - fraction of lines ending with an ellipsis <= max_ellipsis_line_ratio
    - fraction of words containing an alphabetic char >= min_alpha_word_ratio
    - at least min_required_hits distinct words from the required-word list

    Everything is whole-stage-codegen expressions over one split — a pure
    map, no shuffle, no UDF; ratios stay RAW double divisions of integer
    counts (deterministic IEEE — no rounding needed for an exact oracle
    twin)."""
    text = F.col(text_col)
    # Stage the word and line arrays (r12): inline, the six rule outputs
    # reference each whitespace split up to 6x in a lambda-bearing Project
    # with no subexpression elimination; staged, each split+filter runs
    # once per row (this is also the projection a STREAMING run executes
    # per micro-batch — the path where minhash_signature measured 8x).
    words = F.col("_gr_words")
    lines = F.col("_gr_lines")
    df = df.withColumns({
        "_gr_words": F.filter(F.split(text, "\\s+"),
                              lambda w: w != F.lit("")),
        "_gr_lines": F.filter(F.split(text, "\n"),
                              lambda ln: F.trim(ln) != F.lit("")),
    })
    n_words = F.size(words)
    n_lines = F.size(lines)
    n_bullet = F.size(F.filter(
        lines, lambda ln: F.ltrim(ln).rlike("^([-*•‣▪])")))
    n_ellipsis = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike("(\\.\\.\\.|…)$")))
    n_alpha_words = F.size(F.filter(
        words, lambda w: F.lower(w).rlike("[a-z]")))
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_dots3 = (F.length(text)
               - F.length(F.regexp_replace(text, "\\.\\.\\.", ""))) / F.lit(3)
    low_toks = tokens_col(text)
    n_required = F.size(F.array_intersect(
        F.array_distinct(low_toks),
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_WORDS])))
    out = df.withColumns({
        "n_words": n_words.cast("bigint"),
        "mean_word_len": F.when(
            n_words > 0,
            F.aggregate(words, F.lit(0),
                        lambda a, w: a + F.length(w)).cast("double") / n_words
        ).otherwise(F.lit(0.0)),
        "symbol_word_ratio": F.when(
            n_words > 0, (n_hash + n_dots3).cast("double") / n_words
        ).otherwise(F.lit(0.0)),
        "bullet_line_ratio": F.when(
            n_lines > 0, n_bullet.cast("double") / n_lines
        ).otherwise(F.lit(0.0)),
        "ellipsis_line_ratio": F.when(
            n_lines > 0, n_ellipsis.cast("double") / n_lines
        ).otherwise(F.lit(0.0)),
        "alpha_word_ratio": F.when(
            n_words > 0, n_alpha_words.cast("double") / n_words
        ).otherwise(F.lit(0.0)),
        "n_required_hits": n_required.cast("bigint"),
    })
    checks = {
        "ok_word_count": (F.col("n_words") >= min_words)
                         & (F.col("n_words") <= max_words),
        "ok_mean_word_len": (F.col("mean_word_len") >= min_mean_word_len)
                            & (F.col("mean_word_len") <= max_mean_word_len),
        "ok_symbol_ratio": F.col("symbol_word_ratio") <= max_symbol_word_ratio,
        "ok_bullet_lines": F.col("bullet_line_ratio") <= max_bullet_line_ratio,
        "ok_ellipsis_lines":
            F.col("ellipsis_line_ratio") <= max_ellipsis_line_ratio,
        "ok_alpha_words": F.col("alpha_word_ratio") >= min_alpha_word_ratio,
        "ok_required_words": F.col("n_required_hits") >= min_required_hits,
    }
    out = out.withColumns(checks)
    passed = F.lit(True)
    for c in checks:
        passed = passed & F.col(c)
    return out.withColumn("pass_gopher", passed).drop("_gr_words",
                                                      "_gr_lines")


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """First round of BPE tokenizer training (Sennrich et al. 2016):
    count every adjacent character pair across the corpus weighted by
    word frequency and rank the merge candidates.

    The classic formulation trains on the word-frequency dictionary, so
    the heavy text only feeds ONE (word)-key aggregate; pair extraction
    then runs over the tiny distinct-word table (corpus-size-independent
    vocabulary), and a second (pair)-key aggregate + one top-k window
    finish the job.  Pairs come straight from ``substring(word, i, 2)``
    — no per-char explode.  Returns (rank, pair, n_occurrences), ties on
    count broken by pair text."""
    words = (df.select(F.explode(tokens_col(F.col(text_col))).alias("_w"))
             .groupBy("_w")
             .agg(F.count(F.lit(1)).cast("bigint").alias("_wc")))
    pairs = words.select(
        "_wc",
        F.explode(F.when(
            F.length("_w") >= 2,
            F.transform(F.sequence(F.lit(1), F.length("_w") - 1),
                        lambda i: F.col("_w").substr(i, F.lit(2)))
        ).otherwise(F.array().cast("array<string>"))).alias("pair"))
    counts = (pairs.groupBy("pair")
              .agg(F.sum("_wc").cast("bigint").alias("n_occurrences")))
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return (counts.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= top_k)
            .select("rank", "pair", "n_occurrences"))


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 10,
    min_pair_count: int = 2,
) -> DataFrame:
    """Full iterative BPE tokenizer training (Sennrich et al. 2016) — the
    multi-round extension of :func:`bpe_merge_candidates`: each round
    counts adjacent symbol pairs across the word-frequency dictionary,
    merges the most frequent pair (ties broken lexicographically) in every
    word left-to-right non-overlapping, and repeats until ``n_merges``
    merges are learned or no pair reaches ``min_pair_count``.

    Scale design (why this survives 100 TB): the corpus feeds exactly ONE
    (word)-key aggregate; all training rounds run on the distinct-word
    dictionary (vocabulary-sized, corpus-size-independent), checkpointed so
    round r never rescans the corpus or replays rounds 1..r-1.  Per round:
    one pair-count aggregate with a 1-ROW argmax collect (the merge
    decision is the only driver state) and one map-only fold that applies
    the merge inside array expressions (``F.aggregate`` left-fold — L2R
    non-overlapping, the reference BPE semantics).  No UDFs anywhere.

    No end-of-word marker is appended (merges can span the whole word);
    callers wanting GPT-2-style word boundaries can pre-suffix tokens.

    Returns the learned merge table (rank, left, right, merged,
    n_occurrences) — the artifact a BPE encoder consumes."""
    from ..io import cut_lineage

    spark = df.sparkSession
    words = (df.select(F.explode(tokens_col(F.col(text_col))).alias("_w"))
             .groupBy("_w")
             .agg(F.count(F.lit(1)).cast("bigint").alias("_wc")))
    chars = F.transform(F.sequence(F.lit(1), F.length("_w")),
                        lambda i: F.col("_w").substr(i, F.lit(1)))
    cur = cut_lineage(words.select("_wc", chars.alias("_seq")))

    merges = []
    for r in range(n_merges):
        adj = F.when(
            F.size("_seq") >= 2,
            F.transform(F.sequence(F.lit(1), F.size("_seq") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("_seq"), i).alias("l"),
                            F.element_at(F.col("_seq"), i + 1).alias("r")))
        ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))
        best = (cur.select("_wc", F.explode(adj).alias("_p"))
                .groupBy(F.col("_p.l").alias("_l"), F.col("_p.r").alias("_r"))
                .agg(F.sum("_wc").cast("bigint").alias("_n"))
                .orderBy(F.col("_n").desc(), "_l", "_r")
                .limit(1).collect())
        if not best or best[0]._n < min_pair_count:
            break
        a, b, cnt = best[0]._l, best[0]._r, best[0]._n
        la, lb = F.lit(a), F.lit(b)
        fold = F.aggregate(
            F.col("_seq"), F.array().cast("array<string>"),
            lambda acc, x: F.when(
                (F.size(acc) > 0) & (F.element_at(acc, -1) == la)
                & (x == lb),
                F.concat(F.slice(acc, 1, F.size(acc) - 1),
                         F.array(F.concat(la, lb)))
            ).otherwise(F.concat(acc, F.array(x))))
        cur = cut_lineage(cur.withColumn("_seq", fold))
        merges.append((r + 1, a, b, a + b, int(cnt)))
    return spark.createDataFrame(
        merges or [],
        "rank bigint, left string, right string, merged string, "
        "n_occurrences bigint")


def cooccurrence_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
    top_k: int = 50,
) -> DataFrame:
    """Document-level token co-occurrence with pointwise mutual information
    (Church & Hanks 1990) — the standard collocation / word-association
    signal: pmi(a,b) = ln( c_ab · N / (c_a · c_b) ) over document
    containment counts.

    Scale design: the text is tokenized and deduplicated WITHIN each row
    (``array_distinct`` — no shuffle), exploded once to (doc, token), and
    the token vocabulary is pruned to ``df >= min_count`` BEFORE pair
    generation (a pair needs c_ab >= min_count, which implies both members
    pass, so the prune is lossless).  Pairs then come from a self-join on
    the doc key — blowup is per-doc-distinct-tokens², never vocabulary².
    One aggregate on the pair key + a global top-k sort over the
    (already count-filtered, small) collocation table finish the job.
    ln() is applied to an exact integer ratio and rounded to 6 dp, so any
    libm reproduces the doubles.
    """
    # r12 note: cut_lineage of the exploded rows and/or the pruned rows
    # was measured SLOWER (1.29 -> 1.57s median) — runtime exchange reuse
    # already dedupes the duplicated branches, and checkpointing the
    # exploded token stream materializes something larger than the input.
    toks = df.select(
        F.col(id_col).alias("_d"),
        F.explode(F.array_distinct(tokens_col(F.col(text_col))))
        .alias("_t"))
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("_nd"))
    cnt = (toks.groupBy("_t")
           .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
           .filter(F.col("_c") >= min_count))
    pruned = toks.join(cnt, "_t")
    x = pruned.select(F.col("_d"), F.col("_t").alias("a"),
                      F.col("_c").alias("ca"))
    y = pruned.select(F.col("_d"), F.col("_t").alias("b"),
                      F.col("_c").alias("cb"))
    pairs = (x.join(y, "_d")
             .filter(F.col("a") < F.col("b"))
             .groupBy("a", "b", "ca", "cb")
             .agg(F.count(F.lit(1)).cast("bigint").alias("cab"))
             .filter(F.col("cab") >= min_count))
    return (pairs.crossJoin(F.broadcast(n_docs))
            .select(
                "a", "b", "ca", "cb", "cab",
                F.round(F.log(F.col("cab").cast("double") * F.col("_nd")
                              / (F.col("ca") * F.col("cb"))), 6)
                .alias("pmi"))
            .orderBy(F.col("pmi").desc(), "a", "b")
            .limit(top_k))


def chi2_feature_select(
    df: DataFrame,
    text_col: str = "text",
    label_col: str = "lang",
    min_df: int = 5,
    top_k: int = 10,
) -> DataFrame:
    """Chi-square feature selection: for every (label, token) pair, the
    2x2 chi-square statistic of token presence vs class membership —
    the standard supervised vocabulary ranking (Yang & Pedersen 1997).

    With a = docs of the label containing the token, b = other docs of
    the label, c = docs of other labels with the token, d = the rest:

        chi2 = N (ad - bc)^2 / ((a+b)(c+d)(a+c)(b+d))

    Scale design: one (doc, token) distinct explode (dedup inside the
    row via array_distinct — no extra shuffle), ONE (token, label)
    aggregate, two tiny side aggregates (per-token and per-label doc
    counts, broadcast back), and a per-label top-k window over the
    already-filtered candidate table.  The counts are exact integers;
    the statistic is assembled in fixed-order IEEE double arithmetic
    (deterministic on any engine) and rounded to 6 dp.  Tokens rarer
    than ``min_df`` docs or present in every doc are excluded."""
    toks = df.select(
        F.col(label_col).alias("label"),
        F.explode(F.array_distinct(tokens_col(F.col(text_col))))
        .alias("token"))
    # r12 note: a cut_lineage of the (token, label) grid was measured
    # SLOWER (1.05 -> 1.21s median) — two consumers, runtime exchange
    # reuse already covers them.
    tl = toks.groupBy("token", "label").agg(
        F.count(F.lit(1)).cast("bigint").alias("a"))
    tok_tot = (tl.groupBy("token")
               .agg(F.sum("a").cast("bigint").alias("tt"))
               .filter(F.col("tt") >= min_df))
    lab_tot = df.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("lt"))
    n_docs = df.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    cand = (tl.join(tok_tot, "token")
            .join(F.broadcast(lab_tot), "label")
            .crossJoin(F.broadcast(n_docs))
            .filter(F.col("tt") < F.col("nn")))  # universal tokens carry no signal
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    a, tt, lt, nn = d("a"), d("tt"), d("lt"), d("nn")
    b = lt - a
    c = tt - a
    dd = nn - lt - tt + a
    diff = a * dd - b * c
    denom = (a + b) * (c + dd) * (a + c) * (b + dd)
    chi2 = F.when(denom > 0,
                  F.round(nn * diff * diff / denom, 6)).otherwise(F.lit(0.0))
    scored = cand.select("label", "token", F.col("a").alias("n_with_token"),
                         chi2.alias("chi2"))
    w = Window.partitionBy("label").orderBy(F.col("chi2").desc(), "token")
    return (scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rank") <= top_k)
            .select("label", "rank", "token", "n_with_token", "chi2"))


def textrank_keywords(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 2,
    iterations: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): build the
    corpus word co-occurrence graph (tokens within ``window`` positions of
    each other in a document, undirected, unweighted — the paper's
    construction) and rank words by fixed-iteration PageRank.

    Composition showcase: co-occurring pairs are generated MAP-SIDE from
    the token array (per position, the <= ``window`` following tokens —
    tokens x window rows, no positional self-join: the previous self-join
    on the doc key materialized the full per-doc token cartesian before
    the window filter, O(doc_len^2) rows per document), and the ranking
    reuses the engine's bit-stable
    :func:`~kiara_spark.operators.graph.pagerank` (decimal-exact
    contribution sums — so even this two-operator composition hash-matches
    a SQL twin).  Returns the global top-``top_k`` (keyword, rank)."""
    from .graph import pagerank

    # Stage the token array as a COLUMN before the nested pair lambdas
    # reference it — inlined, every element_at would re-embed the tokenize
    # subtree (the span_corruption lesson; CollapseProject keeps the stage
    # because the alias is non-cheap and multiply referenced).
    staged = (df.select(tokens_col(F.col(text_col)).alias("_tr_toks"))
              .withColumn("_tr_n", F.size("_tr_toks")))
    toks, n = F.col("_tr_toks"), F.col("_tr_n")
    # canonicalize (least, greatest) INSIDE the per-doc pair array and
    # array_distinct it map-side, so the global edge-set distinct shuffles
    # each undirected edge once per doc at most (the previous directed
    # distinct + union-swapped + second distinct shuffled the full pair
    # stream twice at double width)
    win_pairs = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.sequence(F.lit(1), F.least(F.lit(window), n - i)),
            lambda o: F.struct(
                F.least(F.element_at(toks, i),
                        F.element_at(toks, i + o)).alias("src"),
                F.greatest(F.element_at(toks, i),
                           F.element_at(toks, i + o)).alias("dst")))))
    canon = (staged.select(F.explode(F.array_distinct(
        F.when(n >= 2, win_pairs)
        .otherwise(F.array().cast(
            "array<struct<src:string,dst:string>>")))).alias("_e"))
        .select("_e.src", "_e.dst")
        .filter(F.col("src") != F.col("dst")).distinct())
    # src < dst and distinct => both emitted directions are distinct too
    und = canon.select(F.explode(F.array(
        F.struct(F.col("src"), F.col("dst")),
        F.struct(F.col("dst").alias("src"),
                 F.col("src").alias("dst")))).alias("_e")) \
        .select("_e.src", "_e.dst")
    ranks = pagerank(und, iterations=iterations, damping=0.85)
    return (ranks.select(F.col("id").alias("keyword"), "rank")
            .orderBy(F.col("rank").desc(), "keyword")
            .limit(top_k))


def bpe_encode(
    df: DataFrame,
    merges: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply a trained BPE merge table (:func:`bpe_train`'s artifact) to
    the corpus — the ENCODE half of the tokenizer, entirely in JVM string
    expressions (no UDF):

    Each word becomes a delimiter-wrapped symbol string ``(h)(e)(l)(l)(o)``
    and every merge (a, b)→ab is ONE ``replace('(a)(b)' → '(ab)')`` —
    left-to-right non-overlapping, exactly the trainer's fold semantics,
    and the per-symbol wrapping makes a cross-symbol match impossible
    (``(t)(he)`` can never match pattern ``(t)(h)``; tokens are [a-z0-9]+
    so the parens are safe).  The merge list rides into the plan as ONE
    broadcast array (a tokenizer model is a bounded artifact) and the
    merges apply as an ``F.aggregate`` left-fold — no driver loop, no
    Python.  One corpus scan, one hash aggregate on the doc key.

    Returns per doc: (id, n_words, n_chars, n_symbols, compression =
    chars/symbols) — the token-budget readout a data pipeline needs from
    its tokenizer."""
    marr = merges.agg(F.array_sort(F.collect_list(F.struct(
        F.col("rank").alias("k"), F.col("left").alias("l"),
        F.col("right").alias("r"), F.col("merged").alias("m"))))
        .alias("_ms"))
    words = df.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("_w"))
    chars = F.transform(F.sequence(F.lit(1), F.length("_w")),
                        lambda i: F.col("_w").substr(i, F.lit(1)))
    wrapped = F.concat(F.lit("("), F.array_join(chars, ")("), F.lit(")"))
    enc = F.aggregate(
        F.col("_ms"), wrapped,
        lambda acc, m: F.replace(
            acc,
            F.concat(F.lit("("), m["l"], F.lit(")("), m["r"], F.lit(")")),
            F.concat(F.lit("("), m["m"], F.lit(")"))))
    n_sym = (F.length(enc)
             - F.length(F.replace(enc, F.lit("("), F.lit(""))))
    return (words.crossJoin(F.broadcast(marr))
            .select(F.col(id_col), F.length("_w").alias("_nc"),
                    n_sym.alias("_ns"))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.sum("_nc").cast("bigint").alias("n_chars"),
                 F.sum("_ns").cast("bigint").alias("n_symbols"),
                 F.round(F.sum("_nc").cast("double")
                         / F.sum("_ns").cast("double"), 6)
                 .alias("compression")))


def _bigram_rows(df: DataFrame, text_col: str, *keep_cols: str) -> DataFrame:
    """(keep_cols..., w1, w2) consecutive-bigram rows.  The token array
    stages as a COLUMN before the pair lambda references it — inlined,
    every element_at re-embeds the tokenize subtree (the span-corruption
    lesson; shared by the bigram LM, Kneser-Ney, and G² collocations)."""
    staged = df.select(*keep_cols,
                       tokens_col(F.col(text_col)).alias("_bg_ws"))
    ws = F.col("_bg_ws")
    return (staged.select(
        *keep_cols,
        F.explode(F.when(F.size(ws) >= 2, F.transform(
            F.sequence(F.lit(1), F.size(ws) - 1),
            lambda i: F.struct(F.element_at(ws, i).alias("w1"),
                               F.element_at(ws, i + 1).alias("w2"))))
            .otherwise(F.array().cast(
                "array<struct<w1:string,w2:string>>"))).alias("_b"))
        .select(*keep_cols, "_b.w1", "_b.w2"))


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-trained bigram language-model scoring with add-1 smoothing —
    the next step up from the unigram perplexity stand-in (the CCNet-style
    quality signal with real context):

        score(doc) = mean over bigrams of  -ln( (c(w1,w2)+1) / (c(w1)+V) )

    where c(w1) counts bigram starts and V is the unigram vocabulary.

    Scale design: bigrams come from an index transform over the token
    array (map-only — no positional self-join), ONE (w1,w2) aggregate
    trains the model, the start counts derive from it by a second tiny
    aggregate, and scoring joins each doc bigram against the model on the
    bigram key.  Per-term logs are rounded to 9 dp and summed as
    DECIMAL(38,12) (the BM25 pattern) so the per-doc mean is
    partition-order-invariant and engine-exact at 6 dp.  Docs with fewer
    than 2 tokens have no bigrams and are absent."""
    ws = tokens_col(F.col(text_col))
    # r12 note: a cut_lineage of the bigram rows was measured SLOWER
    # (1.66 -> 2.16s median) — two consumers (model aggregate + scoring
    # join) are covered by runtime exchange reuse, and the checkpoint
    # materializes the exploded bigram stream (larger than the input).
    big = _bigram_rows(df, text_col, id_col)
    c2 = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("bigint").alias("c1"))
    vocab = (df.select(F.explode(ws).alias("_t")).agg(
        F.count_distinct(F.col("_t")).cast("bigint").alias("v")))
    term = F.round(-F.log((F.col("c2") + 1)
                          / (F.col("c1") + F.col("v")).cast("double")), 9) \
        .cast("decimal(38,12)")
    return (big.join(c2, ["w1", "w2"])
            .join(c1, "w1")
            .crossJoin(F.broadcast(vocab))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.sum(term).cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_neg_logprob")))


def collocations_llr(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
    min_count: int = 3,
) -> DataFrame:
    """Collocation detection by Dunning's log-likelihood ratio (G², 1993)
    — the statistically-sound complement to PMI (PMI over-ranks rare
    pairs; G² weights evidence by count, the standard phrase detector
    feeding tokenizer vocab and query suggestion).

    For each consecutive bigram (w1,w2) the 2×2 contingency vs the corpus:
    k11 = c(w1 w2), row/col margins from the unigram-start/-end counts,
    G² = 2·(Σ O·lnO − Σ margins·ln margins + N·lnN) with the xlnx terms
    assembled in a FIXED IEEE order from exact integer counts (ln of an
    integer is engine-stable; final round-6 decides the hash and the
    ``top_k`` order uses the rounded value + bigram tie-break).

    Plan: bigrams from an index transform over the token array (map-only,
    no positional self-join), ONE (w1,w2) aggregate, two tiny margin
    rollups broadcast back onto it, distributed top-k.  Returns
    (w1, w2, k11, g2)."""
    from ..io import cut_lineage

    big = _bigram_rows(df, text_col)
    # r12: materialize the tiny (w1,w2) grid — its four consumers (both
    # margin rollups, the total, the scored join) each re-embedded the
    # tokenize+bigram text pass (4 explodes in the executed plan -> 1).
    pair = cut_lineage(big.groupBy("w1", "w2")
                       .agg(F.count(F.lit(1)).cast("bigint").alias("k11")))
    r1 = pair.groupBy("w1").agg(F.sum("k11").cast("bigint").alias("_r1"))
    c1 = pair.groupBy("w2").agg(F.sum("k11").cast("bigint").alias("_c1"))
    n = pair.agg(F.sum("k11").cast("bigint").alias("_n"))
    j = (pair.join(F.broadcast(r1), "w1").join(F.broadcast(c1), "w2")
         .crossJoin(F.broadcast(n))
         .filter(F.col("k11") >= min_count))
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    k11, k12 = d("k11"), (d("_r1") - d("k11"))
    k21, k22 = (d("_c1") - d("k11")), \
        (d("_n") - d("_r1") - d("_c1") + d("k11"))

    def xlnx(v):
        return F.when(v > 0, v * F.log(v)).otherwise(F.lit(0.0))

    g2 = F.round(
        F.lit(2.0) * (xlnx(k11) + xlnx(k12) + xlnx(k21) + xlnx(k22)
                      - xlnx(d("_r1")) - xlnx(d("_n") - d("_r1"))
                      - xlnx(d("_c1")) - xlnx(d("_n") - d("_c1"))
                      + xlnx(d("_n"))), 6)
    return (j.select("w1", "w2", "k11", g2.alias("g2"))
            .orderBy(F.col("g2").desc(), "w1", "w2")
            .limit(top_k))


def kneser_ney_bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    discount: float = 0.75,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring — the real-LM step past
    add-1 smoothing (:func:`bigram_logprob`), the smoothing SOTA n-gram
    LMs actually ship (Kneser & Ney 1995; Chen & Goodman 1999):

        P(w₂|w₁) = max(c(w₁w₂) − D, 0)/c(w₁·)
                   + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)

    — absolute discounting plus the continuation-probability backoff
    (how many CONTEXTS a word follows, not how often it occurs: the
    "San Francisco" fix).

    Scale design is the bigram_logprob recipe: map-only bigram expansion
    from the token array, ONE (w₁,w₂) aggregate trains every statistic —
    c(w₁w₂); c(w₁·) and N₁₊(w₁·) by a second tiny rollup; N₁₊(·w₂) by a
    third; N₁₊(··) broadcast as one row — then scoring joins doc bigrams
    against the model on the bigram key.  All counts are exact integers;
    P evaluates in fixed-order IEEE doubles, −ln P rounds to 9 dp and
    sums as DECIMAL(38,12).  Returns (id, n_bigrams, avg_neg_logprob_kn);
    docs with < 2 tokens are absent."""
    from ..io import cut_lineage

    # r12: materialize the tiny (w1,w2) model grid — its FOUR consumers
    # (c1, cont, tt, the scoring join) each re-embedded the tokenize +
    # bigram text pass, which runtime exchange reuse only partially
    # deduped (measured 2.27 -> 1.39s median with the cut; checkpointing
    # the raw bigram rows as well was tried and is covered by exchange
    # reuse — two consumers — so only the grid is cut).
    big = _bigram_rows(df, text_col, id_col)
    c2 = cut_lineage(big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")))
    c1 = c2.groupBy("w1").agg(
        F.sum("c2").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("n1p"))
    cont = c2.groupBy("w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("contw"))
    tt = c2.agg(F.count(F.lit(1)).cast("bigint").alias("tt"))
    d_ = F.lit(float(discount))
    p = (F.greatest(F.col("c2").cast("double") - d_, F.lit(0.0))
         / F.col("c1").cast("double")
         + d_ * F.col("n1p").cast("double") / F.col("c1").cast("double")
         * (F.col("contw").cast("double") / F.col("tt").cast("double")))
    term = F.round(-F.log(p), 9).cast("decimal(38,12)")
    return (big.join(c2, ["w1", "w2"])
            .join(c1, "w1")
            .join(cont, "w2")
            .crossJoin(F.broadcast(tt))
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
                 F.round(F.sum(term).cast("double")
                         / F.count(F.lit(1)), 6)
                 .alias("avg_neg_logprob_kn")))


def naive_bayes_classify(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Multinomial Naive Bayes, trained AND applied in-engine (add-1
    smoothing) — the classic bag-of-words classifier (the fastText-style
    quality/language-filter stand-in every corpus pipeline runs):

        score(doc, c) = ln P(c) + Σ_w ln ((count(w,c)+1) / (count(c)+V))

    Scale design: training is ONE (word, class) aggregate + two tiny
    rollups (class token totals, priors, vocabulary size); scoring joins
    each doc token against the class-conditional table for ALL classes
    (token × |classes| fan-out — classes are bounded: languages, quality
    buckets) with a LEFT join so unseen (w, c) pairs fall back to the
    smoothing floor.  Per-token logs round to 9 dp and sum as
    DECIMAL(38,12) (partition-order invariant); argmax per doc rounds the
    total to 6 dp and tie-breaks on class name, so both engines pick the
    same winner bit-for-bit.  Self-training on the scored corpus keeps
    the demo closed; split train/apply frames for real use.

    Returns (id, actual, predicted, correct, score)."""
    from ..io import cut_lineage

    toks = df.select(F.col(id_col), F.col(label_col).alias("_c"),
                     F.explode(tokens_col(F.col(text_col))).alias("_w"))
    # r12: materialize the (word, class) model grid — THREE consumers
    # (class totals, vocabulary, scoring join) each re-embedded the
    # tokenize+explode pass (the kneser-ney grid lesson; 6 scans -> 2,
    # the remaining two being the grid build and the scoring fan-out).
    wc = cut_lineage(toks.groupBy("_w", "_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("_cwc")))
    ctot = wc.groupBy("_c").agg(F.sum("_cwc").cast("bigint").alias("_cc"))
    vocab = wc.select("_w").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("_v"))
    ndocs = df.agg(F.count(F.lit(1)).cast("bigint").alias("_nd"))
    prior = (df.groupBy(F.col(label_col).alias("_c"))
             .agg(F.count(F.lit(1)).cast("bigint").alias("_dc")))
    classes = ctot.select("_c", "_cc")
    grid = (toks.select(id_col, F.col("_c").alias("_actual"), "_w")
            .crossJoin(F.broadcast(classes))
            .join(wc, ["_w", "_c"], "left")
            .crossJoin(F.broadcast(vocab)))
    term = F.round(F.log(
        (F.coalesce(F.col("_cwc"), F.lit(0)) + 1).cast("double")
        / (F.col("_cc") + F.col("_v")).cast("double")), 9) \
        .cast("decimal(38,12)")
    per_class = (grid.groupBy(id_col, "_actual", "_c")
                 .agg(F.sum(term).alias("_lsum"))
                 .join(F.broadcast(prior), "_c")
                 .crossJoin(F.broadcast(ndocs)))
    total = F.round(
        F.col("_lsum").cast("double")
        + F.round(F.log(F.col("_dc").cast("double") / F.col("_nd")), 9), 6)
    # argmax(score) with smallest-class-name tie-break, as ONE struct-min
    # aggregate: min over (-score, class, score) maximizes score, then
    # takes the lexicographically first class on exact ties
    agg = per_class.groupBy(id_col, "_actual").agg(
        F.min(F.struct((-total).alias("ns"),
                       F.col("_c").alias("c"),
                       total.alias("s"))).alias("_b"))
    return agg.select(
        F.col(id_col), F.col("_actual").alias("actual"),
        F.col("_b.c").alias("predicted"),
        (F.col("_b.c") == F.col("_actual")).alias("correct"),
        F.col("_b.s").alias("score"))


def kwic_concordance(
    df: DataFrame,
    term: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = 3,
) -> DataFrame:
    """Keyword-in-context concordance (the classic Digital-Humanities
    view the reference's language-processing plugin family serves): every
    occurrence of ``term`` with ``window`` tokens of left/right context.

    Map-only: posexplode the token array, filter to the term, and slice
    the context windows straight out of the SAME array with ``slice`` —
    no self-join, no second scan; the text column never shuffles.
    Returns (doc_id, position, left_context, term, right_context) with
    contexts as space-joined strings (1-based position).  Reference
    parity: kiara_plugin.language_processing's corpus exploration ops."""
    ws = tokens_col(F.col(text_col))
    pos = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.posexplode(ws).alias("_p0", "_t"))
    hits = pos.filter(F.col("_t") == term.lower()).select(
        id_col,
        (F.col("_p0") + 1).cast("bigint").alias("position"),
        F.col("_ws"))
    left_start = F.greatest(F.lit(1), F.col("position") - window)
    left_len = F.col("position") - left_start
    return hits.select(
        id_col, "position",
        F.concat_ws(" ", F.slice(F.col("_ws"),
                                 left_start.cast("int"),
                                 left_len.cast("int")))
        .alias("left_context"),
        F.lit(term.lower()).alias("term"),
        F.concat_ws(" ", F.slice(F.col("_ws"),
                                 (F.col("position") + 1).cast("int"),
                                 window)).alias("right_context"))


def remove_stopwords(
    df: DataFrame,
    text_col: str = "text",
    stopwords: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Stopword removal (the language-processing preprocessing staple):
    appends ``<text_col>_content`` holding the token stream with the
    stopword vocabulary dropped, plus ``n_removed``.  Map-only — the
    stopword set is a plan literal (array_contains over a literal array),
    so nothing broadcasts and nothing shuffles."""
    sw = [w.lower() for w in (stopwords or STOPWORDS_EN)]
    out_col = out_col or f"{text_col}_content"
    sw_lit = F.array(*[F.lit(w) for w in sw])
    ws = tokens_col(F.col(text_col))
    kept = F.filter(ws, lambda t: ~F.array_contains(sw_lit, t))
    return (df.withColumn(out_col, F.concat_ws(" ", kept))
            .withColumn("n_removed",
                        (F.size(ws) - F.size(kept)).cast("bigint")))


def term_trends(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Term usage trends (the n-gram-viewer readout): for each tracked
    term and group (time bucket, source, …), the occurrence count and its
    frequency per 1000 corpus tokens in that group — the comparable-
    across-groups normalization.

    One explode + two hash aggregates (per-(group, term) counts and
    per-group token totals, joined back — the totals table is
    |groups|-sized).  Zero cells are preserved via the group x term grid
    so trend lines don't silently skip buckets.  Frequencies round to
    6 dp."""
    terms_l = [t.lower() for t in terms]
    toks = df.select(F.col(group_col).alias("grp"),
                     F.explode(tokens_col(F.col(text_col))).alias("_t"))
    totals = toks.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("_tot"))
    counts = (toks.filter(F.col("_t").isin(terms_l))
              .groupBy("grp", F.col("_t").alias("term"))
              .agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    grid = totals.select("grp").crossJoin(
        df.sparkSession.createDataFrame([(t,) for t in terms_l],
                                        "term string"))
    return (grid.join(counts, ["grp", "term"], "left")
            .join(totals, "grp")
            .select(F.col("grp").alias(group_col), "term",
                    F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
                    F.round(F.coalesce("n", F.lit(0))
                            * F.lit(1000.0) / F.col("_tot"), 6)
                    .alias("per_1000_tokens"))
            .orderBy(group_col, "term"))


def _sstem_word(w):
    """Harman (1991) S-stemmer rules for one token column — the
    deterministic, dictionary-free plural stripper (the honest relational
    stand-in for the reference language-processing plugin's
    spacy/nltk lemmatizers, which need models this container lacks):
    -ies → -y (except -eies/-aies), -es → -e (except -aes/-ees/-oes),
    -s dropped (except -us/-ss)."""
    # each rule's exceptions TERMINATE (leave the word unchanged) rather
    # than falling through to a later rule — per Harman, 'goes'/'trees'
    # stay intact instead of losing their final 's'
    return (
        F.when(w.endswith("ies"),
               F.when(w.endswith("eies") | w.endswith("aies"), w)
               .otherwise(F.regexp_replace(w, "ies$", "y")))
        .when(w.endswith("es"),
              F.when(w.endswith("aes") | w.endswith("ees")
                     | w.endswith("oes"), w)
              .otherwise(F.regexp_replace(w, "es$", "e")))
        .when(w.endswith("s"),
              F.when(w.endswith("us") | w.endswith("ss"), w)
              .otherwise(F.regexp_replace(w, "s$", "")))
        .otherwise(w))


def stem_tokens(
    df: DataFrame,
    text_col: str = "text",
    out_col: str | None = None,
) -> DataFrame:
    """S-stemmer pass over the token stream: appends
    ``<text_col>_stemmed`` (space-joined stemmed tokens) and
    ``n_changed``.  Map-only — one ``transform`` over the token array,
    whole-stage codegen, nothing shuffles."""
    out_col = out_col or f"{text_col}_stemmed"
    ws = tokens_col(F.col(text_col))
    stemmed = F.transform(ws, _sstem_word)
    changed = F.size(F.filter(
        F.zip_with(ws, stemmed, lambda a, b: a != b), lambda x: x))
    return (df.withColumn(out_col, F.concat_ws(" ", stemmed))
            .withColumn("n_changed", changed.cast("bigint")))


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease score (Flesch 1948 — the standard readability
    quality signal; higher = easier):

      ``206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)``

    with the usual cheap proxies: sentences = runs of terminal
    punctuation, syllables = vowel-group count (``[aeiouy]+`` per word;
    groups can't span whitespace, so one regexp over the whole text
    equals the per-word sum).  Map-only codegen; the score is raw double
    arithmetic over integer counts — no rounding needed for an exact
    oracle twin.  NULL score when the doc has no words or no sentences
    (don't fake a readability for fragments)."""
    text = F.col(text_col)
    n_words = F.size(F.filter(F.split(text, "\\s+"),
                              lambda w: w != F.lit("")))
    n_sents = F.size(F.regexp_extract_all(text, F.lit("[.!?]+"), 0))
    n_syll = F.size(F.regexp_extract_all(F.lower(text),
                                         F.lit("[aeiouy]+"), 0))
    score = (F.lit(206.835)
             - F.lit(1.015) * (n_words.cast("double") / n_sents)
             - F.lit(84.6) * (n_syll.cast("double") / n_words))
    return df.withColumns({
        "n_words": n_words.cast("bigint"),
        "n_sentences": n_sents.cast("bigint"),
        "n_syllables": n_syll.cast("bigint"),
        "flesch_score": F.when((n_words > 0) & (n_sents > 0), score),
    })


def clean_c4(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words_per_line: int = 3,
    min_sentences: int = 3,
    banned_substrings: tuple = ("lorem ipsum", "{"),
    banned_line_words: tuple = ("javascript",),
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the rules
    behind the C4 corpus): keep only lines that end in terminal
    punctuation AND have >= ``min_words_per_line`` words AND mention no
    banned line word; drop the WHOLE document when it contains a banned
    substring ('lorem ipsum', '{') or the cleaned text ends with fewer
    than ``min_sentences`` sentence terminators.

    Output: (id, cleaned_text, n_lines, n_kept_lines, n_sentences,
    kept_doc) — exactly one row per input document; callers drop
    ``kept_doc = false`` rows (returning the verdict instead of silently
    dropping keeps the filter auditable, same policy as dedup_paragraphs).

    Pure map over one line split (codegen, no shuffle, no UDF)."""
    text = F.col(text_col)
    lines = F.split(text, "\n")

    def line_ok(ln):
        trimmed = F.trim(ln)
        n_w = F.size(F.filter(F.split(trimmed, "\\s+"),
                              lambda w: w != F.lit("")))
        ok = trimmed.rlike("[.!?\"”]$") & (n_w >= min_words_per_line)
        for bad in banned_line_words:
            ok = ok & ~F.contains(F.lower(ln), F.lit(bad))
        return ok

    kept = F.filter(lines, line_ok)
    cleaned = F.array_join(F.transform(kept, F.trim), "\n")
    n_sent = (F.length(cleaned)
              - F.length(F.regexp_replace(cleaned, "[.!?]", "")))
    doc_ok = n_sent >= F.lit(min_sentences)
    for bad in banned_substrings:
        doc_ok = doc_ok & ~F.contains(F.lower(text), F.lit(bad))
    return df.select(
        F.col(id_col),
        cleaned.alias("cleaned_text"),
        F.size(F.filter(lines, lambda ln: F.trim(ln) != F.lit("")))
         .cast("bigint").alias("n_lines"),
        F.size(kept).cast("bigint").alias("n_kept_lines"),
        n_sent.cast("bigint").alias("n_sentences"),
        doc_ok.alias("kept_doc"))


# Demo stand-in for a curated badword/toxicity list (the C4 pipeline's
# "List of Dirty, Naughty, Obscene..." step, Raffel et al. 2020 §2.2 —
# real deployments pass their environment's curated list; embedding one
# here would be both useless against the synthetic corpus and gratuitous).
# Drawn from the synthetic documents vocabulary so the demo scores are
# non-degenerate.
DEMO_WORDLIST = ("slow", "big", "merge", "hash")


def with_wordlist_score(
    df: DataFrame,
    text_col: str = "text",
    wordlist: tuple = DEMO_WORDLIST,
    flag_threshold: float = 0.15,
) -> DataFrame:
    """Word-list content scoring — the C4 banned-word filter (Raffel et
    al. 2020 §2.2: drop any page containing a word from a curated list)
    generalized to an auditable per-document score: the fraction of word
    tokens that hit ``wordlist``, plus a ``wl_flagged`` verdict at
    ``flag_threshold`` (a fraction, not C4's any-hit, so borderline docs
    are visible; pass ``flag_threshold=0`` semantics via a tiny epsilon
    for strict C4 behavior).  Returns the input columns plus
    (wl_n_tokens, wl_n_flagged, wl_flag_fraction, wl_flagged) — verdict,
    not a silent drop (the clean_c4/dedup_paragraphs audit policy).

    Pure map over one token split (codegen, no shuffle, no UDF); the
    word list is inlined as a literal isin predicate, so it must stay
    small — O(100) terms.  Larger lists (real blocklists run 100s-1000s
    of terms) should explode tokens and broadcast-join the list table
    instead; the literal path keeps the common case shuffle-free.

    Rounding note: wl_flag_fraction = n_f/n_t rounded half-up at 6 dp is
    tie-free — a tie needs the reduced denominator divisible by
    2^7*5^6 = 2e6 > any realistic per-doc token count — so the rounded
    value and the >= threshold verdict are engine-portable."""
    # Stage the token + flagged arrays (r12, guide §1.2): inlined, the
    # four outputs referenced the regex tokenization 8x per row (no
    # subexpression elimination in lambda-bearing Projects); staged, the
    # split and the filter each run once.  Identical values.
    orig_cols = df.columns
    df = df.withColumn("_wl_tk", tokens_col(F.col(text_col)))
    df = df.withColumn("_wl_fl",
                       F.filter(F.col("_wl_tk"),
                                lambda t: t.isin(*wordlist)))
    n_t = F.size(F.col("_wl_tk"))
    n_f = F.size(F.col("_wl_fl"))
    frac = F.when(
        n_t > 0,
        F.round(n_f.cast("double") / n_t.cast("double"), 6),
    ).otherwise(F.lit(0.0))
    return df.select(
        *orig_cols,
        n_t.cast("bigint").alias("wl_n_tokens"),
        n_f.cast("bigint").alias("wl_n_flagged"),
        frac.alias("wl_flag_fraction"),
        (frac >= F.lit(float(flag_threshold))).alias("wl_flagged"))


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword-membership language ID: score = count of tokens in each
    language's marker set; argmax wins (ties broken by language code order —
    deterministic)."""
    # Stage the token array (r12): inlined, each language's score column
    # re-ran the regex tokenization (len(LANG_MARKERS) splits per row in a
    # lambda-bearing Project with no subexpression elimination).
    orig_cols = df.columns
    staged = df.withColumn("_li_tk", tokens_col(F.col(text_col)))
    scores = [
        F.size(F.filter(F.col("_li_tk"), lambda t: t.isin(*words)))
        .alias(f"score_{lang}")
        for lang, words in LANG_MARKERS.items()
    ]
    out = staged.select(*orig_cols, *scores)
    langs = list(LANG_MARKERS)
    # argmax via greatest + chained when, first-match-wins in sorted lang order
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(sorted(langs)):
        pred = F.when((best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)).otherwise(pred)
    return out.withColumn("predicted_lang", pred)


def shingles_col(text: Column, k: int = 5) -> Column:
    """Distinct character k-grams of the lowercased text.
    DuckDB twin: list_distinct(list_transform(range(1, greatest(length(x)-k+2,
    1), substring(...)))."""
    low = F.lower(text)
    n = F.greatest(F.length(low) - F.lit(k - 1), F.lit(0))
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    seq = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(F.expr("array()"))
    return F.array_distinct(F.transform(seq, lambda i: F.substring(low, i, k)))


def word_shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-grams (space-joined) of the lowercased text — the
    standard shingling unit for LLM training-data dedup (C4/GPT-style
    pipelines shingle on words, not characters): ~avg-word-length× fewer
    shingles per document than char k-grams, so that much less digest work
    in minhash sketching.  DuckDB twin: list_filter(string_split(...)) words,
    then range + 1-based element concat."""
    words = F.filter(F.split(F.lower(text), " "), lambda w: w != "")
    m = F.greatest(F.size(words) - F.lit(n - 1), F.lit(0))
    # guard: sequence(1, 0) would produce a DESCENDING [1, 0] in Spark
    seq = F.when(m >= 1, F.sequence(F.lit(1), m)).otherwise(F.expr("array()"))
    return F.array_distinct(
        F.transform(
            seq,
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + F.lit(j)) for j in range(n)]
            ),
        )
    )


def base_hash32(col: Column) -> Column:
    """Portable 32-bit uniform hash: first 8 hex digits of md5 as a bigint.
    One digest per input; derived hash families multiply/mod on top of this.
    DuckDB twin: strpos-based hex-digit arithmetic (no conv() there)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def with_fingerprint(df: DataFrame, text_col: str = "text", k: int = 5, top: int = 8) -> DataFrame:
    """Document fingerprint: md5 over the ``top`` smallest 32-bit shingle
    hashes (a winnowing/min-k sketch; robust to small edits).  Sorting bigint
    hashes instead of 32-char digest strings keeps the per-doc sort cheap —
    at 100 TB this is a map-only transform bounded by scan throughput."""
    sh = shingles_col(F.col(text_col), k)
    hashed = F.array_sort(F.transform(sh, base_hash32))
    return df.withColumn(
        "fingerprint",
        F.md5(F.concat_ws("|", F.transform(F.slice(hashed, 1, top),
                                           lambda h: h.cast("string")))),
    )


def token_count_bpeish(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish estimate
    (ceil(chars/4) — the public rule-of-thumb for subword tokenizers)."""
    text = F.col(text_col)
    ws = F.size(tokens_col(text))
    return df.withColumns(
        {
            "ws_tokens": ws,
            "bpe_tokens_est": F.ceil(F.length(text) / F.lit(4.0)).cast("bigint"),
        }
    )


def chunk_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    size: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap — the
    standard pre-embedding step in training/RAG pipelines.  Map-only:
    sequence of chunk starts -> posexplode -> substring, all JVM built-ins;
    output row count ≈ input chars / (size - overlap), no shuffle at all.
    A final short chunk is kept (it still starts within the text)."""
    step = size - overlap
    if step <= 0:
        raise ValueError("chunk size must exceed overlap")
    text = F.col(text_col)
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(text), F.lit(1)),
        F.lit(step),
    )
    return (
        df.select(
            F.col(id_col),
            text.alias("_text"),
            F.posexplode(starts).alias("chunk_id", "_start"),
        )
        .select(
            id_col,
            "chunk_id",
            F.substring(F.col("_text"), F.col("_start"), size).alias("chunk_text"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


def chunk_by_sentences(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int = 400,
) -> DataFrame:
    """Sentence-aware chunking: split on sentence boundaries
    (``[.!?]+`` + whitespace), then greedily pack CONSECUTIVE sentences
    into chunks whose cumulative length stays ~``max_chars`` — the
    RAG-friendly splitter that never cuts mid-sentence (a sentence longer
    than ``max_chars`` becomes its own chunk).

    Plan: split -> posexplode(sentence) -> one window per doc computes the
    exclusive running length -> ``chunk_id = floor(excl / max_chars)`` ->
    re-assemble with concat_ws per (doc, chunk).  One shuffle on the doc
    id; same sharded-cumsum shape as ``pack_token_budget``."""
    # boundary = punctuation run + whitespace; marked with a unit-separator
    # sentinel then split — lookaround-free so the RE2-based oracle (DuckDB)
    # can reproduce the exact same segmentation
    marked = F.regexp_replace(F.col(text_col), r"([.!?]+)\s+", "$1\x1f")
    sentences = F.filter(
        F.split(marked, "\x1f"),
        lambda s: F.trim(s) != F.lit(""),
    )
    ex = df.select(
        F.col(id_col),
        F.posexplode(sentences).alias("_pos", "_sent"),
    ).withColumn("_len", F.length("_sent") + 1)  # +1 for the joining space
    w = (Window.partitionBy(id_col).orderBy("_pos")
         .rowsBetween(Window.unboundedPreceding, -1))
    excl = F.coalesce(F.sum("_len").over(w), F.lit(0))
    binned = ex.withColumn(
        "chunk_id", F.floor(excl / F.lit(float(max_chars))).cast("int"))
    return (
        binned.groupBy(id_col, "chunk_id")
        .agg(
            F.concat_ws(" ", F.array_sort(
                F.collect_list(F.struct("_pos", "_sent"))).getField("_sent"))
            .alias("chunk_text"),
            F.count(F.lit(1)).cast("bigint").alias("n_sentences"),
        )
        .withColumn("chunk_len", F.length("chunk_text"))
    )


# -- modules ---------------------------------------------------------------

def weighted_sample(df: DataFrame, weight_col, id_col: str = "doc_id") -> DataFrame:
    """Deterministic importance sampling: keep a row iff a uniform hash of
    its id falls below its weight (in [0,1]) — the standard quality-weighted
    training-mix sampler.  Fully map-side (no shuffle, no RNG state): the
    decision is a pure function of the id, so re-runs, retries, and
    different partitionings all pick the same rows, and the sample
    composition tracks the weight column exactly in expectation."""
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    u = (base_hash32(F.col(id_col).cast("string")) % F.lit(1000000)) / F.lit(1000000.0)
    return df.filter(u < w)


def weighted_reservoir_topk(
    df: DataFrame,
    weight_col,
    k: int = 100,
    id_col: str = "doc_id",
    salt: str = "aes",
) -> DataFrame:
    """Fixed-size weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, algorithm A-ES): each row draws key = ln(u)/w for a
    uniform u and the k LARGEST keys win — inclusion probability is
    proportional to weight, exactly the reservoir semantics, but as a pure
    top-k instead of sequential reservoir state.  Complements
    :func:`weighted_sample` (Bernoulli, variable size) with the
    fixed-budget variant a training-mix pipeline needs ("give me exactly
    100k docs, weighted by quality").

    u derives from md5(id ‖ salt) (epoch = new salt), so the sample is
    reproducible across runs/retries/partitionings/engines; keys round to
    9dp with an id tie-break so both engines make the same rank-k boundary
    call.  Plan: map-only key computation + TakeOrderedAndProject (each
    partition keeps its local top-k, driver merges k·P rows) — no global
    sort, no shuffle of the payload.  Rows with weight <= 0 can never win
    and are pre-filtered."""
    w = (weight_col if isinstance(weight_col, Column)
         else F.col(weight_col)).cast("double")
    u = F.greatest(
        F.conv(F.substring(F.md5(F.concat_ws(
            "#", F.col(id_col).cast("string"), F.lit(salt))), 1, 15),
            16, 10).cast("bigint").cast("double")
        / F.lit(1152921504606846976.0),
        F.lit(1e-18))
    key = F.round(F.log(u) / w, 9)
    return (df.filter(w > 0)
            .withColumn("wkey", key)
            .orderBy(F.col("wkey").desc(), F.col(id_col))
            .limit(k))


def token_dropout(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    drop_pct: int = 20,
    out_col: str = "augmented_text",
) -> DataFrame:
    """Deterministic token-dropout augmentation: drop ~``drop_pct``% of a
    document's tokens, with the drop decision a pure function of
    (doc id, token position) — no RNG state, so re-runs, retries, and any
    partitioning produce the SAME augmented corpus, and epoch-varied
    augmentation is just a salt in the id (``id || '#' || epoch``).

    Map-only: one hash per token position inside array lambdas, whole-stage
    codegen, zero shuffle — augmentation at scan throughput at any scale.
    Keeps token i (1-based) iff ``hash32(id || ':' || i) % 100 >=
    drop_pct``."""
    toks = tokens_col(F.col(text_col))
    # sequence(1, 0) would yield a DESCENDING [1, 0] — guard empty docs
    idx = F.when(F.size(toks) > 0,
                 F.sequence(F.lit(1), F.size(toks))) \
        .otherwise(F.array().cast("array<int>"))
    keep = lambda i: (  # noqa: E731
        base_hash32(F.concat_ws(
            ":", F.col(id_col).cast("string"), i.cast("string")))
        % 100 >= drop_pct)
    kept = F.filter(
        F.transform(idx, lambda i: F.when(keep(i), F.element_at(toks, i))),
        lambda x: x.isNotNull())
    return df.withColumns({
        out_col: F.concat_ws(" ", kept),
        "n_tokens": F.size(toks).cast("bigint"),
        "n_kept": F.size(kept).cast("bigint"),
    })


def span_corruption(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 3,
    block_len: int = 20,
    out_prefix: str = "corrupted",
) -> DataFrame:
    """T5-style span-corruption prep (Raffel et al. 2020): mask one
    ``span_len``-token span per ``block_len``-token block, emitting the
    sentinel-joined (inputs, targets) pair an encoder-decoder LM trains on
    — mask ratio = span_len/block_len (defaults: 15%, mean span 3).

    Deterministic blocked placement instead of RNG: the document splits
    into fixed ``block_len`` blocks and the span's offset inside block b is
    ``hash32(id||'#'||b) % (blocklen - span_len + 1)`` — spans can never
    overlap, the ratio is exact (partial trailing blocks shorter than
    ``span_len`` are left unmasked), and re-runs/retries/partitionings
    produce the SAME pairs; a new epoch is a salt in the id.  Sentinels
    are numbered by block index (``<extra_id_b>``), ascending in document
    order like T5's.

    Map-only array expressions end to end (one per-position span-membership
    probe, O(tokens x spans/doc) inside codegen) — corruption runs at scan
    throughput; no shuffle, no UDF.

    The token array, span list, and position index materialize as
    intermediate COLUMNS (separate projections) before anything consumes
    them: inlining them into the per-position lambda re-evaluates the whole
    tokenize+hash subtree per token (Catalyst keeps lambda bodies as
    expression trees, and CollapseProject declines to merge the stages
    precisely because the aliases are non-cheap and multiply referenced) —
    measured 11.6s -> ~1s at sf0.1 from this alone."""
    S = F.lit(span_len)

    def span_of(b: Column) -> Column:
        n = F.col("_sc_n")
        p0 = b * block_len + 1
        blen = F.least(F.lit(block_len), n - b * block_len)
        h = base_hash32(F.concat_ws(
            "#", F.col(id_col).cast("string"), b.cast("string")))
        off = h % (blen - S + 1)
        return F.when(blen >= S, F.struct(
            b.alias("b"), (p0 + off).alias("s"),
            (p0 + off + S - 1).alias("e")))

    nb = F.ceil(F.col("_sc_n") / F.lit(block_len)).cast("int")
    blocks = F.when(nb > 0, F.sequence(F.lit(0), nb - 1)) \
        .otherwise(F.array().cast("array<int>"))
    staged = (
        df.withColumn("_sc_toks", tokens_col(F.col(text_col)))
        .withColumn("_sc_n", F.size("_sc_toks"))
        .withColumn("_sc_spans",
                    F.filter(F.transform(blocks, span_of),
                             lambda x: x.isNotNull()))
        .withColumn("_sc_idx",
                    F.when(F.col("_sc_n") > 0,
                           F.sequence(F.lit(1), F.col("_sc_n")))
                    .otherwise(F.array().cast("array<int>"))))
    toks, spans = F.col("_sc_toks"), F.col("_sc_spans")

    def piece(pos: Column) -> Column:
        starting = F.filter(spans, lambda sp: sp["s"] == pos)
        inside = F.exists(
            spans, lambda sp: (pos >= sp["s"]) & (pos <= sp["e"]))
        return (F.when(F.size(starting) > 0,
                       F.concat(F.lit("<extra_id_"),
                                F.element_at(starting, 1)["b"].cast("string"),
                                F.lit(">")))
                .when(inside, F.lit(None))
                .otherwise(F.element_at(toks, pos)))

    inputs = F.concat_ws(" ", F.filter(F.transform(F.col("_sc_idx"), piece),
                                       lambda x: x.isNotNull()))
    targets = F.concat_ws(" ", F.flatten(F.transform(
        spans,
        lambda sp: F.concat(
            F.array(F.concat(F.lit("<extra_id_"), sp["b"].cast("string"),
                             F.lit(">"))),
            F.slice(toks, sp["s"], span_len)))))
    return staged.withColumns({
        f"{out_prefix}_inputs": inputs,
        f"{out_prefix}_targets": targets,
        "n_tokens": F.col("_sc_n").cast("bigint"),
        "n_masked": (F.size(spans) * span_len).cast("bigint"),
    }).drop("_sc_toks", "_sc_n", "_sc_spans", "_sc_idx")


def normalize_text(text: Column) -> Column:
    """Canonical text normalization for dedup/fingerprint pre-processing:
    lowercase, collapse all whitespace runs to single spaces, strip ASCII
    control characters, trim.  Map-only, engine-portable (the SQL twin uses
    the same regex classes), and idempotent — normalize(normalize(x)) =
    normalize(x), so re-running a pipeline stage can't change hashes."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[\\x00-\\x1f]", " ")
    t = F.regexp_replace(t, "\\s+", " ")
    return F.trim(t)


def with_normalized_text(df: DataFrame, text_col: str = "text",
                         out_col: str = "text_norm") -> DataFrame:
    return df.withColumn(out_col, normalize_text(F.col(text_col)))


def extract_html_text(text: Column) -> Column:
    """HTML -> visible text (the crawl-ingest step before any text op):
    drop <script>/<style> blocks wholesale, break <br>/<p>/<div>/<li>/
    heading boundaries into spaces, strip remaining tags and comments,
    decode the common entities, collapse whitespace.

    Map-only regex chain (lookaround-free: Java regex and RE2 agree; the
    (?is) flags make . span newlines and tags case-insensitive), so
    extraction runs at scan throughput — the trafilatura-class readability
    heuristics stay out of scope, but this is the 95% path for turning a
    crawled page column into the `text` column the dedup/quality family
    consumes.  Idempotent on plain text (no tags -> only whitespace
    collapse)."""
    t = F.regexp_replace(text, "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    t = F.regexp_replace(t, "(?is)<!--.*?-->", " ")
    t = F.regexp_replace(t, "(?i)</?(br|p|div|li|tr|h[1-6])[^>]*>", " ")
    t = F.regexp_replace(t, "(?s)<[^>]*>", " ")
    # '&amp;' decodes LAST: an escaped entity reference like '&amp;lt;'
    # renders as the literal '&lt;', and decoding amp first would
    # double-decode it into '<' (r4 review)
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", "\""), ("&#39;", "'"), ("&amp;", "&")):
        t = F.replace(t, F.lit(ent), F.lit(rep))
    return F.trim(F.regexp_replace(t, "\\s+", " "))


def with_extracted_html(df: DataFrame, html_col: str = "text",
                        out_col: str = "extracted_text") -> DataFrame:
    return df.withColumn(out_col, extract_html_text(F.col(html_col)))


def _keep_by_group_rate(df: DataFrame, rates: DataFrame, group_col: str,
                        id_col: str = "doc_id") -> DataFrame:
    """Shared deterministic keep rule for all group-rate samplers
    (mixture, temperature): broadcast the tiny per-group ``_rate`` table,
    keep rows where hash32(id)/1e6 < rate.  ONE definition so the DuckDB
    twin's ``_H0_DOCID % 1000000 / 1000000.0`` formula has exactly one
    Spark counterpart to stay in lockstep with."""
    u = (base_hash32(F.col(id_col).cast("string")) % F.lit(1000000)) / F.lit(1000000.0)
    return (df.join(F.broadcast(rates), group_col)
            .filter(u < F.col("_rate"))
            .drop("_rate"))


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    id_col: str = "doc_id",
) -> DataFrame:
    """Training-mix composition sampler: downsample groups so the output
    approximates the target ``weights`` (e.g. lang or source ratios) while
    keeping as much data as possible.

    The largest feasible total is T = min_g(n_g / w_g) (the binding group
    keeps 100 %); every group g then keeps rate_g = w_g·T / n_g of its rows
    via the deterministic hash-vs-threshold rule (pure function of the id:
    partitioning/retry/rerun invariant, no RNG state).

    Scale: one tiny per-group count aggregate (K rows), broadcast back;
    the keep decision is map-side.  No driver collect — the binding-group
    scan T is an un-partitioned window over K group rows.
    """
    w_lit = F.create_map(
        *[F.lit(x) for kv in weights.items() for x in kv])
    cnt = (df.groupBy(group_col)
           .agg(F.count(F.lit(1)).cast("double").alias("_n"))
           .withColumn("_w", w_lit[F.col(group_col)])
           .filter(F.col("_w").isNotNull()))
    t_min = F.min(F.col("_n") / F.col("_w")).over(
        Window.partitionBy(F.lit(1)))
    rates = cnt.withColumn("_rate", F.col("_w") * t_min / F.col("_n")).select(
        group_col, "_rate")
    return _keep_by_group_rate(df, rates, group_col, id_col)


def temperature_sample(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture sampling (the T5/UL2 multilingual mixing
    rule): target share of group g ∝ n_g^alpha, which flattens the size
    distribution — alpha=1 keeps natural proportions, alpha=0 equalizes
    groups, alpha~0.3-0.7 is the usual band for up-weighting low-resource
    languages/domains without discarding most of the head.

    Closed form (no explicit weight dict needed): the feasible keep rate
    normalizes so the SMALLEST group keeps 100%:

        rate_g = (n_g / n_min)^(alpha - 1)

    rounded to 6 dp so cross-engine pow() ulp noise can't flip a keep
    decision the round doesn't collapse.  Keeps are the deterministic
    hash-vs-threshold rule (pure function of the id: partition/retry/rerun
    invariant).  Scale: one tiny per-group count aggregate broadcast back;
    the keep decision is map-side — one shuffle of K group rows total."""
    cnt = df.groupBy(group_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"))
    n_min = F.min("_n").over(Window.partitionBy(F.lit(1)))
    rates = cnt.withColumn(
        "_rate",
        F.round(F.pow(F.col("_n") / n_min, F.lit(alpha - 1.0)), 6)
    ).select(group_col, "_rate")
    return _keep_by_group_rate(df, rates, group_col, id_col)


def unimax_sample(
    df: DataFrame,
    group_col: str,
    budget: int,
    max_epochs: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023, "UniMax: Fairer and More
    Effective Language Sampling"): split a total token ``budget`` across
    groups (languages/domains) as UNIFORMLY as possible, subject to each
    group's availability cap of ``max_epochs`` x its total tokens — the
    closed-form water-filling solution: alloc_g = min(cap_g, theta) with
    theta the water level where sum_g alloc_g = budget (theta = +inf, i.e.
    alloc = cap, when the budget exceeds total availability).

    Water level in one window pass over the K group rows (caps ascending,
    prefix sums): the first row whose uniform-share candidate
    (budget - prefix)/(K - rn + 1) fits under its own cap yields theta.
    All arithmetic is integer-valued doubles + one IEEE division, so the
    level is bit-identical across engines and partitionings.

    Within each group, documents are kept in deterministic hash-of-id order
    while the exclusive running token count stays under the group's
    allocation — UniMax's uniform-within-language sample, made
    partition/retry/rerun invariant.

    Scale: one map-side token count, one K-row aggregate (window over K
    rows), broadcast of the K-row allocation table, one window pass per
    group for the running sum — the same single-shuffle shape as
    ``token_budget_cap``.
    """
    t = df.withColumn(
        "_ntok", F.size(tokens_col(F.col(text_col))).cast("bigint"))
    cnt = t.groupBy(group_col).agg(
        F.sum("_ntok").cast("double").alias("_tok"))
    # cap rounds to 4 dp so a fractional max_epochs cannot introduce
    # cross-engine ulp noise; with max_epochs=1.0 it is exact by identity
    cap = F.round(F.col("_tok") * F.lit(float(max_epochs)), 4)
    # the windows run over the K group rows only; partitionBy(lit(1))
    # documents the intentional single partition (and silences WindowExec's
    # move-all-data warning, which is aimed at row-scale windows)
    wo = Window.partitionBy(F.lit(1)).orderBy(
        F.col("_cap").asc(), F.col(group_col).asc())
    whole = Window.partitionBy(F.lit(1))
    c2 = (cnt.withColumn("_cap", cap)
          .withColumn("_rn", F.row_number().over(wo))
          .withColumn("_prefix", F.coalesce(
              F.sum("_cap").over(
                  wo.rowsBetween(Window.unboundedPreceding, -1)),
              F.lit(0.0)))
          .withColumn("_k", F.count(F.lit(1)).over(whole)))
    theta_i = (F.lit(float(budget)) - F.col("_prefix")) / \
        (F.col("_k") - F.col("_rn") + 1)
    c3 = c2.withColumn("_theta_i", theta_i)
    first_valid = F.min(
        F.when(F.col("_theta_i") <= F.col("_cap"), F.col("_rn"))).over(whole)
    theta = F.max(
        F.when(F.col("_rn") == first_valid, F.col("_theta_i"))).over(whole)
    alloc = F.floor(F.round(
        F.when(theta.isNull(), F.col("_cap"))
        .otherwise(F.least(F.col("_cap"), theta)), 4)).cast("bigint")
    rates = c3.select(F.col(group_col), alloc.alias("_alloc_tok"))
    u = base_hash32(F.col(id_col).cast("string"))
    wk = (Window.partitionBy(group_col)
          .orderBy(u.asc(), F.col(id_col).asc())
          .rowsBetween(Window.unboundedPreceding, -1))
    return (t.join(F.broadcast(rates), group_col)
            .withColumn("_excl", F.coalesce(F.sum("_ntok").over(wk),
                                            F.lit(0).cast("bigint")))
            .filter(F.col("_excl") < F.col("_alloc_tok"))
            .withColumnRenamed("_ntok", "n_tokens")
            .drop("_excl", "_alloc_tok"))


def token_budget_cap(
    df: DataFrame,
    group_col: str,
    budget: int,
    order_col: str = "n_chars",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-group token-budget curation: rank documents best-first within each
    group and keep rows while the exclusive running token count stays under
    ``budget`` — 'give me the best ~N tokens per domain', the standard
    per-source cap when assembling a training mix.

    Deterministic order (``order_col`` desc, id asc tiebreak) makes the kept
    set reproducible and SQL-expressible.  One shuffle on the group key;
    the window is a single pass per group.
    """
    ntok = F.size(tokens_col(F.col(text_col))).cast("bigint")
    w = (Window.partitionBy(group_col)
         .orderBy(F.col(order_col).desc(), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, -1))
    t = df.withColumn("_ntok", ntok)
    excl = F.coalesce(F.sum("_ntok").over(w), F.lit(0))
    return (t.withColumn("_excl", excl)
            .filter(F.col("_excl") < F.lit(budget))
            .withColumnRenamed("_ntok", "n_tokens")
            .drop("_excl"))


def pack_token_budget(
    df: DataFrame,
    budget: int = 2048,
    shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sequence packing for training pipelines: assign documents to
    ~``budget``-token bins.  A single global greedy pack would serialize
    100 TB behind one sorted window, so documents are first sharded (each
    shard's window runs in parallel, one shuffle), then packed within the
    shard by exclusive running token count.

    Numeric ids shard by ``pmod(id, shards)`` (keeps the oracle SQL
    portable); any other id type shards by ``pmod(xxhash64(id), shards)``.
    The bin key is the composite (shard_id, bin_no) — NOT a single
    ``shard*K + bin`` integer, which silently collides once a shard holds
    more than K bins (~2 G tokens at budget 2048 with K=1e6, far below the
    100 TB target).

    Output: (shard_id, bin_no, n_docs, total_tokens) — one row per bin."""
    from pyspark.sql.types import NumericType

    ntok = F.size(tokens_col(F.col(text_col))).cast("bigint")
    id_field = df.schema[id_col]
    if isinstance(id_field.dataType, NumericType):
        shard = F.pmod(F.col(id_col).cast("bigint"), F.lit(shards)).cast("bigint")
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).cast("bigint")
    t = df.select(F.col(id_col).alias("_id"), shard.alias("_shard"),
                  ntok.alias("_ntok"))
    w = (Window.partitionBy("_shard").orderBy("_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    excl = F.coalesce(F.sum("_ntok").over(w), F.lit(0))
    binned = t.withColumn(
        "bin_no", F.floor(excl / F.lit(float(budget))).cast("bigint"))
    return binned.groupBy(
        F.col("_shard").alias("shard_id"), "bin_no"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_ntok").cast("bigint").alias("total_tokens"))


def pack_concat_sequences(
    df: DataFrame,
    budget: int = 2048,
    shards: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """Materialize packed training sequences: the companion to
    ``pack_token_budget`` that actually CONCATENATES each bin's documents
    (id order, ``sep``-joined) into the string a pretraining loader reads.

    Same sharded exclusive-cumsum binning (one shuffle, shard windows sort
    in parallel); the concatenation is one hash aggregate whose per-bin
    state is bounded by the token budget — collect_list of struct(id, text)
    sorted in-memory per bin, never a global sort.  Output: (shard_id,
    bin_no, n_docs, total_tokens, packed_text)."""
    from pyspark.sql.types import NumericType

    ntok = F.size(tokens_col(F.col(text_col))).cast("bigint")
    id_field = df.schema[id_col]
    if isinstance(id_field.dataType, NumericType):
        shard = F.pmod(F.col(id_col).cast("bigint"), F.lit(shards)).cast("bigint")
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(shards)).cast("bigint")
    t = df.select(F.col(id_col).alias("_id"), shard.alias("_shard"),
                  F.col(text_col).alias("_text"), ntok.alias("_ntok"))
    w = (Window.partitionBy("_shard").orderBy("_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    excl = F.coalesce(F.sum("_ntok").over(w), F.lit(0))
    binned = t.withColumn(
        "bin_no", F.floor(excl / F.lit(float(budget))).cast("bigint"))
    packed = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_id", "_text"))),
            lambda s: s["_text"]),
        sep)
    return binned.groupBy(
        F.col("_shard").alias("shard_id"), "bin_no"
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_ntok").cast("bigint").alias("total_tokens"),
        packed.alias("packed_text"))


def dict_encode(df: DataFrame, col: str, out_col: str | None = None) -> tuple[DataFrame, DataFrame]:
    """Dictionary (label) encoding: map a categorical column to dense integer
    ids, returning (encoded_df, dictionary_df).

    Ids are assigned by sort order over the distinct values (deterministic,
    engine-portable — no fit-time RNG).  At 100 TB: one distinct aggregate
    over the column (map-side combined), the dictionary is broadcast back —
    the fact table never shuffles.  NULL encodes as NULL.

    Scale contract: the ``dense_rank`` over the distinct values is a
    single-task window by design — it runs on the DICTIONARY, not the fact
    table, and the dictionary must broadcast anyway for the join-back (the
    operator's own contract: categorical cardinality << fact rows).  If the
    "dictionary" stops fitting one task, the right fix is not a partitioned
    rank but feature_hash / the range-partitioned ``_prefix_sums`` rank
    pattern (quality.py bh_fdr) — at that cardinality the column is an id,
    not a category."""
    out_col = out_col or f"{col}_id"
    wd = Window.orderBy(F.col(col))
    dictionary = (df.select(col).filter(F.col(col).isNotNull()).distinct()
                  .withColumn(out_col, F.dense_rank().over(wd).cast("bigint")))
    encoded = df.join(F.broadcast(dictionary), col, "left")
    return encoded, dictionary


def feature_hash(text: Column, dim: int = 1024) -> Column:
    """Hashing-trick feature indices: token -> md5-derived uniform bucket in
    [0, dim).  Map-only, vocabulary-free (no dictionary to build or ship),
    collision rate ~n_tokens/dim — the standard unbounded-vocab encoder.
    Engine-portable (same digest arithmetic as base_hash32)."""
    return F.transform(
        tokens_col(text), lambda t: (base_hash32(t) % F.lit(dim)).cast("int"))


def split_by_group(
    df: DataFrame,
    group_col: str,
    train_pct: int = 80,
    val_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: the assignment is a pure function
    of the GROUP key (md5 bucket in [0,100)), so every row of a group —
    every document of a user, every event of a session — lands in the same
    split.  Row-level random splits leak group signal across train/test;
    this is the standard fix.  Map-only, partition/retry-invariant."""
    b = base_hash32(F.col(group_col).cast("string")) % F.lit(100)
    return df.withColumn(
        out_col,
        F.when(b < train_pct, F.lit("train"))
        .when(b < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")))


def token_distribution_divergence(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    top_k: int = 200,
) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between per-group unigram token
    distributions — the standard corpus-drift / domain-shift measure (are
    two language/source slices lexically close?).  Distributions live over
    the GLOBAL top-``top_k`` vocabulary plus one OOV bucket holding each
    group's remaining mass, so every distribution sums to 1 and the pair
    matrix is exact, not sampled.

    JSD(P,Q) = ½Σp·ln(2p/(p+q)) + ½Σq·ln(2q/(q+p)) in nats; each term's
    ln-argument assembles from integer counts cast to double in a fixed
    order ((2·c₁·n₂)/(c₁·n₂+c₂·n₁) — no float probabilities enter the
    ratio), rounds to 9dp into decimal-exact sums (the repo's round-9
    pattern), one terminal ×½ + round-6.

    Plan: one (group, token) aggregate over the corpus — the only pass
    over text; top-k via distributed ORDER BY ... LIMIT (count then token
    tie-break, deterministic); the grid / OOV / pair joins all act on
    O(groups × top_k) rows.  Scale: groups² × top_k pair cells — at 100 TB
    that is still thousands of rows.  Returns
    (group_a, group_b, n_a, n_b, jsd)."""
    from ..io import cut_lineage

    # r12: materialize the (group, token) grid — the ONLY pass over text.
    # It feeds totals, the top-k vocabulary, the in-top mass, and the cell
    # join; AQE's runtime exchange reuse only deduplicated some of those
    # branches (the final adaptive plan still held 14 parquet scans /
    # 15 tokenize+explode subtrees), so the corpus was re-tokenized per
    # branch.  The checkpoint runs the text pass exactly once; every
    # branch reads the tiny aggregated grid.
    counts = cut_lineage(
        df.select(F.col(group_col).alias("_g"),
                  F.explode(tokens_col(F.col(text_col))).alias("_w"))
        .groupBy("_g", "_w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    totals = counts.groupBy("_g").agg(F.sum("_c").cast("bigint").alias("_n"))
    top = (counts.groupBy("_w")
           .agg(F.sum("_c").cast("bigint").alias("_tc"))
           .orderBy(F.col("_tc").desc(), F.col("_w"))
           .limit(top_k)
           .select("_w"))
    grid = totals.crossJoin(F.broadcast(top))
    cells = (grid.join(counts, ["_g", "_w"], "left")
             .select("_g", "_w", F.coalesce(F.col("_c"), F.lit(0))
                     .cast("bigint").alias("_c"), "_n"))
    in_top = (counts.join(F.broadcast(top), "_w", "left_semi")
              .groupBy("_g").agg(F.sum("_c").cast("bigint").alias("_ct")))
    oov = (totals.join(in_top, "_g", "left")
           .select("_g", F.lit("<OOV>").alias("_w"),
                   (F.col("_n") - F.coalesce(F.col("_ct"), F.lit(0)))
                   .cast("bigint").alias("_c"), "_n"))
    cells = cells.unionByName(oov)
    a = cells.select(F.col("_g").alias("group_a"), "_w",
                     F.col("_c").alias("_c1"), F.col("_n").alias("n_a"))
    b = cells.select(F.col("_g").alias("group_b"), "_w",
                     F.col("_c").alias("_c2"), F.col("_n").alias("n_b"))
    d = lambda c: F.col(c).cast("double")  # noqa: E731

    def _term(c_self, n_self, c_other, n_other):
        arg = ((F.lit(2.0) * d(c_self) * d(n_other))
               / (d(c_self) * d(n_other) + d(c_other) * d(n_self)))
        return F.when(
            F.col(c_self) > 0,
            F.round((d(c_self) / d(n_self)) * F.log(arg), 9)
            .cast("decimal(20,9)")).otherwise(F.lit(0).cast("decimal(20,9)"))

    pairs = (a.join(b, "_w").filter(F.col("group_a") < F.col("group_b"))
             .groupBy("group_a", "group_b")
             .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"),
                  F.sum(_term("_c1", "n_a", "_c2", "n_b")
                        + _term("_c2", "n_b", "_c1", "n_a")).alias("_s")))
    return pairs.select(
        "group_a", "group_b", "n_a", "n_b",
        F.round(F.lit(0.5) * F.col("_s").cast("double"), 6).alias("jsd"))


def zipf_fit(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Zipf's-law fit over the corpus unigram frequencies: OLS of ln(freq)
    on ln(rank) for the top-``top_n`` tokens — the one-row lexical health
    check (natural text slopes ≈ −1; templated/generated corpora flatten
    or steepen, so the slope is a cheap synthetic-data / boilerplate
    detector alongside `text.repetition_stats`).

    Ranks are deterministic (count desc, token tie-break).  ln(rank) and
    ln(freq) round to 9dp into decimal-exact OLS sums, so both engines
    assemble identical slope/intercept/R² doubles from the same closed
    form.  Plan: one token aggregate (the only corpus pass), distributed
    top-n, then a top_n-row regression.  Returns one row
    (n_tokens, slope, intercept, r2)."""
    counts = (df.select(F.explode(tokens_col(F.col(text_col))).alias("_w"))
              .groupBy("_w")
              .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
              .orderBy(F.col("_c").desc(), F.col("_w"))
              .limit(top_n))
    ranked = counts.select(
        "_c", F.row_number().over(
            Window.orderBy(F.col("_c").desc(), F.col("_w")))
        .cast("bigint").alias("_r"))
    # round-9 doubles into decimal-exact sums (the LR-oracle pattern), then
    # the closed form in IEEE doubles with a fixed expansion order — both
    # engines assemble identical results from identical sums.
    d9 = lambda c: F.round(c, 9).cast("decimal(38,12)")  # noqa: E731
    x = F.round(F.log(F.col("_r").cast("double")), 9)
    y = F.round(F.log(F.col("_c").cast("double")), 9)
    pts = ranked.select(x.alias("_x"), y.alias("_y"))
    g = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(d9(F.col("_x"))).alias("_sx"),
        F.sum(d9(F.col("_y"))).alias("_sy"),
        F.sum(d9(F.col("_x") * F.col("_x"))).alias("_sxx"),
        F.sum(d9(F.col("_y") * F.col("_y"))).alias("_syy"),
        F.sum(d9(F.col("_x") * F.col("_y"))).alias("_sxy"))
    dbl = lambda c: F.col(c).cast("double")  # noqa: E731
    n = dbl("n_tokens")
    num = n * dbl("_sxy") - dbl("_sx") * dbl("_sy")
    vx = n * dbl("_sxx") - dbl("_sx") * dbl("_sx")
    vy = n * dbl("_syy") - dbl("_sy") * dbl("_sy")
    slope = num / vx
    intercept = (dbl("_sy") - slope * dbl("_sx")) / n
    return g.select(
        "n_tokens", F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round((num / vx) * (num / vy), 6).alias("r2"))


def lexical_richness(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level lexical-richness profile per group: token count N,
    vocabulary V, type-token ratio V/N, hapax ratio V₁/V (words seen
    once), and Herdan's C = lnV/lnN (the length-robust richness index) —
    the slice-level companion to per-doc `text.token_stats` and the
    `text.zipf_fit` slope for spotting templated/duplicated slices.

    ONE (group, word) aggregate over the corpus (the only text pass),
    then a group-keyed rollup — counts are exact integers; the three
    ratios are single terminal divisions (round-6)."""
    counts = (df.select(F.col(group_col).alias("_g"),
                        F.explode(tokens_col(F.col(text_col))).alias("_w"))
              .groupBy("_g", "_w")
              .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    g = (counts.groupBy(F.col("_g").alias(group_col))
         .agg(F.sum("_c").cast("bigint").alias("n_tokens"),
              F.count(F.lit(1)).cast("bigint").alias("vocab"),
              F.sum(F.when(F.col("_c") == 1, 1).otherwise(0))
              .cast("bigint").alias("hapax")))
    n, v = F.col("n_tokens").cast("double"), F.col("vocab").cast("double")
    return g.select(
        group_col, "n_tokens", "vocab", "hapax",
        F.round(v / n, 6).alias("ttr"),
        F.round(F.col("hapax").cast("double") / v, 6).alias("hapax_ratio"),
        F.round(F.log(v) / F.log(n), 6).alias("herdan_c"))


def good_turing(
    df: DataFrame,
    text_col: str = "text",
    max_r: int = 10,
    ngram_n: int = 1,
) -> DataFrame:
    """Good-Turing frequency-of-frequencies table over the corpus
    vocabulary: N_r = #words occurring exactly r times, the smoothed
    count r* = (r+1)·N_{r+1}/N_r, and the GT probability p = r*/N — the
    classical unseen-mass estimator underneath Kneser-Ney (`N_1/N` is the
    probability mass of words never seen; r* discounts low counts).

    Scale design: ONE (gram) hash aggregate over the corpus (the only
    text pass — same shape as :func:`lexical_richness`), then a
    count-of-counts aggregate whose output is at most |distinct r| rows
    (≈√V — tiny), self-joined on r+1.  Exact integers throughout;
    r*/p are terminal divisions.  Rows with no N_{r+1} bucket keep NULL
    r*/p (the raw-count fallback — documented contract).
    ``ngram_n=2`` smooths consecutive-bigram counts (the usual LM
    setting — bigram tables are where the rare-count tail lives).
    Returns (r, n_r, r_star, p_gt) for r ≤ max_r."""
    if ngram_n == 2:
        grams = (_bigram_rows(df, text_col)
                 .select(F.concat_ws(" ", "w1", "w2").alias("_w")))
    else:
        grams = df.select(F.explode(tokens_col(F.col(text_col)))
                          .alias("_w"))
    counts = (grams.groupBy("_w")
              .agg(F.count(F.lit(1)).cast("bigint").alias("_r")))
    freq = (counts.groupBy("_r")
            .agg(F.count(F.lit(1)).cast("bigint").alias("_nr")))
    tot = counts.agg(
        F.sum(F.col("_r").cast("decimal(38,0)")).cast("bigint").alias("_n"))
    nxt = freq.select((F.col("_r") - 1).alias("_r"),
                      F.col("_nr").alias("_nr1"))
    out = (freq.join(nxt, "_r", "left")
           .crossJoin(F.broadcast(tot))
           .filter(F.col("_r") <= max_r))
    rstar = ((F.col("_r") + 1).cast("double") * F.col("_nr1").cast("double")
             / F.col("_nr").cast("double"))
    return out.select(
        F.col("_r").alias("r"),
        F.col("_nr").alias("n_r"),
        F.round(rstar, 6).alias("r_star"),
        F.round(rstar / F.col("_n").cast("double"), 9).alias("p_gt"))


def heaps_law_fit(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = None,
) -> DataFrame:
    """Heaps'-law fit V = K·N^β across documents: OLS of ln V_d on
    ln N_d over per-doc (token count, distinct count) — the vocabulary-
    growth exponent; templated/duplicated slices show β far below the
    natural-language ~0.5 band, the doc-level companion to the corpus
    `text.zipf_fit` slope.

    Scale design: ONE map-only pass computes per-doc (N, V) from the
    token array (no shuffle before the aggregate); the four OLS sums
    take round-9 ln terms into decimal-exact accumulators; slope /
    intercept / R² are terminal fixed-order doubles.  Optional grouping
    fits per slice.  Returns (group?, n_docs, beta, ln_k, k_coef, r2)."""
    toks = tokens_col(F.col(text_col))
    keys = [F.col(group_col).alias("_g")] if group_col else []
    staged = df.select(*keys, toks.alias("_ws"))
    nv = staged.select(
        *(["_g"] if group_col else []),
        F.size("_ws").cast("double").alias("_n"),
        F.size(F.array_distinct("_ws")).cast("double").alias("_v"))
    d9 = lambda e: F.round(e, 9).cast("decimal(38,12)")  # noqa: E731
    # r12: the (_n >= 2, _v >= 1) exclusion is folded into the aggregate
    # as a condition instead of a Filter — the Filter pushed below the
    # staging Project with alias substitution and re-tokenized every row
    # twice in its condition.  Conditional sums skip exactly the same
    # rows (NULL when-branches don't accumulate), and the condition reads
    # the cheap _n/_v attributes.
    ok = (F.col("_n") >= 2) & (F.col("_v") >= 1)
    w_ = lambda e: F.when(ok, e)  # noqa: E731
    lx, ly = F.log(F.col("_n")), F.log(F.col("_v"))
    gb = nv.groupBy("_g") if group_col else nv.groupBy()
    agg = gb.agg(
        F.count(w_(F.lit(1))).cast("bigint").alias("n_docs"),
        F.sum(w_(d9(lx))).alias("_sx"), F.sum(w_(d9(ly))).alias("_sy"),
        F.sum(w_(d9(lx * lx))).alias("_sxx"),
        F.sum(w_(d9(lx * ly))).alias("_sxy"),
        F.sum(w_(d9(ly * ly))).alias("_syy"))
    if group_col:
        # a group whose every doc fails the exclusion was absent under the
        # old row filter; keep that contract (global case: the old filter
        # also yielded one n_docs=0 row, so no filter there)
        agg = agg.filter(F.col("n_docs") > 0)
    nd = F.col("n_docs").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx = F.col("_sxx").cast("double")
    sxy = F.col("_sxy").cast("double")
    syy = F.col("_syy").cast("double")
    beta = (nd * sxy - sx * sy) / (nd * sxx - sx * sx)
    lnk = (sy - beta * sx) / nd
    r2num = (nd * sxy - sx * sy) * (nd * sxy - sx * sy)
    r2den = (nd * sxx - sx * sx) * (nd * syy - sy * sy)
    cols = ([F.col("_g").alias(group_col)] if group_col else [])
    return agg.select(
        *cols, "n_docs",
        F.round(beta, 6).alias("beta"),
        F.round(lnk, 6).alias("ln_k"),
        F.round(F.exp(lnk), 6).alias("k_coef"),
        F.round(F.when(r2den > 0, r2num / r2den), 6).alias("r2"))


def term_burstiness(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Term burstiness via the variance-to-mean ratio of per-document
    counts (Church & Gale dispersion): content words CLUMP (VMR >> 1),
    function words spread evenly (VMR ≈ 1 — Poisson) — the classic
    topical-term / boilerplate discriminator for curation.

    Scale design: one (doc, word) aggregate, then a (word) rollup of
    exact integer (Σc, Σc², docs-present); absent-doc zeros fold in
    ALGEBRAICALLY (mean & variance over all D docs use Σc, Σc², D — no
    dense doc×term grid); the 1-row corpus doc-count broadcasts; top-k
    by total count is a distributed TakeOrdered.  Returns top-k rows:
    (word, total_count, docs_present, mean_per_doc, vmr)."""
    # r12: tokenize INLINE in the explode — staging the array as a column
    # made InferFiltersFromGenerate add a size/isnotnull filter on the
    # attribute, which predicate pushdown then substituted below the
    # staging Project: 4 tokenizations per row in the executed plan.
    # With a higher-order-function generator input the rule skips, and
    # the plan tokenizes exactly once (probe in OPTIMIZATION_r12.md).
    per_doc = (df.select(F.col(id_col).alias("_id"),
                         F.explode(tokens_col(F.col(text_col)))
                         .alias("_w"))
               .groupBy("_id", "_w")
               .agg(F.count(F.lit(1)).cast("bigint").alias("_c")))
    d_tot = df.agg(F.count(F.lit(1)).cast("bigint").alias("_dd"))
    per_w = per_doc.groupBy("_w").agg(
        F.sum("_c").cast("decimal(38,0)").alias("_sc"),
        F.sum(F.col("_c") * F.col("_c")).cast("decimal(38,0)").alias("_sq"),
        F.count(F.lit(1)).cast("bigint").alias("_dp"))
    j = per_w.crossJoin(F.broadcast(d_tot))
    dd = F.col("_dd").cast("double")
    sc = _split_cast_dec(F.col("_sc"))
    sq = _split_cast_dec(F.col("_sq"))
    mean = sc / dd
    var = (sq - sc * sc / dd) / (dd - F.lit(1.0))
    ranked = j.select(
        F.col("_w").alias("word"),
        F.col("_sc").cast("bigint").alias("total_count"),
        F.col("_dp").alias("docs_present"),
        F.round(mean, 9).alias("mean_per_doc"),
        # dd > 1 guard: a 1-doc corpus has no between-doc variance
        # (ANSI divide-by-zero otherwise); NULL vmr by contract
        F.round(F.when((mean > 0) & (dd > F.lit(1.0)), var / mean), 6)
        .alias("vmr"))
    return (ranked.orderBy(F.col("total_count").desc(), F.col("word"))
            .limit(top_k))


def _split_cast_dec(c: Column) -> Column:
    """DECIMAL → DOUBLE via exactly-castable integer + fraction parts
    (both-engine bit agreement past 2^53; see quality._split_cast —
    fraction via %1, never decimal subtraction, whose precision-loss
    rule truncates high scales to 6)."""
    a = F.abs(c)
    i = F.floor(a).cast("decimal(38,0)")
    val = i.cast("double") + (a % F.lit(1)).cast("double")
    return F.when(c < 0, -val).otherwise(val)


def _mk(name, fn, doc=""):
    def process(self, im, ctx):
        col = self.config.get("text_column") or (
            im["text_column"].data if "text_column" in im else "text")
        return {"table": fn(im["table"].data, col)}

    return _simple_module(
        name,
        {"table": TABLE,
         "text_column": {"type": "string", "optional": True, "default": "text"}},
        {"table": TABLE},
        process, doc=doc)


TextNormalize = _mk("text.normalize", with_normalized_text,
                    "canonical lowercase/whitespace/control-char normalization")
TextTokenStats = _mk("text.token_stats", with_token_stats, "token count/distinct/len stats")
TextQualityScore = _mk("text.quality_score", with_quality_score, "pretraining quality filters")
TextLanguageId = _mk("text.language_id", with_language_id, "stopword-membership langid")
TextFingerprint = _mk("text.fingerprint", with_fingerprint, "min-k md5 shingle fingerprint")
TextTokenCount = _mk("text.token_count", token_count_bpeish, "ws + BPE-ish token counts")
TextExtractHtml = _mk("text.extract_html", with_extracted_html,
                      "HTML -> visible text (tags/scripts/entities stripped)")
TextZipfFit = _mk("text.zipf_fit", zipf_fit,
                  "Zipf's-law OLS fit over top-token frequencies "
                  "(lexical health / synthetic-text detector)")
TextCollocationsLlr = _mk("text.collocations_llr", collocations_llr,
                          "Dunning G² log-likelihood-ratio collocation "
                          "detection over consecutive bigrams")


TextLexicalRichness = _simple_module(
    "text.lexical_richness", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": lexical_richness(
        im["table"].data,
        **config_kwargs(self, group_col="group_column",
                        text_col="text_column"))},
    doc="Per-group lexical-richness profile (see lexical_richness).",
)

TextChunk = _simple_module(
    "text.chunk", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": chunk_documents(
        im["table"].data,
        **config_kwargs(self, "size", "overlap", text_col="text_column",
                        id_col="id_column"),
    )},
    doc="Fixed-size overlapping character chunks (pre-embedding splitter).",
)

TableWeightedSample = _simple_module(
    "table.sample.weighted", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": weighted_sample(
        im["table"].data,
        weight_col=self.config["weight_column"],
        **config_kwargs(self, id_col="id_column"))},
    doc="Deterministic hash-vs-weight importance sampler (map-only).",
)

TextPackTokenBudget = _simple_module(
    "text.pack_token_budget", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": pack_token_budget(
        im["table"].data,
        **config_kwargs(self, "budget", "shards", id_col="id_column",
                        text_col="text_column"))},
    doc="Sharded greedy sequence packing into ~budget-token bins.",
)

TextPackConcat = _simple_module(
    "text.pack_concat", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": pack_concat_sequences(
        im["table"].data,
        **config_kwargs(self, "budget", "shards", id_col="id_column",
                        text_col="text_column", sep="separator"))},
    doc="""Pack documents into token-budget bins AND materialize the
    concatenated training sequences (see pack_concat_sequences).""",
)

TextChunkSentences = _simple_module(
    "text.chunk_sentences", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": chunk_by_sentences(
        im["table"].data,
        **config_kwargs(self, "max_chars", text_col="text_column",
                        id_col="id_column"))},
    doc="Sentence-aware greedy chunking (never cuts mid-sentence).",
)

TableTemperatureSample = _simple_module(
    "table.sample.temperature", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": temperature_sample(
        im["table"].data,
        self.config["group_column"],
        **config_kwargs(self, "alpha", id_col="id_column"))},
    doc="""Temperature-based mixture sampling (rate_g = (n_g/n_min)^(alpha-1);
    see temperature_sample).""",
)

TableMixtureSample = _simple_module(
    "table.sample.mixture", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": mixture_sample(
        im["table"].data,
        group_col=self.config["group_column"],
        weights=self.config["weights"],
        **config_kwargs(self, id_col="id_column"))},
    doc="Deterministic mixture-ratio downsampler over a group column.",
)

TableTokenBudgetCap = _simple_module(
    "table.cap.token_budget", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": token_budget_cap(
        im["table"].data,
        group_col=self.config["group_column"],
        budget=self.config["budget"],
        **config_kwargs(self, order_col="order_column", id_col="id_column",
                        text_col="text_column"))},
    doc="Best-first per-group token-budget cap.",
)

TextSpanCorruption = _simple_module(
    "text.augment.span_corruption", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": span_corruption(
        im["table"].data,
        **config_kwargs(self, "span_len", "block_len", id_col="id_column",
                        text_col="text_column"))},
    doc="""T5-style deterministic span-corruption pair prep (see
    span_corruption).""",
)

TableUnimaxSample = _simple_module(
    "table.sample.unimax", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": unimax_sample(
        im["table"].data,
        group_col=self.config["group_column"],
        budget=self.config["budget"],
        **config_kwargs(self, "max_epochs", id_col="id_column",
                        text_col="text_column"))},
    doc="UniMax water-filling token-budget sampler (see unimax_sample).",
)


def _table_dict_encode_process(self, im, ctx):
    encoded, dictionary = dict_encode(
        im["table"].data, self.config["column"])
    return {"table": encoded, "dictionary": dictionary}


TableDictEncode = _simple_module(
    "table.encode.dictionary",
    {"table": TABLE},
    {"table": TABLE, "dictionary": TABLE},
    _table_dict_encode_process,
    doc="Dictionary encoding of a categorical column (broadcast dict join).",
)

TableSplitByGroup = _simple_module(
    "table.split.by_group", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": split_by_group(
        im["table"].data, self.config["group_column"],
        **config_kwargs(self, "train_pct", "val_pct"))},
    doc="Leakage-safe train/val/test split keyed on a group column.",
)


def _text_feature_hash_process(self, im, ctx):
    t = im["table"].data
    return {"table": t.withColumn(
        self.config.get("output_column", "feature_idx"),
        feature_hash(F.col(self.config.get("text_column", "text")),
                     **config_kwargs(self, "dim")))}


TextFeatureHash = _simple_module(
    "text.feature_hash", {"table": TABLE}, {"table": TABLE},
    _text_feature_hash_process,
    doc="Hashing-trick token feature indices (vocabulary-free).",
)

TextTokenDropout = _simple_module(
    "text.augment.token_dropout", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": token_dropout(
        im["table"].data,
        **config_kwargs(self, "drop_pct", id_col="id_column",
                        text_col="text_column", out_col="output_column"))},
    doc="Deterministic token-dropout augmentation (see token_dropout).",
)


# Unicode script ranges for the script detector.  BMP-only blocks with
# identical `[\x{...}-\x{...}]` character-class syntax in Java regex
# (Spark) and RE2 (DuckDB); counting is length-difference after
# regexp_replace removal — map-only, no per-char explode.
SCRIPT_RANGES: dict[str, str] = {
    "latin": "A-Za-z\\x{00C0}-\\x{024F}",
    "cyrillic": "\\x{0400}-\\x{04FF}",
    "greek": "\\x{0370}-\\x{03FF}",
    "arabic": "\\x{0600}-\\x{06FF}",
    "hebrew": "\\x{0590}-\\x{05FF}",
    "devanagari": "\\x{0900}-\\x{097F}",
    "cjk": "\\x{4E00}-\\x{9FFF}",
    "hangul": "\\x{AC00}-\\x{D7AF}",
    "kana": "\\x{3040}-\\x{30FF}",
}


def with_script_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode-script profile per document — the multilingual routing
    signal BEFORE language ID (an n-gram language model is useless on
    the wrong script, and mixed-script text is the classic spam /
    homoglyph-obfuscation tell).

    Counts characters in nine BMP script blocks by length difference
    after ``regexp_replace`` removal (map-only, identical char-class
    semantics in Spark's Java regex and DuckDB's RE2), then derives:

    - per-script ratios over the total script-classified count
    - ``dominant_script`` — the first script in a FIXED priority order
      whose count equals the maximum ('none' when no script chars)
    - ``n_scripts`` — scripts holding > 5% of the classified chars
    - ``mixed_script`` — ``n_scripts >= 2``

    All counts are exact integers; ratios are terminal fixed-order
    doubles.  Scan throughput at 100 TB: nine regexp passes per row,
    zero shuffles.

    The nine per-script counts (plus their total and max) are STAGED as
    dropped temp columns (r12, guide §1.2): inlined, the dominant-script
    CASE chain and the per-script >5%% flags re-embedded the regex
    subtrees ~526 times in the executed plan, and conditional CASE
    branches are outside codegen subexpression elimination — staged, each
    of the nine regexes runs exactly once per row.  Same integer
    expressions → identical values."""
    text = F.col(text_col)
    orig_cols = df.columns
    df = df.withColumns({
        f"_sc_{name}": (F.length(text)
                        - F.length(F.regexp_replace(text, f"[{rng}]", "")))
        .cast("bigint")
        for name, rng in SCRIPT_RANGES.items()
    })
    counts = {name: F.col(f"_sc_{name}") for name in SCRIPT_RANGES}
    total_e = None
    for c in counts.values():
        total_e = c if total_e is None else total_e + c
    df = df.withColumns({"_sc_total": total_e,
                         "_sc_max": F.greatest(*counts.values())})
    total = F.col("_sc_total")
    totd = total.cast("double")
    max_c = F.col("_sc_max")
    dominant = F.when(max_c == 0, F.lit("none"))
    for name in SCRIPT_RANGES:  # fixed priority order = dict order
        dominant = dominant.when(counts[name] == max_c, F.lit(name))
    ratio = {n: F.when(total > 0, c.cast("double") / totd).otherwise(0.0)
             for n, c in counts.items()}
    n_scripts = None
    for n, c in counts.items():
        flag = F.when(
            (total > 0)
            & (c.cast("double") / totd > F.lit(0.05)), 1).otherwise(0)
        n_scripts = flag if n_scripts is None else n_scripts + flag
    return df.select(
        *orig_cols,
        total.alias("n_script_chars"),
        F.round(ratio["latin"], 6).alias("latin_ratio"),
        F.round(ratio["cyrillic"], 6).alias("cyrillic_ratio"),
        F.round(ratio["cjk"], 6).alias("cjk_ratio"),
        F.round(ratio["arabic"], 6).alias("arabic_ratio"),
        dominant.alias("dominant_script"),
        n_scripts.cast("bigint").alias("n_scripts"),
        (n_scripts >= 2).alias("mixed_script"))


# Fixed keyword vocabulary for the code detector — literal tokens, no
# regex, so the Spark filter and the DuckDB list_filter agree exactly.
CODE_KEYWORDS = ["def", "return", "import", "class", "function", "var",
                 "const", "void", "int", "public", "static", "print"]
_CODE_SYMBOLS = "{}()[];=<>"


def with_code_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Code-vs-prose detection for corpus curation — route source code
    out of prose corpora (or into a code pipeline) BEFORE quality
    filters built for natural language mangle it (the C4/Gopher rules
    reject most code as 'low quality'; a curation pipeline needs to
    know it is looking at code first).

    Four exact per-doc signals, no regex (identical semantics in Spark
    and the DuckDB oracle):

    - ``punct_line_ratio``: lines whose last non-space char is ``;``
      ``{`` or ``}`` (statement terminators / block delimiters)
    - ``indent_line_ratio``: lines starting with 4 spaces or a tab
    - ``symbol_density``: chars from ``{}()[];=<>`` per char
    - ``kw_ratio``: whitespace tokens that lowercase-equal a fixed
      12-keyword vocabulary (def/return/import/...), per token

    ``code_score`` is the fixed-order weighted sum
    ``0.35·punct + 0.25·indent + 0.25·min(10·sym, 1) +
    0.15·min(5·kw, 1)`` and ``is_code`` = score ≥ 0.3 (compared on the
    UNROUNDED score).  Map-only: every signal is codegen arithmetic on
    the scan — at 100 TB this runs at scan throughput with zero
    shuffle."""
    text = F.col(text_col)
    lines = F.filter(F.split(text, "\n"),
                     lambda ln: F.trim(ln) != F.lit(""))
    words = F.filter(F.split(text, "\\s+"), lambda w: w != F.lit(""))
    n_lines = F.size(lines)
    n_words = F.size(words)
    n_chars = F.length(text)

    def _last_char(ln):
        r = F.rtrim(ln)
        return F.substring(r, F.length(r), F.lit(1))

    punct_lines = F.size(F.filter(
        lines, lambda ln: _last_char(ln).isin(";", "{", "}")))
    indent_lines = F.size(F.filter(
        lines, lambda ln: (F.substring(ln, 1, 4) == "    ")
        | (F.substring(ln, 1, 1) == "\t")))
    n_sym = n_chars - F.length(F.translate(text, _CODE_SYMBOLS, ""))
    kw_hits = F.size(F.filter(
        words, lambda w: F.lower(w).isin(*CODE_KEYWORDS)))
    punct_ratio = F.when(
        n_lines > 0,
        punct_lines.cast("double") / n_lines.cast("double")).otherwise(0.0)
    indent_ratio = F.when(
        n_lines > 0,
        indent_lines.cast("double") / n_lines.cast("double")).otherwise(0.0)
    sym_density = F.when(
        n_chars > 0,
        n_sym.cast("double") / n_chars.cast("double")).otherwise(0.0)
    kw_ratio = F.when(
        n_words > 0,
        kw_hits.cast("double") / n_words.cast("double")).otherwise(0.0)
    score = (F.lit(0.35) * punct_ratio + F.lit(0.25) * indent_ratio
             + F.lit(0.25) * F.least(F.lit(10.0) * sym_density, F.lit(1.0))
             + F.lit(0.15) * F.least(F.lit(5.0) * kw_ratio, F.lit(1.0)))
    return df.select(
        "*",
        n_lines.cast("bigint").alias("n_lines"),
        F.round(punct_ratio, 6).alias("punct_line_ratio"),
        F.round(indent_ratio, 6).alias("indent_line_ratio"),
        F.round(sym_density, 6).alias("symbol_density"),
        kw_hits.cast("bigint").alias("kw_hits"),
        F.round(score, 6).alias("code_score"),
        (score >= F.lit(0.3)).alias("is_code"))


TextGopherRules = _mk("text.quality.gopher", with_gopher_rules,
                      "the Gopher (Rae et al. 2021) quality-rule battery")
TextCodeDetect = _mk("text.quality.code_detect", with_code_signals,
                     "code-vs-prose detection (terminator/indent/symbol/"
                     "keyword signals, map-only)")
TextScriptDetect = _mk("text.script_detect", with_script_signals,
                       "Unicode-script profile: per-script ratios, "
                       "dominant script, mixed-script flag (map-only)")
TextReadability = _mk("text.readability", with_readability,
                      "Flesch reading-ease score (vowel-group syllables)")
TextBpeMerges = _mk("text.bpe_merge_candidates", bpe_merge_candidates,
                    "BPE round-1 merge candidates over the word-freq dict")


TextBpeTrain = _simple_module(
    "text.bpe_train", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": bpe_train(
        im["table"].data,
        **config_kwargs(self, "n_merges", "min_pair_count",
                        text_col="text_column"))},
    doc="Iterative BPE tokenizer training (see bpe_train).",
)
TextBpeEncode = _simple_module(
    "text.bpe_encode", {"table": TABLE, "merges": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": bpe_encode(
        im["table"].data, im["merges"].data,
        **config_kwargs(self, text_col="text_column", id_col="id_column"))},
    doc="BPE encode: apply a trained merge table (broadcast fold, no UDF).",
)


TextCooccurrencePmi = _mk("text.cooccurrence_pmi", cooccurrence_pmi,
                          "top-k token collocations by document-level PMI")
TextChi2Select = _mk("text.chi2_feature_select", chi2_feature_select,
                     "per-label top-k tokens by 2x2 chi-square")
TextRankKeywords = _mk("text.textrank_keywords", textrank_keywords,
                       "TextRank keywords: co-occurrence graph + PageRank")
TextBigramLogprob = _mk("text.bigram_logprob", bigram_logprob,
                        "self-trained add-1 bigram LM per-doc score")
TextKneserNey = _mk("text.kneser_ney_bigram", kneser_ney_bigram_logprob,
                    "interpolated Kneser-Ney bigram LM per-doc score")
TextNaiveBayes = _simple_module(
    "text.naive_bayes_classify", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": naive_bayes_classify(
        im["table"].data,
        **config_kwargs(self, label_col="label_column", text_col="text_column",
                        id_col="id_column"))},
    doc="In-engine multinomial Naive Bayes: train + score in one plan.",
)
TextRemoveStopwords = _mk("text.remove_stopwords", remove_stopwords,
                          "stopword removal (literal vocabulary, map-only)")
TextStem = _mk("text.stem", stem_tokens,
               "S-stemmer plural stripping (deterministic, map-only)")


TextKwic = _simple_module(
    "text.kwic",
    {"table": TABLE, "term": STRING},
    {"table": TABLE},
    lambda self, im, ctx: {"table": kwic_concordance(
        im["table"].data, im["term"].data,
        **config_kwargs(self, "window", text_col="text_column",
                        id_col="id_column"))},
    doc="Keyword-in-context concordance (see kwic_concordance).",
)

TextTermTrends = _simple_module(
    "text.term_trends", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": term_trends(
        im["table"].data, self.config["terms"],
        **config_kwargs(self, text_col="text_column",
                        group_col="group_column"))},
    doc="Term usage trends per group (see term_trends).",
)

TableWeightedReservoirTopk = _simple_module(
    "table.sample.weighted_topk", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": weighted_reservoir_topk(
        im["table"].data, self.config["weight_column"],
        **config_kwargs(self, "k", "salt", id_col="id_column"))},
    doc="Fixed-size weighted sample without replacement (A-ES top-k).",
)

TextJsDivergence = _simple_module(
    "text.js_divergence", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": token_distribution_divergence(
        im["table"].data,
        **config_kwargs(self, "top_k", group_col="group_column",
                        text_col="text_column"))},
    doc="""Pairwise Jensen-Shannon divergence between per-group token
    distributions (see token_distribution_divergence).""",
)

TextCleanC4 = _simple_module(
    "text.clean.c4", {"table": TABLE}, {"table": TABLE},
    lambda self, im, ctx: {"table": clean_c4(
        im["table"].data,
        **config_kwargs(self, "min_words_per_line", "min_sentences",
                        id_col="id_column", text_col="text_column"))},
    doc="C4-style line-level cleaning (see clean_c4).",
)


TextGoodTuring = _mk("text.good_turing", good_turing,
                     "Good-Turing frequency-of-frequencies table "
                     "(N_r, r*, GT probabilities)")
TextHeapsLaw = _mk("text.heaps_law_fit", heaps_law_fit,
                   "Heaps'-law vocabulary-growth fit V = K*N^beta "
                   "(templated-slice detector)")
TextBurstiness = _mk("text.term_burstiness", term_burstiness,
                     "term burstiness: variance-to-mean ratio of "
                     "per-doc counts (topical vs function words)")
TextWordlistScore = _mk("text.wordlist_score", with_wordlist_score,
                        "word-list (badword/toxicity) hit fraction + "
                        "per-doc flag verdict (C4 banned-word step)")

MODULES = [TextNormalize, TextTokenStats, TextQualityScore, TextLanguageId, TextFingerprint,
           TextTokenCount, TextChunk, TextChunkSentences, TableWeightedSample,
           TextPackTokenBudget, TextPackConcat, TableMixtureSample, TableTokenBudgetCap,
           TableUnimaxSample, TextSpanCorruption,
           TableDictEncode, TableSplitByGroup, TextFeatureHash, TextTokenDropout,
           TextExtractHtml, TableTemperatureSample, TextGopherRules,
           TextCodeDetect, TextScriptDetect,
           TextCleanC4, TextReadability, TextBpeMerges, TextBpeTrain, TextBpeEncode,
           TextCooccurrencePmi,
           TextChi2Select, TextRankKeywords, TextBigramLogprob, TextKneserNey, TextNaiveBayes,
           TextRemoveStopwords, TextKwic, TextTermTrends, TextStem,
           TextJsDivergence, TableWeightedReservoirTopk, TextZipfFit,
           TextCollocationsLlr, TextLexicalRichness, TextGoodTuring,
           TextHeapsLaw, TextBurstiness, TextWordlistScore]
OPERATIONS = [
    Operation("text.quality.gopher", "text.quality.gopher",
              doc="Gopher quality-rule battery (word/line/symbol signals)"),
    Operation("text.quality.code_detect", "text.quality.code_detect",
              doc="code-vs-prose detection for corpus routing"),
    Operation("text.script_detect", "text.script_detect",
              doc="Unicode-script profile + mixed-script flag "
                  "(multilingual routing / homoglyph tell)"),
    Operation("text.clean.c4", "text.clean.c4",
              doc="C4 line-level cleaning + document verdict"),
    Operation("text.wordlist_score", "text.wordlist_score",
              doc="word-list (badword) hit fraction + flag verdict"),
    Operation("text.readability", "text.readability",
              doc="Flesch reading-ease readability score"),
    Operation("text.cooccurrence_pmi", "text.cooccurrence_pmi",
              doc="top-k token collocations by document-level PMI"),
    Operation("text.chi2_feature_select", "text.chi2_feature_select",
              doc="per-label top-k tokens by 2x2 chi-square"),
    Operation("text.textrank_keywords", "text.textrank_keywords",
              doc="TextRank keywords (co-occurrence graph + PageRank)"),
    Operation("text.naive_bayes_classify", "text.naive_bayes_classify",
              doc="in-engine multinomial Naive Bayes train+score"),
    Operation("text.kneser_ney_bigram", "text.kneser_ney_bigram",
              doc="interpolated Kneser-Ney bigram LM per-doc score"),
    Operation("text.bigram_logprob", "text.bigram_logprob",
              doc="self-trained add-1 bigram LM per-doc score"),
    Operation("text.kwic", "text.kwic",
              doc="keyword-in-context concordance (map-only)"),
    Operation("text.remove_stopwords", "text.remove_stopwords",
              doc="stopword removal (literal vocabulary, map-only)"),
    Operation("text.term_trends", "text.term_trends",
              doc="term usage per group, per-1000-token normalized"),
    Operation("table.sample.weighted_topk", "table.sample.weighted_topk",
              doc="exact-k weighted sample without replacement (A-ES)"),
    Operation("text.zipf_fit", "text.zipf_fit",
              doc="Zipf's-law slope/R² over top-token frequencies"),
    Operation("text.collocations_llr", "text.collocations_llr",
              doc="Dunning G² collocation/phrase detection"),
    Operation("text.good_turing", "text.good_turing",
              doc="Good-Turing frequency-of-frequencies smoothing table"),
    Operation("text.heaps_law_fit", "text.heaps_law_fit",
              doc="Heaps'-law vocabulary-growth exponent fit"),
    Operation("text.term_burstiness", "text.term_burstiness",
              doc="per-doc-count variance-to-mean burstiness ranking"),
    Operation("text.lexical_richness", "text.lexical_richness",
              doc="per-group TTR / hapax ratio / Herdan's C profile"),
    Operation("text.js_divergence", "text.js_divergence",
              doc="pairwise JS divergence between per-group token "
                  "distributions (corpus drift)"),
    Operation("text.stem", "text.stem",
              doc="S-stemmer plural stripping (deterministic, map-only)"),
    Operation("text.bpe_encode", "text.bpe_encode",
              doc="apply a trained BPE merge table (broadcast fold encode)"),
    Operation("text.bpe_train", "text.bpe_train",
              doc="iterative BPE training: learned merge table over the "
                  "word-frequency dictionary"),
    Operation("text.bpe_merge_candidates", "text.bpe_merge_candidates",
              doc="adjacent-char-pair merge candidates (BPE round 1)"),
    Operation("text.augment.token_dropout", "text.augment.token_dropout"),
    Operation("text.augment.span_corruption", "text.augment.span_corruption",
              doc="T5-style sentinel span masking -> (inputs, targets) pairs"),
    Operation("table.sample.weighted", "table.sample.weighted"),
    Operation("table.sample.mixture", "table.sample.mixture"),
    Operation("table.sample.temperature", "table.sample.temperature"),
    Operation("table.sample.unimax", "table.sample.unimax",
              doc="UniMax water-filling token-budget allocation across groups"),
    # class-balanced downsampling IS temperature sampling at alpha=0
    # (rate_g = n_min/n_g: every class kept at the minority class's size)
    Operation("table.sample.balanced", "table.sample.temperature",
              {"alpha": 0.0},
              doc="deterministic class-balanced downsample to the "
                  "minority group size"),
    Operation("table.cap.token_budget", "table.cap.token_budget"),
    Operation("table.encode.dictionary", "table.encode.dictionary"),
    Operation("table.split.by_group", "table.split.by_group"),
    Operation("text.feature_hash", "text.feature_hash"),
    Operation("text.pack_token_budget", "text.pack_token_budget"),
    Operation("text.pack_concat", "text.pack_concat"),
    Operation("text.chunk", "text.chunk"),
    Operation("text.chunk_sentences", "text.chunk_sentences"),
    Operation("text.token_stats", "text.token_stats"),
    Operation("text.normalize", "text.normalize"),
    Operation("text.quality_score", "text.quality_score"),
    Operation("text.language_id", "text.language_id"),
    Operation("text.fingerprint", "text.fingerprint"),
    Operation("text.token_count", "text.token_count"),
    Operation("text.extract_html", "text.extract_html"),
]
