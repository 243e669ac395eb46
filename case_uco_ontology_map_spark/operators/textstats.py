"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, document fingerprinting.

All pure Column expressions (JVM, whole-stage codegen) — zero Python in any
of these paths, every one shuffle-free per row. Each has a DuckDB-oracle
query in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword gazetteers (public common words). Used by the
# n-gram/stopword heuristic language scorer.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "los", "del", "por"],
    "fr": ["le", "la", "de", "et", "les", "des", "en", "un", "du", "que"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "im", "ein"],
}


def tokens_col(text: Column) -> Column:
    """Whitespace tokenization → array<string> (empty tokens dropped)."""
    return F.filter(F.split(text, "\\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate is chars/4; both
    exposed by quality_features)."""
    return F.size(tokens_col(text))


def subword_count(text: Column) -> Column:
    """BPE-ish subword-count estimate: count word pieces (letter runs split
    every 4 chars, digit runs, punctuation marks) - a deterministic,
    SQL-expressible stand-in for a subword tokenizer's token count."""
    return F.regexp_count(
        text, F.lit("[a-zA-Z]{1,4}|[0-9]{1,3}|[^a-zA-Z0-9\\s]")
    ).cast("long")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length/punctuation/stopword-ratio quality features per document.

    Columns: n_chars_q, n_tokens, mean_token_len, punct_ratio, digit_ratio,
    upper_ratio, stopword_ratio_en, quality_score ∈ [0,1].
    """
    text = F.col(text_col)
    toks = tokens_col(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(text, r"[0-9]", ""))
    n_upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(toks, en_stop))

    mean_tok = F.when(n_tokens > 0, n_chars.cast("double") / n_tokens).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_chars > 0, n_punct.cast("double") / n_chars).otherwise(0.0)
    digit_ratio = F.when(n_chars > 0, n_digit.cast("double") / n_chars).otherwise(0.0)
    upper_ratio = F.when(n_chars > 0, n_upper.cast("double") / n_chars).otherwise(0.0)
    stop_ratio = F.when(
        n_tokens > 0, n_stop.cast("double") / n_tokens
    ).otherwise(0.0)

    # Heuristic quality score: long-enough, low punctuation/digit noise.
    score = (
        F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + (F.lit(1.0) - F.least(digit_ratio * 4, F.lit(1.0))) * 0.3
    )
    return df.select(
        "*",
        n_chars.alias("n_chars_q"),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 4).alias("mean_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(digit_ratio, 4).alias("digit_ratio"),
        F.round(upper_ratio, 4).alias("upper_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio_en"),
        F.round(score, 4).alias("quality_score"),
    )


def lang_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-gazetteer language ID: per-language hit counts over distinct
    tokens + argmax prediction. Pure JVM set intersection per row."""
    toks = tokens_col(F.lower(F.col(text_col)))
    out = df
    score_cols = []
    for lang, words in STOPWORDS.items():
        arr = F.array(*[F.lit(w) for w in words])
        col = F.size(F.array_intersect(toks, arr))
        out = out.withColumn(f"score_{lang}", col)
        score_cols.append(f"score_{lang}")
    # argmax via array_max over (score, lang) structs — struct comparison
    # is field-order lexicographic, so equal scores break to the
    # lexicographically LARGEST language code. Deterministic (and pinned by
    # the lang_id oracle); note this is max-code order, not STOPWORDS-key
    # order.
    pairs = F.array(
        *[
            F.struct(
                F.col(c).alias("s"), F.lit(lang).alias("lang")
            )
            for c, lang in zip(score_cols, STOPWORDS.keys())
        ]
    )
    best = F.array_max(F.filter(pairs, lambda p: p["s"] > 0))
    out = out.withColumn(
        "lang_pred", F.coalesce(best["lang"], F.lit("unknown"))
    )
    return out


def doc_fingerprints(
    df: DataFrame, text_col: str = "text", hash_mode: str = "xxhash64"
) -> DataFrame:
    """Document fingerprints: exact sha256 + a rolling-window fingerprint
    (hash of each 16-token window, min over windows ≙ winnowing pick).
    JVM-only: transform over a slide of token arrays. ``hash_mode``
    follows dedup.content_hash64 (xxhash64 production; md5_60 for the
    engine-portable oracle replay)."""
    from .dedup import content_hash64

    text = F.col(text_col)
    # stage tokens in their own projection: the per-window lambda below
    # references the token array, and an inline tokenize expression would
    # re-evaluate once per window (see dedup.shingles_from_tokens)
    staged = df.select("*", tokens_col(text).alias("_toks"))
    toks = F.col("_toks")
    n = F.size(toks)
    win = F.lit(16)
    idx = F.sequence(
        F.lit(0), F.greatest(n - win, F.lit(0))
    )
    window_hashes = F.transform(
        idx,
        lambda i: content_hash64(
            F.concat_ws(" ", F.slice(toks, i + 1, win)), hash_mode
        ),
    )
    return staged.select(
        *df.columns,
        F.sha2(text, 256).alias("exact_sha256"),
        F.array_min(window_hashes).alias("rolling_min_hash"),
    )


def repetition_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_n: int = 2,
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1
    quality rules — public): heavily self-repeating documents (boilerplate,
    SEO spam, template floods) are the classic web-corpus failure mode.

    Columns: n_grams (total ngram_n-gram occurrences), top_ngram_frac
    (occurrences of the single most frequent n-gram / total), dup_ngram_frac
    (fraction of occurrences whose gram appears >= 2x), dup_line_frac
    (1 - distinct non-empty trimmed lines / lines).

    Scale shape: line stats are pure per-row expressions (narrow). Gram
    frequencies go relational — explode -> groupBy(id, gram) ->
    groupBy(id) — because the in-expression alternative is O(tokens^2)
    per doc (hopeless at 10k-token docs). Both groupBys partial-aggregate
    map-side, so the first shuffle moves ~distinct-grams-per-doc rows and
    the second exactly one row per doc."""
    from .decontam import ngram_strings
    from .dedup import tokens_lower_col

    text = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )
    n_lines = F.size(lines)
    n_distinct_lines = F.size(F.array_distinct(lines))
    base = df.select(
        F.col(id_col),
        F.when(
            n_lines > 0,
            (n_lines - n_distinct_lines).cast("double") / n_lines,
        )
        .otherwise(F.lit(0.0))
        .alias("_dlf"),
        ngram_strings(
            tokens_lower_col(text), ngram_n, distinct=False
        ).alias("_grams"),
    )
    gram_aggs = (
        base.select(id_col, F.explode("_grams").alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.max("cnt").alias("_top"),
            F.coalesce(
                F.sum(F.when(F.col("cnt") >= 2, F.col("cnt"))), F.lit(0)
            ).alias("_dup"),
        )
    )
    n_grams = F.coalesce(F.col("n_grams"), F.lit(0))
    return (
        base.select(id_col, "_dlf")
        .join(gram_aggs, id_col, "left")
        .select(
            id_col,
            n_grams.alias("n_grams"),
            F.round(
                F.when(
                    n_grams > 0, F.col("_top").cast("double") / n_grams
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("top_ngram_frac"),
            F.round(
                F.when(
                    n_grams > 0, F.col("_dup").cast("double") / n_grams
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_ngram_frac"),
            F.round(F.col("_dlf"), 6).alias("dup_line_frac"),
        )
    )


def classifier_score(
    df: DataFrame,
    weights_milli: "list[int]",
    bias_milli: int = 0,
    threshold_milli: int = 0,
    text_col: str = "text",
    hash_mode: str = "xxhash64",
    lowercase: bool = True,
) -> DataFrame:
    """Hashing-trick linear quality classifier (the fastText-style gate
    web-corpus curation runs per document): each token hashes into one of
    ``len(weights_milli)`` buckets, the document's score is the sum of its
    tokens' bucket weights plus a bias, and ``keep`` compares the MEAN
    weight against a threshold. All weights are integer milli-units so
    every engine computes the identical exact integer sum — no float
    summation-order drift anywhere (the sigmoid/probability view is a
    monotone function of score_milli; thresholding on the integer score
    is equivalent and hash-stable).

    Adds ``n_tokens`` (long), ``score_milli`` (long, = bias + Σ w[h(t) mod
    D]), ``keep`` (boolean, score_milli ≥ threshold_milli · n_tokens).

    Scale shape: zero shuffle — one Catalyst higher-order ``aggregate``
    fold per row over the token array, weight lookup via ``element_at``
    on a literal int array (keep D ≤ ~1024; past that, prefer an explode
    + broadcast-join against a weight frame — same contract, one extra
    doc-count shuffle with map-side partials). ``hash_mode='md5_60'``
    replays bit-identically in ANSI engines (``classifier_sql``);
    ``xxhash64`` is the production mode.
    """
    n_buckets = len(weights_milli)
    if n_buckets == 0:
        raise ValueError("weights_milli must be non-empty")
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = tokens_col(text)
    from .dedup import content_hash64

    warr = F.array(*[F.lit(int(w)) for w in weights_milli])

    def _wt(t: Column) -> Column:
        idx = F.pmod(content_hash64(t, hash_mode), F.lit(n_buckets))
        return F.element_at(warr, (idx + F.lit(1)).cast("int")).cast("long")

    score = F.aggregate(
        toks,
        F.lit(int(bias_milli)).cast("long"),
        lambda acc, t: acc + _wt(t),
    )
    return (
        df.withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("score_milli", score)
        .withColumn(
            "keep",
            F.col("score_milli")
            >= F.lit(int(threshold_milli)) * F.col("n_tokens"),
        )
    )


def classifier_sql(
    weights_milli: "list[int]",
    bias_milli: int = 0,
    threshold_milli: int = 0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lowercase: bool = True,
) -> str:
    """ANSI replay of ``classifier_score(hash_mode='md5_60')`` — tokens
    unnest, join the weight VALUES list on the md5_60 bucket, exact
    integer sum per document, LEFT JOIN back so zero-token docs score
    bias_milli with n_tokens 0. Returns (id, n_tokens, score_milli,
    keep); project/order in the caller."""
    n_buckets = len(weights_milli)
    vals = ", ".join(f"({b}, {int(w)})" for b, w in enumerate(weights_milli))
    text = f"lower({text_col})" if lowercase else text_col
    bias = int(bias_milli)
    thr = int(threshold_milli)
    return f"""
WITH w(b, wt) AS (VALUES {vals}),
tok AS (
  SELECT {id_col},
         unnest(list_filter(regexp_split_to_array({text}, '\\s+'),
                            t -> t <> '')) AS tok
  FROM {table}
),
scored AS (
  SELECT {id_col}, CAST(SUM(w.wt) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n
  FROM tok JOIN w
    ON w.b = ('0x' || substr(md5(tok), 1, 15))::BIGINT % {n_buckets}
  GROUP BY {id_col}
)
SELECT d.{id_col},
       COALESCE(sc.n, 0) AS n_tokens,
       CAST({bias} + COALESCE(sc.s, 0) AS BIGINT) AS score_milli,
       (CAST({bias} + COALESCE(sc.s, 0) AS BIGINT)
        >= {thr} * COALESCE(sc.n, 0)) AS keep
FROM {table} d LEFT JOIN scored sc ON d.{id_col} = sc.{id_col}
"""


def tfidf_top_terms(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
    k: int = 10,
    min_token_len: int = 3,
) -> DataFrame:
    """Per-group keyword extraction: the top-``k`` terms of every group
    (domain/source/language slice) with exact corpus statistics and a
    tf-idf score — ``(group, term, tf, df, tfidf, rank)`` where ``tf`` is
    the term's occurrence count inside the group, ``df`` the number of
    DISTINCT documents corpus-wide containing it, and
    ``tfidf = tf · ln(N_docs / df)``.

    Determinism: ranking uses the EXACT integer dominance order
    ``(tf DESC, df ASC, term ASC)`` — the order tf·ln(N/df) induces on
    comparable pairs — never the float score, so the selected top-k SET
    is bit-stable across engines (mathematically-tied scores like
    2·ln(10) vs ln(100) round differently per libm; an exact-key rank
    cannot flip). The float is reported, not ranked on, and hashes fine
    at the driver's 6-sig-digit normalization.

    Scale shape: one explode (lowercased whitespace tokens ≥
    ``min_token_len`` chars) feeds two map-side-combined aggregations —
    (group, term) occurrence counts and per-term distinct-doc counts (a
    two-level agg, doc-distinct first, so no count-distinct shuffle
    explosion) — joined on term (AQE; the df side is |vocab| rows), then
    ONE window per group for the top-k. Term strings cross the shuffle
    once per distinct (group, term) / (term, doc), not per occurrence.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark.sql import Window

    toks = df.select(
        F.col(group_col).alias("grp"),
        F.col(doc_col).alias("_doc"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col(text_col)), "\\s+"),
                lambda t: F.length(t) >= min_token_len,
            )
        ).alias("term"),
    )
    n_docs = df.select(F.col(doc_col)).distinct().count()
    tf = toks.groupBy("grp", "term").agg(F.count("*").alias("tf"))
    dfreq = (
        toks.select("term", "_doc")
        .distinct()
        .groupBy("term")
        .agg(F.count("*").alias("df"))
    )
    scored = tf.join(dfreq, on="term").select(
        F.col("grp").alias(group_col),
        "term",
        "tf",
        "df",
        (
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
        ).alias("tfidf"),
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def tfidf_sql(
    group_col: str,
    text_col: str = "text",
    doc_col: str = "doc_id",
    k: int = 10,
    min_token_len: int = 3,
    table: str = "documents",
) -> str:
    """DuckDB replay of ``tfidf_top_terms`` over ``table``."""
    return f"""
WITH toks AS (
  SELECT {group_col} AS grp, {doc_col} AS _doc, t.term
  FROM {table},
       unnest(list_filter(regexp_split_to_array(lower({text_col}), '\\s+'),
                          x -> length(x) >= {min_token_len})) AS t(term)
),
tf AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM (SELECT DISTINCT term, _doc FROM toks) GROUP BY 1),
nd AS (SELECT CAST(count(DISTINCT {doc_col}) AS DOUBLE) AS n FROM {table}),
scored AS (
  SELECT tf.grp AS {group_col}, tf.term, tf.tf, dfreq.df,
         CAST(tf.tf AS DOUBLE) * ln((SELECT n FROM nd) / CAST(dfreq.df AS DOUBLE)) AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.grp
                            ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC)
         AS rank
  FROM tf JOIN dfreq ON tf.term = dfreq.term
)
SELECT * FROM scored WHERE rank <= {k}
"""


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    lowercase: bool = True,
) -> DataFrame:
    """Corpus-trained bigram language-model scoring → the perplexity-style
    fluency gate of a curation pipeline, with no external model: train
    add-one-smoothed bigram statistics ON the corpus itself, then score
    every document by its mean bigram log-probability —
    ``(doc_id, n_bigrams, avg_logp)`` where
    ``P(w2|w1) = (c(w1,w2) + 1) / (c_left(w1) + V)``, ``c_left(w1)`` the
    count of ``w1`` as a bigram left-hand side and ``V`` the corpus
    vocabulary size. Low ``avg_logp`` = improbable word transitions
    (boilerplate soup, mangled extractions); a real pipeline thresholds
    on it like any quality score. Documents with < 2 tokens produce no
    bigram and are absent from the output (callers union them back with
    whatever default their gate wants).

    Determinism: counts are exact integers in both engines; the only
    floats are one ``ln`` per DISTINCT (doc, bigram) and one sum/divide
    per doc — drift ~1e-15 relative, far inside the driver's 6-sig-digit
    hash normalization (same argument as pagerank/tfidf).

    Scale shape: ONE explode of in-row zipped token pairs (order
    preserved; the quadratic never leaves the row), occurrences collapsed
    to per-doc bigram types BEFORE any join, then two equi-joins: bigram
    counts on (w1, w2) — AQE handles the Zipf skew — and left-hand
    totals on w1, which is |vocab|-sized and explicitly broadcast (the
    'the'-key hot join never shuffles).
    """
    text = F.lower(F.col(text_col)) if lowercase else F.col(text_col)
    toks = df.select(
        F.col(doc_col).alias("_doc"), tokens_col(text).alias("_t")
    )
    pairs = toks.filter(F.size("_t") >= 2).select(
        "_doc",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("_t"), 1, F.size("_t") - 1).alias("w1"),
                F.slice(F.col("_t"), 2, F.size("_t") - 1).alias("w2"),
            )
        ).alias("_p"),
    ).select("_doc", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    # per-doc bigram types with multiplicity: the expensive joins below
    # see one row per distinct (doc, w1, w2), not one per occurrence
    db = pairs.groupBy("_doc", "w1", "w2").agg(F.count("*").alias("m"))
    c2 = pairs.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    cl = pairs.groupBy("w1").agg(F.count("*").alias("cl"))
    vocab_n = (
        toks.select(F.explode("_t").alias("w")).distinct()
        .agg(F.count("*").cast("double").alias("v"))
    )
    scored = (
        db.join(c2, on=["w1", "w2"])
        .join(F.broadcast(cl), on="w1")
        .crossJoin(F.broadcast(vocab_n))
        .select(
            "_doc",
            "m",
            (
                F.col("m").cast("double")
                * F.log(
                    (F.col("c2").cast("double") + F.lit(1.0))
                    / (F.col("cl").cast("double") + F.col("v"))
                )
            ).alias("_lp"),
        )
    )
    return scored.groupBy(F.col("_doc").alias(doc_col)).agg(
        F.sum("m").alias("n_bigrams"),
        (F.sum("_lp") / F.sum("m").cast("double")).alias("avg_logp"),
    )


def bigram_lm_sql(
    text_col: str = "text",
    doc_col: str = "doc_id",
    lowercase: bool = True,
    table: str = "documents",
) -> str:
    """DuckDB replay of ``bigram_lm_scores`` over ``table``."""
    text = f"lower({text_col})" if lowercase else text_col
    return f"""
WITH toks AS (
  SELECT {doc_col} AS _doc,
         list_filter(regexp_split_to_array({text}, '\\s+'), x -> x <> '')
           AS t
  FROM {table}
),
pairs AS (
  SELECT _doc, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS r(i)
  WHERE len(t) >= 2
),
db AS (SELECT _doc, w1, w2, CAST(count(*) AS BIGINT) AS m
       FROM pairs GROUP BY 1, 2, 3),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c2
       FROM pairs GROUP BY 1, 2),
cl AS (SELECT w1, CAST(count(*) AS BIGINT) AS cl FROM pairs GROUP BY 1),
v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v
      FROM (SELECT unnest(t) AS w FROM toks)),
scored AS (
  SELECT db._doc, db.m,
         CAST(db.m AS DOUBLE)
         * ln((CAST(c2.c2 AS DOUBLE) + 1.0)
              / (CAST(cl.cl AS DOUBLE) + (SELECT v FROM v))) AS lp
  FROM db JOIN c2 ON db.w1 = c2.w1 AND db.w2 = c2.w2
  JOIN cl ON db.w1 = cl.w1
)
SELECT _doc AS {doc_col}, CAST(SUM(m) AS BIGINT) AS n_bigrams,
       SUM(lp) / CAST(SUM(m) AS DOUBLE) AS avg_logp
FROM scored GROUP BY 1
"""


#: Gopher-style composite quality thresholds as EXACT RATIONALS
#: ``(numerator, denominator)`` — every keep comparison below runs in
#: integer cross-multiplication, so the gate decision is bit-identical
#: across engines (a float ``>= 0.8`` threshold can flip on the docs
#: that land exactly on it).
GOPHER_DEFAULTS = {
    "min_words": 5,
    "max_words": 100000,
    "min_mean_word_len": (3, 1),      # >= 3.0
    "max_mean_word_len": (12, 1),     # <= 12.0
    "max_symbol_ratio": (1, 10),      # '#'/'...' per word < 0.1
    "max_bullet_line_frac": (9, 10),  # < 0.9 of lines are bullets
    "min_alpha_word_frac": (4, 5),    # >= 0.8 words contain a letter
}


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    doc_col: str = "doc_id",
    thresholds: dict = None,
) -> DataFrame:
    """Gopher/C4-style composite heuristic quality gate — the classic
    webtext curation rule set as one JVM-expression pass:
    ``(doc_id, n_words, n_word_chars, n_symbols, n_bullet_lines,
    n_lines, n_alpha_words, keep)``.

    Features (exact integers): whitespace word count; total word
    characters (mean word length = chars/words); '#' and '...'
    occurrences (the symbol-soup signal); bullet lines (-, *, •
    prefixes after indent); words containing at least one ASCII letter.
    ``keep`` applies every threshold via INTEGER cross-multiplication
    (``alpha/words >= 4/5`` runs as ``5*alpha >= 4*words``) — no float
    ever decides a document's fate, so the kept set is bit-identical in
    any engine (``gopher_sql`` is the DuckDB twin).

    Scale: pure column expressions over one scan — no shuffle, no UDF;
    the gate composes with the other filters before any expensive
    operator runs (cheapest-first curation ordering).
    """
    t = thresholds or GOPHER_DEFAULTS
    text = F.col(text_col)
    words = tokens_col(text)
    n_words = F.size(words).cast("long")
    n_word_chars = F.aggregate(
        words, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_symbols = (
        F.regexp_count(text, F.lit("#")) + F.regexp_count(text, F.lit(r"\.\.\."))
    ).cast("long")
    lines = F.split(text, "\n")
    n_lines = F.size(lines).cast("long")
    n_bullet_lines = F.size(
        F.filter(lines, lambda ln: ln.rlike(r"^\s*[-*•]"))
    ).cast("long")
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    out = df.select(
        F.col(doc_col),
        n_words.alias("n_words"),
        n_word_chars.alias("n_word_chars"),
        n_symbols.alias("n_symbols"),
        n_bullet_lines.alias("n_bullet_lines"),
        n_lines.alias("n_lines"),
        n_alpha_words.alias("n_alpha_words"),
    )
    mwl_lo_n, mwl_lo_d = t["min_mean_word_len"]
    mwl_hi_n, mwl_hi_d = t["max_mean_word_len"]
    sym_n, sym_d = t["max_symbol_ratio"]
    bul_n, bul_d = t["max_bullet_line_frac"]
    alp_n, alp_d = t["min_alpha_word_frac"]
    w = F.col("n_words")
    keep = (
        (w >= F.lit(int(t["min_words"])))
        & (w <= F.lit(int(t["max_words"])))
        # chars/words >= lo  ≡  lo_d*chars >= lo_n*words
        & (F.lit(mwl_lo_d) * F.col("n_word_chars") >= F.lit(mwl_lo_n) * w)
        & (F.lit(mwl_hi_d) * F.col("n_word_chars") <= F.lit(mwl_hi_n) * w)
        & (F.lit(sym_d) * F.col("n_symbols") < F.lit(sym_n) * w)
        & (
            F.lit(bul_d) * F.col("n_bullet_lines")
            < F.lit(bul_n) * F.col("n_lines")
        )
        & (F.lit(alp_d) * F.col("n_alpha_words") >= F.lit(alp_n) * w)
    )
    return out.withColumn("keep", keep)


def gopher_sql(
    text_col: str = "text",
    doc_col: str = "doc_id",
    thresholds: dict = None,
    table: str = "documents",
) -> str:
    """DuckDB replay of ``gopher_rules`` — identical integer
    cross-multiplied gate."""
    t = thresholds or GOPHER_DEFAULTS
    mwl_lo_n, mwl_lo_d = t["min_mean_word_len"]
    mwl_hi_n, mwl_hi_d = t["max_mean_word_len"]
    sym_n, sym_d = t["max_symbol_ratio"]
    bul_n, bul_d = t["max_bullet_line_frac"]
    alp_n, alp_d = t["min_alpha_word_frac"]
    return f"""
WITH feats AS (
  SELECT {doc_col},
    CAST(len(list_filter(regexp_split_to_array({text_col}, '\\s+'),
                         x -> x <> '')) AS BIGINT) AS n_words,
    CAST(COALESCE(list_sum(list_transform(
        list_filter(regexp_split_to_array({text_col}, '\\s+'),
                    x -> x <> ''),
        x -> length(x))), 0) AS BIGINT) AS n_word_chars,
    CAST(len(regexp_extract_all({text_col}, '#'))
         + len(regexp_extract_all({text_col}, '\\.\\.\\.')) AS BIGINT)
      AS n_symbols,
    CAST(len(list_filter(regexp_split_to_array({text_col}, '\n'),
        x -> regexp_matches(x, '^\\s*[-*•]'))) AS BIGINT)
      AS n_bullet_lines,
    CAST(len(regexp_split_to_array({text_col}, '\n')) AS BIGINT)
      AS n_lines,
    CAST(len(list_filter(regexp_split_to_array({text_col}, '\\s+'),
        x -> x <> '' AND regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
      AS n_alpha_words
  FROM {table}
)
SELECT *,
  (n_words >= {int(t["min_words"])}
   AND n_words <= {int(t["max_words"])}
   AND {mwl_lo_d} * n_word_chars >= {mwl_lo_n} * n_words
   AND {mwl_hi_d} * n_word_chars <= {mwl_hi_n} * n_words
   AND {sym_d} * n_symbols < {sym_n} * n_words
   AND {bul_d} * n_bullet_lines < {bul_n} * n_lines
   AND {alp_d} * n_alpha_words >= {alp_n} * n_words) AS keep
FROM feats
"""


def domain_quality_prior(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_docs: int = 2,
    max_punct_pct: int = 10,
    min_mean_tokens: int = 20,
) -> DataFrame:
    """Per-registered-domain quality prior → ``(domain, n_docs,
    n_tokens, n_chars, n_punct, prior_pass)`` — the SITE-level gate
    web-curation pipelines (C4 blocklists, RefinedWeb site priors) run
    before any per-document scoring: a domain whose aggregate text is
    punctuation soup or consistently near-empty is dropped wholesale,
    which is both cheaper than doc-level scoring (one decision per
    domain, not per page) and catches template farms that pass
    per-document thresholds page by page.

    The gate is INTEGER-exact (cross-multiplied, no float thresholds —
    the ``gopher_rules`` discipline): ``n_docs >= min_docs``, total
    punctuation under ``max_punct_pct`` % of total chars, and mean
    tokens/doc at least ``min_mean_tokens`` (as ``n_tokens >= n_docs ×
    min_mean_tokens``).

    Scale shape: per-doc counts fold in-row (whole-stage codegen), then
    ONE map-side-combined groupBy on domain — the output is 10^5–10^7
    rows at web scale, small enough to broadcast back over the corpus
    as a semi-join on the passing domains."""
    from case_uco_ontology_map_spark.functions.urls import (
        host_registered_domain,
        url_host,
    )

    text = F.col(text_col)
    n_chars = F.length(text)
    return (
        docs.select(
            host_registered_domain(url_host(F.col(url_col))).alias(
                "domain"
            ),
            token_count(text).cast("long").alias("_tok"),
            n_chars.cast("long").alias("_ch"),
            (
                n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
            ).cast("long").alias("_pn"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_tok").alias("n_tokens"),
            F.sum("_ch").alias("n_chars"),
            F.sum("_pn").alias("n_punct"),
        )
        .select(
            "domain",
            "n_docs",
            "n_tokens",
            "n_chars",
            "n_punct",
            (
                (F.col("n_docs") >= F.lit(int(min_docs)))
                & (
                    F.col("n_punct") * 100
                    <= F.col("n_chars") * F.lit(int(max_punct_pct))
                )
                & (
                    F.col("n_tokens")
                    >= F.col("n_docs") * F.lit(int(min_mean_tokens))
                )
            ).alias("prior_pass"),
        )
    )


def domain_prior_sql(
    table: str = "d",
    url_col: str = "url",
    text_col: str = "text",
    min_docs: int = 2,
    max_punct_pct: int = 10,
    min_mean_tokens: int = 20,
) -> str:
    """DuckDB replay of ``domain_quality_prior`` — identical host
    normalization + registered-domain CASE + integer gate."""
    from case_uco_ontology_map_spark.functions.links import (
        registered_domain_sqlexpr,
    )

    h = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
    hostexpr = (
        "regexp_replace(regexp_replace(regexp_replace("
        f"lower(regexp_extract({url_col}, '{h}', 1)), "
        r"'^[^@]*@', ''), ':(80|443)$', ''), '^www\.', '')"
    )
    dom = registered_domain_sqlexpr(f"({hostexpr})")
    return f"""
SELECT domain, n_docs, n_tokens, n_chars, n_punct,
       (n_docs >= {int(min_docs)}
        AND n_punct * 100 <= n_chars * {int(max_punct_pct)}
        AND n_tokens >= n_docs * {int(min_mean_tokens)}) AS prior_pass
FROM (
  SELECT {dom} AS domain,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(SUM(len(list_filter(
             regexp_split_to_array({text_col}, '\\s+'),
             t -> t <> ''))) AS BIGINT) AS n_tokens,
         CAST(SUM(length({text_col})) AS BIGINT) AS n_chars,
         CAST(SUM(length({text_col}) - length(regexp_replace(
             {text_col}, '[^a-zA-Z0-9_\\s]', '', 'g'))) AS BIGINT)
           AS n_punct
  FROM {table}
  GROUP BY 1
) z
"""


_BL_KEY_BASE = 1000000000000  # 13-digit zero-padded inverse-count sort key


def boilerplate_lines(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    min_docs: int = 3,
) -> DataFrame:
    """Per-domain boilerplate-line census → ``(domain, line_md5, line,
    n_docs)``: every (trimmed-non-empty) text line that appears in at
    least ``min_docs`` DISTINCT documents of the same registered domain —
    the CCNet/trafilatura-style template detector that catches nav menus,
    cookie banners, and footers which per-document quality scoring can't
    see (each copy looks fine; the REPETITION across a site is the
    signal).

    Scale shape: lines explode once with only (domain, md5(line), url) —
    grouping keys are the 32-char digest, not the line string, so hub
    domains shuffle digests; the sample ``line`` string rides as a
    ``min`` aggregate (md5 determines content, min makes the pick
    deterministic regardless). Exact two-phase distinct-doc counts; the
    output is O(distinct boilerplate lines), tiny by construction."""
    from ..functions.urls import host_registered_domain, url_host

    lines = docs.select(
        host_registered_domain(url_host(F.col(url_col))).alias("domain"),
        F.col(url_col).alias("_u"),
        F.explode(F.split(F.col(text_col), "\n")).alias("line"),
    ).where(F.length(F.trim(F.col("line"))) > 0)
    return (
        lines.groupBy("domain", F.md5("line").alias("line_md5"))
        .agg(
            F.min("line").alias("line"),
            F.countDistinct("_u").alias("n_docs"),
        )
        .where(F.col("n_docs") >= F.lit(int(min_docs)))
        .select("domain", "line_md5", "line", "n_docs")
    )


def strip_boilerplate(
    docs: DataFrame,
    boilerplate: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    out_col: str = "text_clean",
    max_lines_per_domain: int = 4096,
) -> DataFrame:
    """Remove detected boilerplate lines from each document → the input
    frame plus ``out_col`` (lines NOT in the domain's boilerplate set,
    re-joined with newlines; blank lines survive — only non-empty lines
    are ever candidates). The membership set collapses to ONE sorted
    md5-array per domain (most-frequent lines first, capped at
    ``max_lines_per_domain`` — a pathological template farm can't blow
    the array), broadcast, and probed IN-ROW with a higher-order filter:
    document text never explodes, never shuffles, never crosses into
    Python."""
    key = F.concat(
        F.lpad(
            (F.lit(_BL_KEY_BASE) - F.col("n_docs")).cast("string"), 13, "0"
        ),
        F.lit(":"),
        F.col("line_md5"),
    )
    per_domain = boilerplate.groupBy("domain").agg(
        F.transform(
            F.slice(
                F.array_sort(F.collect_list(key)),
                1,
                int(max_lines_per_domain),
            ),
            lambda s: F.substring(s, 15, 32),
        ).alias("_bl")
    )
    from ..functions.urls import host_registered_domain, url_host

    keyed = docs.withColumn(
        "_dom", host_registered_domain(url_host(F.col(url_col)))
    )
    joined = keyed.join(
        F.broadcast(per_domain),
        on=keyed["_dom"] == per_domain["domain"],
        how="left",
    )
    bl = F.coalesce(F.col("_bl"), F.array().cast("array<string>"))
    clean = F.array_join(
        F.filter(
            F.split(F.col(text_col), "\n"),
            lambda l: ~F.array_contains(bl, F.md5(l)),
        ),
        "\n",
    )
    return joined.withColumn(out_col, clean).drop("_dom", "domain", "_bl")


def strip_boilerplate_sql(
    table: str = "d",
    url_col: str = "url",
    text_col: str = "text",
    min_docs: int = 3,
    max_lines_per_domain: int = 4096,
) -> str:
    """DuckDB replay of ``boilerplate_lines`` + ``strip_boilerplate`` end
    to end over one documents table → ``(url, text_clean)`` — identical
    host chain, md5 line keys, inverse-count sort-key cap, and
    order-preserving list filter."""
    from ..functions.links import registered_domain_sqlexpr

    h = r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)"
    hostexpr = (
        "regexp_replace(regexp_replace(regexp_replace("
        f"lower(regexp_extract({url_col}, '{h}', 1)), "
        r"'^[^@]*@', ''), ':(80|443)$', ''), '^www\.', '')"
    )
    dom = registered_domain_sqlexpr(f"({hostexpr})")
    return f"""
WITH lines AS (
  SELECT {dom} AS domain, {url_col} AS u, l.line AS line
  FROM {table},
       LATERAL (SELECT UNNEST(string_split({text_col}, chr(10))) AS line) l
  WHERE length(trim(l.line)) > 0
),
bl AS (
  SELECT domain, md5(line) AS line_md5,
         CAST(count(DISTINCT u) AS BIGINT) AS n_docs
  FROM lines GROUP BY domain, md5(line)
  HAVING count(DISTINCT u) >= {int(min_docs)}
),
per_domain AS (
  SELECT domain,
         list_transform(
           list_sort(list(
             lpad(CAST({_BL_KEY_BASE} - n_docs AS VARCHAR), 13, '0')
             || ':' || line_md5
           ))[1:{int(max_lines_per_domain)}],
           s -> substr(s, 15, 32)
         ) AS bl_md5
  FROM bl GROUP BY domain
)
SELECT {table}.{url_col} AS url,
       array_to_string(
         list_filter(
           string_split({table}.{text_col}, chr(10)),
           l -> NOT list_contains(COALESCE(pd.bl_md5, []), md5(l))
         ), chr(10)
       ) AS text_clean
FROM {table}
LEFT JOIN per_domain pd ON {dom} = pd.domain
"""
