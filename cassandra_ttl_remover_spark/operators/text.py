"""Text-analysis operators over document tables (north-star surface,
SURVEY.md §2.2): language ID, quality scoring, token counting, document
fingerprinting.

These extend the reference's operator surface with what a 100 TB
training-data pipeline needs. The reference has no scalar function library at
all (values are opaque ByteBuffers — NoTTLColumnSerializer.java:30,38,44), so
this module is pure Spark-first design.

Determinism-by-construction: every function here is expressible in ANSI SQL
with engine-portable primitives only (md5, strpos/instr, integer bit ops,
exact integer sums, int/int -> IEEE-double division), so the DuckDB oracle
hash-matches bit-for-bit. No RNG, no engine-specific hash functions in the
oracle-checked paths.

Scale notes: everything is either per-row higher-order-function work (no
shuffle: simhash, shingling, quality) or a single partial-aggregated groupBy
(lang-id scoring). Stopword/language dims are broadcast.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.functions import broadcast

from cassandra_ttl_remover_spark.plans import fan_out, local_frame

# ---------------------------------------------------------------------------
# Portable word/shingle primitives
# ---------------------------------------------------------------------------

#: split on single spaces, dropping empties — identical to DuckDB
#: ``[w for w in string_split(text,' ') if w <> '']``.
WORDS_EXPR = "filter(split({col}, ' '), w -> w <> '')"

#: 3-word shingles, 1-based indexing to mirror DuckDB list semantics.
SHINGLES_EXPR = (
    "case when size({ws}) >= 3 then "
    "array_distinct(transform(sequence(1, size({ws}) - 2), "
    "i -> concat_ws(' ', element_at({ws}, i), element_at({ws}, i + 1), "
    "element_at({ws}, i + 2)))) "
    "else array() end"
)


# ---------------------------------------------------------------------------
# Language identification (stopword-hit heuristic)
# ---------------------------------------------------------------------------

#: (lang, priority, stopwords) — tiny built-in n-gram/stopword tables; the
#: heuristic is the classic stopword-profile vote. Priority breaks ties
#: deterministically (lowest wins).
LANG_PROFILES: list[tuple[str, int, list[str]]] = [
    ("en", 0, ["the", "a", "of", "and", "to", "in", "is", "it", "for", "on"]),
    ("de", 1, ["der", "die", "das", "und", "ist", "ein", "zu", "mit", "von"]),
    ("es", 2, ["el", "la", "de", "y", "es", "un", "una", "en", "por", "que"]),
    ("fr", 3, ["le", "la", "et", "est", "un", "une", "dans", "pour", "que"]),
    ("it", 4, ["il", "la", "di", "e", "che", "un", "una", "per", "con"]),
]


def lang_id(spark: SparkSession, docs: DataFrame, text_col: str = "text",
            id_col: str = "doc_id",
            keep_cols: list[str] | None = None) -> DataFrame:
    """Predict language by stopword hits per language profile, argmax with
    (hits desc, priority asc) tie-break; zero hits -> 'und'.

    Scale: ZERO shuffle — the stopword dim is tiny and literal, so the whole
    classifier is a per-row higher-order-function projection (per-lang
    ``size(filter(words, contains))`` counts + a sorted-struct argmax),
    entirely inside whole-stage codegen. The earlier explode + broadcast-join
    + groupBy + window formulation shuffled the exploded word list twice for
    the same answer. ``spark`` is kept for signature stability (unused).

    ``keep_cols`` passes input columns through, letting pipelines chain
    scorers as stacked projections instead of re-joining on the id."""
    ws = WORDS_EXPR.format(col=text_col)
    # built over the HOISTED _ws column: the candidate list repeats the
    # word array once per language, and the argmax expression is used
    # twice — inline splits would run ~2N splits per row
    cands = ", ".join(
        "struct(-cast(size(filter(_ws, w -> array_contains({lit}, w))) as bigint)"
        " as nh, {prio} as prio, '{lang}' as lang)".format(
            lit="array(" + ", ".join(f"'{w}'" for w in words) + ")",
            prio=prio,
            lang=lang,
        )
        for lang, prio, words in LANG_PROFILES
    )
    # sort ascending by (-hits, prio): element 1 is the winner; filter keeps
    # only langs with >0 hits so an all-miss doc yields an empty array ->
    # try_element_at NULL -> ('und', 0) (element_at would throw under ANSI)
    best = f"try_element_at(array_sort(filter(array({cands}), x -> x.nh < 0)), 1)"
    keep = [c for c in (keep_cols or []) if c != id_col]
    return fan_out(docs.select(id_col, text_col, *[c for c in keep if c != text_col]),
                   id_col).select(
        F.col(id_col),
        F.expr(ws).alias("_ws"),
        *[F.col(c) for c in keep],
    ).select(
        F.col(id_col),
        F.expr(best).alias("_best"),
        *[F.col(c) for c in keep],
    ).select(
        F.col(id_col),
        F.expr("coalesce(_best.lang, 'und')").alias("pred_lang"),
        F.expr("cast(coalesce(-_best.nh, 0) as bigint)").alias("hits"),
        *[F.col(c) for c in keep],
    )


#: DuckDB oracle equivalent of lang_id (shares LANG_PROFILES via format()).
def lang_id_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    vals = ", ".join(
        f"('{lang}', {prio}, '{w}')"
        for lang, prio, words in LANG_PROFILES
        for w in words
    )
    return f"""
WITH stop(lang, prio, word) AS (VALUES {vals}),
words AS (
  SELECT {id_col}, unnest([w for w in string_split(text, ' ') if w <> '']) AS w
  FROM {table}
),
hits AS (
  SELECT {id_col}, lang, prio, count(*) AS hits
  FROM words JOIN stop ON words.w = stop.word
  GROUP BY {id_col}, lang, prio
),
best AS (
  SELECT {id_col}, lang, hits,
         row_number() OVER (PARTITION BY {id_col} ORDER BY hits DESC, prio ASC) AS rn
  FROM hits
)
SELECT d.{id_col},
       coalesce(b.lang, 'und') AS pred_lang,
       coalesce(b.hits, 0)::BIGINT AS hits
FROM {table} d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING ({id_col})
ORDER BY d.{id_col}
"""


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

def quality_score(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  keep_cols: list[str] | None = None) -> DataFrame:
    """Heuristic document quality: length, word stats, punctuation ratio,
    stopword ratio — combined into a [0,1]-ish score. All arithmetic is
    exact-int then IEEE double, so the oracle matches bit-for-bit.
    Pure per-row projection: no shuffle, codegen'd. ``keep_cols`` passes
    input columns through for join-free pipeline chaining."""
    stop_all = sorted({w for _, _, ws in LANG_PROFILES for w in ws})
    stop_lit = "array(" + ", ".join(f"'{w}'" for w in stop_all) + ")"
    ws = WORDS_EXPR.format(col=text_col)
    keep = [c for c in (keep_cols or []) if c != id_col]
    docs = fan_out(docs, id_col)
    # hoisted word array: five inline copies would split the text five
    # times per row
    return docs.select(
        id_col,
        *[F.col(c) for c in keep],
        F.col(text_col),
        F.expr(ws).alias("_ws"),
    ).select(
        id_col,
        *[F.col(c) for c in keep],
        F.length(text_col).cast("long").alias("n_chars"),
        F.expr("cast(size(_ws) as bigint)").alias("n_words"),
        F.expr(
            "cast(aggregate(_ws, 0L, (a, w) -> a + length(w)) as double)"
            " / nullif(size(_ws), 0)"
        ).alias("avg_word_len"),
        F.expr(
            f"cast(aggregate(_ws, 0L, (a, w) -> a + if(array_contains({stop_lit}, w), 1, 0)) as double)"
            f" / nullif(size(_ws), 0)"
        ).alias("stopword_ratio"),
        F.expr(
            f"cast(length(regexp_replace({text_col}, '[a-z0-9 ]', '')) as double)"
            f" / nullif(length({text_col}), 0)"
        ).alias("punct_ratio"),
    ).withColumn(
        "quality",
        F.expr(
            "least(1.0d, n_words / 100.0d) * 0.5d"
            " + least(1.0d, coalesce(stopword_ratio, 0.0d) * 4.0d) * 0.3d"
            " + (1.0d - least(1.0d, coalesce(punct_ratio, 0.0d) * 5.0d)) * 0.2d"
        ),
    )


def quality_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    stop_all = sorted({w for _, _, ws in LANG_PROFILES for w in ws})
    stop_lit = "[" + ", ".join(f"'{w}'" for w in stop_all) + "]"
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH q AS (
  SELECT {id_col},
         length(text)::BIGINT AS n_chars,
         len({ws})::BIGINT AS n_words,
         CAST(list_sum(list_transform({ws}, w -> length(w))) AS DOUBLE)
           / nullif(len({ws}), 0) AS avg_word_len,
         CAST(len(list_filter({ws}, w -> list_contains({stop_lit}, w))) AS DOUBLE)
           / nullif(len({ws}), 0) AS stopword_ratio,
         CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
           / nullif(length(text), 0) AS punct_ratio
  FROM {table}
)
SELECT *,
       least(1.0, n_words / 100.0) * 0.5
       + least(1.0, coalesce(stopword_ratio, 0.0) * 4.0) * 0.3
       + (1.0 - least(1.0, coalesce(punct_ratio, 0.0) * 5.0)) * 0.2 AS quality
FROM q ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Token counting
# ---------------------------------------------------------------------------

def token_counts(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens ([a-z]+ | digit runs |
    single other chars) — the two standard pre-tokenization counts.
    Per-row projection, no shuffle."""
    ws = WORDS_EXPR.format(col=text_col)
    docs = fan_out(docs, id_col)
    return docs.select(
        id_col,
        F.expr(f"cast(size({ws}) as bigint)").alias("ws_tokens"),
        F.expr(f"cast(regexp_count({text_col}, '[a-z]+|[0-9]+|[^a-z0-9 ]') as bigint)").alias(
            "bpe_tokens"
        ),
        F.expr(f"cast(regexp_count({text_col}, '[a-z0-9]+') as bigint)").alias(
            "alnum_tokens"
        ),
    )


def token_counts_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
SELECT {id_col},
       len({ws})::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))::BIGINT AS bpe_tokens,
       len(regexp_extract_all(text, '[a-z0-9]+'))::BIGINT AS alnum_tokens
FROM {table} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Document fingerprinting (rolling-hash / min-hash fingerprint)
# ---------------------------------------------------------------------------

def fingerprint(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Winnowing-style fingerprint: the minimum md5 over the document's
    3-word shingles (a 1-permutation MinHash — robust to local edits), with
    md5(text) fallback for short docs. Per-row projection."""
    ws = WORDS_EXPR.format(col=text_col)
    sh = SHINGLES_EXPR.format(ws="_ws")  # hoisted: no per-element re-split
    docs = fan_out(docs, id_col)
    return docs.select(
        id_col, F.col(text_col), F.expr(ws).alias("_ws")
    ).select(
        id_col,
        F.expr(
            f"coalesce(array_min(transform({sh}, s -> md5(s))), md5({text_col}))"
        ).alias("fingerprint"),
    )


def fingerprint_oracle_sql(table: str = "documents", id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    sh = (
        f"CASE WHEN len({ws}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({ws}) - 1), i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]))"
        f" ELSE [] END"
    )
    return f"""
SELECT {id_col},
       coalesce(list_min(list_transform({sh}, s -> md5(s))), md5(text)) AS fingerprint
FROM {table} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Text normalization (preprocessing projection)
# ---------------------------------------------------------------------------

def normalize_text(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   keep_cols: list[str] | None = None) -> DataFrame:
    """Canonical text normalization ahead of dedup/tokenization: lowercase,
    collapse every whitespace run to a single space, trim. Normalizing
    BEFORE exact dedup is what makes byte-distinct-but-equivalent documents
    (trailing newlines, double spaces, case drift) collapse into one hash
    group. Per-row projection — no shuffle, fused into the scan; returns
    ``(id_col, *keep_cols, norm_text, n_chars)`` with ``n_chars`` the
    normalized length."""
    keep = [c for c in (keep_cols or []) if c != id_col]
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), "\\s+", " "))
    return docs.select(
        id_col,
        *[F.col(c) for c in keep],
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("n_chars"),
    )


def normalize_text_oracle_sql(table: str = "documents",
                              id_col: str = "doc_id") -> str:
    # the 'g' flag matters: DuckDB regexp_replace is first-match-only by
    # default, Spark's replaces all occurrences
    norm = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    return f"""
SELECT {id_col}, {norm} AS norm_text, length({norm})::BIGINT AS n_chars
FROM {table} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Repetition ratio (Gopher-style intra-document quality signal)
# ---------------------------------------------------------------------------

def repetition_ratio(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Intra-document repetition: the fraction of the doc's 3-word shingles
    that are duplicates of an earlier one (``1 - distinct/total``), plus the
    duplicate-word fraction — the standard repeated-n-gram quality filters
    for LLM corpora (high values = boilerplate loops, keyboard mashing,
    crawler traps). Exact integer counts -> one IEEE division each, so the
    DuckDB oracle hash-matches. Per-row projection, no shuffle."""
    ws = WORDS_EXPR.format(col=text_col)
    total_sh = "greatest(size(_ws) - 2, 0)"
    distinct_sh = SHINGLES_EXPR.format(ws="_ws")  # hoisted, no re-split
    docs = fan_out(docs, id_col)
    return docs.select(
        id_col, F.expr(ws).alias("_ws")
    ).select(
        id_col,
        F.expr(
            f"1.0d - cast(size({distinct_sh}) as double) / nullif({total_sh}, 0)"
        ).alias("dup_shingle_ratio"),
        F.expr(
            "1.0d - cast(size(array_distinct(_ws)) as double)"
            " / nullif(size(_ws), 0)"
        ).alias("dup_word_ratio"),
    )


def repetition_ratio_oracle_sql(table: str = "documents",
                                id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    sh = (
        f"CASE WHEN len({ws}) >= 3 THEN list_distinct(list_transform("
        f"range(1, len({ws}) - 1), i -> {ws}[i] || ' ' || {ws}[i+1] || ' ' || {ws}[i+2]))"
        f" ELSE [] END"
    )
    return f"""
SELECT {id_col},
       1.0 - CAST(len({sh}) AS DOUBLE) / nullif(greatest(len({ws}) - 2, 0), 0)
         AS dup_shingle_ratio,
       1.0 - CAST(len(list_distinct({ws})) AS DOUBLE) / nullif(len({ws}), 0)
         AS dup_word_ratio
FROM {table} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# PII scrubbing (regex redaction projection)
# ---------------------------------------------------------------------------

#: redaction patterns chosen for cross-engine regex portability (no
#: lookarounds — Java regex and RE2 agree on these)
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+"
_LONGNUM_RE = "[0-9]{7,}"


def scrub_pii(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Redact obvious PII-shaped spans: email addresses -> ``<email>``,
    7+-digit runs (phone/account numbers) -> ``<number>``. Deliberately
    conservative patterns — a recall-first PII pipeline layers an NER model
    on top; this operator is the cheap deterministic first pass every
    corpus gets. Returns ``(id_col, clean_text, n_redactions)``; per-row
    projection, no shuffle."""
    c = F.col(text_col)
    # Column API only (F.regexp_count/F.regexp_replace take the pattern
    # verbatim) — routing these through F.expr would subject the backslash
    # in the email pattern to SQL string-literal escape processing
    n_red = F.regexp_count(c, F.lit(_EMAIL_RE)) + F.regexp_count(
        F.regexp_replace(c, _EMAIL_RE, "<email>"), F.lit(_LONGNUM_RE)
    )
    clean = F.regexp_replace(
        F.regexp_replace(c, _EMAIL_RE, "<email>"), _LONGNUM_RE, "<number>"
    )
    docs = fan_out(docs, id_col)
    return docs.select(
        id_col,
        clean.alias("clean_text"),
        n_red.cast("long").alias("n_redactions"),
    )


def scrub_pii_oracle_sql(table: str = "documents",
                         id_col: str = "doc_id") -> str:
    email, num = _EMAIL_RE.replace("\\\\", "\\"), _LONGNUM_RE
    return f"""
SELECT {id_col},
       regexp_replace(regexp_replace(text, '{email}', '<email>', 'g'),
                      '{num}', '<number>', 'g') AS clean_text,
       (len(regexp_extract_all(text, '{email}'))
        + len(regexp_extract_all(
            regexp_replace(text, '{email}', '<email>', 'g'), '{num}')))::BIGINT
         AS n_redactions
FROM {table} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Corpus vocabulary statistics
# ---------------------------------------------------------------------------

def vocab_topk(docs: DataFrame, k: int = 100, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Corpus-level word frequency: the ``k`` most frequent whitespace
    words with their counts and document frequencies (ties broken by word
    asc) — the vocabulary audit a tokenizer build starts from.

    Scale: explode -> one map-side-combined count keyed by word (high
    cardinality but uniform; no single word exceeds one reducer's
    capacity), then top-k as TakeOrderedAndProject — per-task heaps, never
    a global sort."""
    ws = WORDS_EXPR.format(col=text_col)
    w = fan_out(docs.select(id_col, text_col), id_col).select(
        id_col, F.explode(F.expr(ws)).alias("word")
    )
    counts = w.groupBy("word").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct(id_col).alias("n_docs"),
    )
    return counts.orderBy(F.desc("n_occurrences"), F.asc("word")).limit(k)


def vocab_topk_oracle_sql(k: int = 100, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH w AS (SELECT {id_col}, unnest({ws}) AS word FROM {table})
SELECT word, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT {id_col})::BIGINT AS n_docs
FROM w GROUP BY word
ORDER BY n_occurrences DESC, word ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Corpus-statistics quality: unigram frequency score
# ---------------------------------------------------------------------------

def unigram_freq_quality(docs: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Unigram-LM-style quality signal: for each document, the mean corpus
    frequency of its tokens — documents full of corpus-rare tokens (OCR
    noise, mojibake, exotic boilerplate) score low; documents of common
    well-attested words score high. This is the engine-portable surrogate
    for unigram log-likelihood (monotone in token frequency, no
    transcendental ops, so it hash-matches an ANSI oracle exactly).
    Returns ``(id_col, n_tokens, sum_freq, mean_freq)``; empty docs drop out
    (no tokens to score).

    Scale: explode -> one map-side-combined vocab count (word -> n), one
    shuffle join token->count (AQE handles the inevitable hot-word skew),
    one re-agg by doc. Token volume is corpus-size; both aggs are partial.
    The vocab frame is reused via a single plan — Catalyst dedups the scan.
    """
    ws = WORDS_EXPR.format(col=text_col)
    toks = fan_out(docs.select(id_col, text_col), id_col).select(
        id_col, F.explode(F.expr(ws)).alias("word")
    )
    vocab = toks.groupBy("word").agg(F.count("*").alias("freq"))
    return (
        toks.join(vocab, "word")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("freq").cast("long").alias("sum_freq"),
        )
        .withColumn("mean_freq", F.col("sum_freq") / F.col("n_tokens"))
    )


def unigram_freq_quality_oracle_sql(table: str = "documents",
                                    id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH toks AS (SELECT {id_col}, unnest({ws}) AS word FROM {table}),
vocab AS (SELECT word, count(*)::BIGINT AS freq FROM toks GROUP BY word)
SELECT {id_col}, count(*)::BIGINT AS n_tokens,
       sum(freq)::BIGINT AS sum_freq,
       (sum(freq)::BIGINT / count(*)::BIGINT::DOUBLE) AS mean_freq
FROM toks JOIN vocab USING (word)
GROUP BY {id_col} ORDER BY {id_col}
"""


#: 2-word sequences (NOT distinct — frequency-weighted, unlike shingles).
BIGRAMS_EXPR = (
    "case when size({ws}) >= 2 then "
    "transform(sequence(1, size({ws}) - 1), "
    "i -> concat_ws(' ', element_at({ws}, i), element_at({ws}, i + 1))) "
    "else array() end"
)


def bigram_freq_quality(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Bigram-LM-style formulaicity signal: for each document, the mean
    corpus frequency of its word bigrams. Where :func:`unigram_freq_quality`
    scores vocabulary commonness, this scores PHRASING commonness —
    boilerplate and template text repeats whole bigrams across the corpus
    (high mean), original prose pairs common words in uncommon ways (low
    mean). The two together separate clean-but-formulaic from
    clean-and-novel, which unigrams alone cannot. Same determinism
    construction: exact integer counts, one final IEEE division.
    Returns ``(id_col, n_bigrams, sum_freq, mean_freq)``; docs with < 2
    words drop out.

    Scale: identical shape to the unigram path — explode (bigram volume =
    token volume), one map-side-combined bigram count, one shuffle join
    (AQE covers hot-bigram skew), one re-agg by doc."""
    ws = WORDS_EXPR.format(col=text_col)
    bg = BIGRAMS_EXPR.format(ws="_ws")  # hoisted, no per-element re-split
    toks = (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(id_col, F.expr(ws).alias("_ws"))
        .select(id_col, F.explode(F.expr(bg)).alias("bigram"))
    )
    counts = toks.groupBy("bigram").agg(F.count("*").alias("freq"))
    return (
        toks.join(counts, "bigram")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("freq").cast("long").alias("sum_freq"),
        )
        .withColumn("mean_freq", F.col("sum_freq") / F.col("n_bigrams"))
    )


def bigram_freq_quality_oracle_sql(table: str = "documents",
                                   id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    bg = (
        f"CASE WHEN len({ws}) >= 2 THEN list_transform(range(1, len({ws})), "
        f"i -> {ws}[i] || ' ' || {ws}[i+1]) ELSE [] END"
    )
    return f"""
WITH toks AS (SELECT {id_col}, unnest({bg}) AS bigram FROM {table}),
counts AS (SELECT bigram, count(*)::BIGINT AS freq FROM toks GROUP BY bigram)
SELECT {id_col}, count(*)::BIGINT AS n_bigrams,
       sum(freq)::BIGINT AS sum_freq,
       (sum(freq)::BIGINT / count(*)::BIGINT::DOUBLE) AS mean_freq
FROM toks JOIN counts USING (bigram)
GROUP BY {id_col} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# TF-IDF top-k terms per document
# ---------------------------------------------------------------------------

def tfidf_topk(docs: DataFrame, k: int = 3, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Top-``k`` characteristic terms per document by tf-idf, with a
    *rational* idf (``n_docs / df`` instead of ``ln(n_docs/df)``) so the
    score is one exact int multiply + one IEEE division — bit-portable
    across engines, same ranking direction as log-idf. Ties break by term
    asc. Returns ``(id_col, term, tf, df, score, rank)``.

    Scale: explode -> (doc,term) tf agg; term -> df agg on top of it
    (re-uses the same shuffle key prefix); df joins back on term; the
    per-doc top-k is a window over the doc key — each doc's term list is
    small, so no skew. The global doc count is a broadcast scalar join.
    """
    ws = WORDS_EXPR.format(col=text_col)
    toks = fan_out(docs.select(id_col, text_col), id_col).select(
        id_col, F.explode(F.expr(ws)).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count("*").cast("long").alias("tf"))
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.select(
        F.count("*").cast("long").alias("_n_docs")
    )
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", (F.col("tf") * F.col("_n_docs")) / F.col("df"))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", F.col("rank").cast("int").alias("rank"))
    )


def tfidf_topk_oracle_sql(k: int = 3, table: str = "documents",
                          id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH toks AS (SELECT {id_col}, unnest({ws}) AS term FROM {table}),
tf AS (SELECT {id_col}, term, count(*)::BIGINT AS tf FROM toks GROUP BY {id_col}, term),
df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY term),
n AS (SELECT count(*)::BIGINT AS n_docs FROM {table}),
scored AS (
  SELECT {id_col}, term, tf, df, (tf * n_docs)::BIGINT / df::DOUBLE AS score
  FROM tf JOIN df USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY {id_col}
            ORDER BY score DESC, term ASC)::INT AS rank
  FROM scored
)
SELECT {id_col}, term, tf, df, score, rank FROM ranked WHERE rank <= {k}
ORDER BY {id_col}, rank
"""


def build_term_index(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Inverted term index: one ``(term, id)`` row per distinct word per
    document — the search-engine posting-list primitive. Materialize with
    ``sinks.writer.write_bucketed(ix, table, "term")`` so term lookups
    prune to one bucket and index∪index joins co-locate shuffle-free.

    Scale: explode + distinct-per-doc; rows are (8B-hashable term, id) —
    the compact shape of every shuffle downstream."""
    ws = WORDS_EXPR.format(col=text_col)
    return fan_out(docs.select(id_col, text_col), id_col).select(
        F.col(id_col), F.explode(F.array_distinct(F.expr(ws))).alias("term")
    )


def keyword_search(docs: DataFrame, terms: list[str],
                   text_col: str = "text", id_col: str = "doc_id",
                   index: DataFrame | None = None) -> DataFrame:
    """Documents containing ALL of ``terms`` (conjunctive keyword search)
    via posting-list intersection: filter the inverted index to the query
    terms (a broadcast of the tiny term list), then keep ids whose match
    count equals the query arity. Returns ``(id_col, n_matched)``.

    Scale: the full-corpus scan happens once to build/read the index; the
    query touches only the query terms' postings (bucket-pruned when the
    index is written bucketed by term) — never the documents themselves.
    This is why engines index: a LIKE-scan over 100 TB per query vs a few
    posting lists. Pass a pre-built (materialized) ``index`` to skip the
    in-flight build."""
    if not terms:
        raise ValueError("keyword_search needs at least one term")
    ix = index if index is not None else build_term_index(docs, text_col, id_col)
    spark = docs.sparkSession
    tf = local_frame(spark, [(t,) for t in set(terms)], "term string")
    return (
        ix.join(broadcast(tf), "term")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_matched"))
        .filter(F.col("n_matched") == len(set(terms)))
    )


def keyword_search_oracle_sql(terms: list[str], table: str = "documents",
                              id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    lst = ", ".join(f"'{t}'" for t in sorted(set(terms)))
    n = len(set(terms))
    return f"""
SELECT {id_col}, {n}::BIGINT AS n_matched FROM {table}
WHERE list_has_all(list_distinct({ws}), [{lst}])
ORDER BY {id_col}
"""


def _bm25_exprs(terms: list[str]) -> tuple[list[str], str, str, str]:
    """Shared BM25 arithmetic for the Spark plan and the DuckDB oracle —
    ONE derivation so the two engines cannot drift. With k1 = 6/5 and
    b = 3/4, clearing denominators by 20·A (A = total corpus tokens,
    N = docs, dl = doc length, avgdl = A/N):

        tf_norm = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
                = 44·A·tf / (20·A·tf + 6·A + 18·N·dl)
        idf     = (N − df + ½) / (df + ½) = (2N − 2df + 1) / (2df + 1)

    so score_t's numerator and denominator are EXACT integers and the
    only IEEE ops are one division per term plus a fixed-order sum —
    the PMI/DSIR rational-surrogate convention (the standard ln(idf) is
    monotone in this ratio; the per-term weighting is a declared
    variant). Returns (tf exprs, num template, den template, score
    expr over the per-term quotients)."""
    tfs = [f"size(filter(_ws, w -> w = '{t}'))" for t in terms]
    num = "(2 * {N} - 2 * {df} + 1) * 44 * {A} * {tf}"
    den = "(2 * {df} + 1) * (20 * {A} * {tf} + 6 * {A} + 18 * {N} * {dl})"
    score = " + ".join(f"_q{i}" for i in range(len(terms)))
    return tfs, num, den, score


def bm25_topk(docs: DataFrame, terms: list[str], k: int = 20,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """BM25 ranked retrieval: top-``k`` documents for a bag-of-terms
    query, scored with the Robertson tf saturation (k1 = 1.2) and
    length normalization (b = 0.75) over exact integer rationals — see
    :func:`_bm25_exprs`. Returns ``(id_col, n_matched, score)`` ordered
    by score desc with the id as the total tie-break, so the ranking is
    hash-stable across engines (every float is one IEEE quotient of two
    exact DECIMAL(38,0) operands plus a fixed-order sum — the PMI
    convention). Overflow bound: num ≤ 2N·44·A·tf — at N = 2e9 docs,
    A = 1e12 tokens, tf = 1e4 that is ~9e26, inside DECIMAL(38,0)
    (loud ANSI overflow beyond, never silent).

    Scale shape: per-term tf and dl are ONE zero-shuffle HOF projection
    over the corpus (no explode — the query's terms are columns, not
    rows); N, A, and per-term df ride along as a broadcast 1-row
    aggregate; the final top-k is a TakeOrdered (per-partition heads,
    no global sort). Query cost at 100 TB is one corpus scan — the
    serving-path alternative is the bucketed inverted index
    (:func:`build_term_index` + ``write_bucketed``), whose posting
    intersection :func:`keyword_search` already implements; this is the
    scoring half of that engine."""
    terms = list(dict.fromkeys(terms))  # de-dup, keep order
    if not terms:
        raise ValueError("bm25_topk needs at least one term")
    for t in terms:
        if not t.isalnum():
            raise ValueError(f"query term {t!r} must be alphanumeric")
    ws = WORDS_EXPR.format(col=text_col)
    tfs, num_t, den_t, score_e = _bm25_exprs(terms)
    base = (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(id_col, F.expr(ws).alias("_ws"))
        .select(
            id_col,
            F.expr("size(_ws)").cast("long").alias("_dl"),
            *[F.expr(e).cast("long").alias(f"_tf{i}")
              for i, e in enumerate(tfs)],
        )
        .localCheckpoint(eager=False)  # stats + scoring read it once each
    )
    stats = F.broadcast(base.agg(
        F.count("*").cast("long").alias("_N"),
        F.sum("_dl").cast("long").alias("_A"),
        *[F.count_if(F.col(f"_tf{i}") > 0).cast("long").alias(f"_df{i}")
          for i in range(len(terms))],
    ))
    dec = "cast({v} as decimal(38,0))"
    qcols = []
    for i in range(len(terms)):
        fmt = dict(N=dec.format(v="_N"), A=dec.format(v="_A"),
                   df=dec.format(v=f"_df{i}"), tf=dec.format(v=f"_tf{i}"),
                   dl=dec.format(v="_dl"))
        qcols.append(F.expr(
            f"if(_tf{i} = 0, cast(0.0 as double), "
            f"cast({num_t.format(**fmt)} as double)"
            f" / cast({den_t.format(**fmt)} as double))"
        ).alias(f"_q{i}"))
    matched = " + ".join(f"if(_tf{i} > 0, 1, 0)" for i in range(len(terms)))
    return (
        base.crossJoin(stats)
        .select(id_col, F.expr(f"cast({matched} as bigint)").alias("n_matched"),
                *qcols)
        .filter(F.col("n_matched") > 0)
        .select(id_col, "n_matched", F.expr(score_e).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_topk_oracle_sql(terms: list[str], k: int = 20,
                         table: str = "documents",
                         id_col: str = "doc_id") -> str:
    """DuckDB recomputation of :func:`bm25_topk` from the SAME
    :func:`_bm25_exprs` derivation: exact HUGEINT rationals, one IEEE
    quotient per term, the identical fixed-order sum."""
    terms = list(dict.fromkeys(terms))
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    tf_cols = ", ".join(
        f"len(list_filter({ws}, w -> w = '{t}'))::BIGINT AS _tf{i}"
        for i, t in enumerate(terms))
    _, num_t, den_t, score_e = _bm25_exprs(terms)
    dec = "({v}::HUGEINT)"
    qs = []
    for i in range(len(terms)):
        fmt = dict(N=dec.format(v="_N"), A=dec.format(v="_A"),
                   df=dec.format(v=f"_df{i}"), tf=dec.format(v=f"_tf{i}"),
                   dl=dec.format(v="_dl"))
        qs.append(
            f"CASE WHEN _tf{i} = 0 THEN 0.0 ELSE "
            f"({num_t.format(**fmt)})::DOUBLE"
            f" / ({den_t.format(**fmt)})::DOUBLE END AS _q{i}")
    matched = " + ".join(
        f"CASE WHEN _tf{i} > 0 THEN 1 ELSE 0 END"
        for i in range(len(terms)))
    df_cols = ", ".join(
        f"count(*) FILTER (_tf{i} > 0)::BIGINT AS _df{i}"
        for i in range(len(terms)))
    return f"""
WITH base AS (
  SELECT {id_col}, len({ws})::BIGINT AS _dl, {tf_cols} FROM {table}
),
stats AS (
  SELECT count(*)::BIGINT AS _N, sum(_dl)::BIGINT AS _A, {df_cols}
  FROM base
),
scored AS (
  SELECT {id_col}, ({matched})::BIGINT AS n_matched, {", ".join(qs)}
  FROM base, stats
)
SELECT {id_col}, n_matched, {score_e} AS score
FROM scored WHERE n_matched > 0
ORDER BY score DESC, {id_col} ASC LIMIT {k}
"""


# ---------------------------------------------------------------------------
# Sliding-window document chunking
# ---------------------------------------------------------------------------

def chunk_sliding(docs: DataFrame, window: int = 64, stride: int = 48,
                  text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split each document into overlapping word-window chunks (``window``
    words every ``stride`` words — the long-context training-prep shape
    where adjacent chunks share ``window - stride`` words of context).
    Every document yields at least one chunk; the final chunk is the
    remainder (possibly shorter than ``window``). Returns
    ``(id_col, chunk_id, n_words, chunk)`` with ``chunk_id`` 0-based.

    Scale: a pure per-row higher-order-function projection — sequence +
    transform + posexplode, ZERO shuffle, fused into the scan by codegen.
    Chunking 100 TB is embarrassingly parallel; output order within a doc
    is carried explicitly by ``chunk_id``, not by row order.
    """
    ws = WORDS_EXPR.format(col=text_col)
    starts = (
        f"sequence(1, greatest(1, size(_ws) - {window - stride}), {stride})"
    )
    return (
        docs.select(id_col, F.expr(ws).alias("_ws"))
        .filter(F.size("_ws") > 0)
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform({starts}, s -> concat_ws(' ', slice(_ws, s, {window})))"
                )
            ).alias("chunk_id", "chunk"),
        )
        .select(
            id_col,
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.expr(
                WORDS_EXPR.format(col="chunk")
            ).alias("_cw"),
            "chunk",
        )
        .select(id_col, "chunk_id", F.size("_cw").cast("int").alias("n_words"), "chunk")
    )


def chunk_sliding_oracle_sql(window: int = 64, stride: int = 48,
                             table: str = "documents",
                             id_col: str = "doc_id") -> str:
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH d AS (SELECT {id_col}, {ws} AS ws FROM {table}),
nz AS (SELECT * FROM d WHERE len(ws) > 0),
starts AS (
  SELECT {id_col}, ws, unnest(range(1, greatest(1, len(ws) - {window - stride}) + 1, {stride})) AS s
  FROM nz
),
chunks AS (
  SELECT {id_col}, ((s - 1) / {stride})::INT AS chunk_id,
         ws[s : s + {window} - 1] AS cw
  FROM starts
)
SELECT {id_col}, chunk_id, len(cw)::INT AS n_words,
       array_to_string(cw, ' ') AS chunk
FROM chunks ORDER BY {id_col}, chunk_id
"""


def equidepth_histogram(docs: DataFrame, n_buckets: int = 8,
                        value_col: str = "n_chars",
                        id_col: str = "doc_id",
                        two_level: bool = False) -> DataFrame:
    """Equi-DEPTH histogram of a numeric column: ``n_buckets`` buckets of
    (near-)equal row count via ntile over the unique order
    ``(value_col, id_col)`` — SQL-standard ntile splits remainders onto
    the leading buckets identically in every engine, so the bucket bounds
    hash-match. Returns ``(bucket, n, lo, hi)``.

    Equi-depth (quantile) bounds are what a corpus length report or an
    optimizer histogram wants — equal-WIDTH bins (length_histogram's log2
    buckets) hide the mass distribution when lengths are skewed.

    Scale: the default ntile window serializes into ONE task (sorting
    only (value, id) pairs — tolerable far beyond fixture scale);
    ``two_level=True`` runs the REAL distributed form — exact ranks from
    :func:`plans.two_level_cumsum` plus closed-form ntile arithmetic —
    property-tested identical. Pre-aggregating to (value, count) first
    or approx_percentile bounds remain the documented alternatives.
    """
    base = docs.select(id_col, value_col)
    if two_level:
        # the real scale path: exact global ranks from the shard-parallel
        # prefix sum, then SQL-standard ntile arithmetic (first n mod b
        # buckets take the extra row) applied as a closed-form expression
        from cassandra_ttl_remover_spark.plans import two_level_cumsum

        total = base.count()
        q, rem = total // n_buckets, total % n_buckets
        ranked = two_level_cumsum(
            base.withColumn("_one", F.lit(1).cast("long")),
            [value_col, id_col], "_one", out="_rank",
        )
        big = q + 1
        bucket = (
            f"cast(if(_rank <= {rem}L * {big}L,"
            f" (_rank - 1L) div {big}L + 1L,"
            f" {rem}L + (_rank - {rem}L * {big}L - 1L) div {max(q, 1)}L + 1L)"
            f" as int)"
        )
        bucketed = ranked.withColumn("bucket", F.expr(bucket))
    else:
        w = Window.orderBy(F.col(value_col), F.col(id_col))
        bucketed = base.withColumn(
            "bucket", F.ntile(n_buckets).over(w).cast("int")
        )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count("*").alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
    )


def equidepth_histogram_oracle_sql(n_buckets: int = 8,
                                   value_col: str = "n_chars",
                                   table: str = "documents",
                                   id_col: str = "doc_id") -> str:
    return f"""
WITH t AS (
  SELECT {id_col}, {value_col},
         ntile({n_buckets}) OVER (ORDER BY {value_col}, {id_col})::INT AS bucket
  FROM {table}
)
SELECT bucket, count(*)::BIGINT AS n,
       min({value_col}) AS lo, max({value_col}) AS hi
FROM t GROUP BY bucket ORDER BY bucket
"""


#: default mini merge table (most frequent English char bigrams) — a real
#: vocabulary would be learned offline and passed in; the ALGORITHM is the
#: thing the operator pins down.
DEFAULT_BPE_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"),
    ("o", "n"), ("r", "e"), ("a", "t"),
]


def _bpe_subword_count_col(w, merges):
    """Subword count of ONE word under the doubled-delimiter merge
    chain — THE single Spark-side definition of the canonical
    whole-symbol non-overlapping fusion (see bpe_segment's docstring
    for why a single-spaced replace would fuse across symbols).
    bpe_segment and tokenizer_fertility both call this; the SQL twin
    is :func:`_bpe_seg_sql`."""
    seg = F.concat(F.lit("  "), F.regexp_replace(w, "(.)", "$1  "))
    for a, b in merges:
        # merge symbols are passed as ONE literal each (F.lit), never
        # interpolated into SQL text — quotes/backslashes in learned
        # merges cannot break or alter the expression
        seg = F.replace(seg, F.lit(f" {a}  {b} "), F.lit(f" {a}{b} "))
    return F.size(F.split(F.trim(seg), " +"))


def _bpe_seg_sql(merges) -> str:
    """The DuckDB twin of :func:`_bpe_subword_count_col`'s seg chain
    over a word bound as ``w`` — shared by bpe_segment_oracle_sql and
    tokenizer_fertility_oracle_sql so the two oracles can never
    diverge on the fusion convention."""

    def _q(s: str) -> str:
        return s.replace("'", "''")

    seg = "'  ' || regexp_replace(w, '(.)', '\\1  ', 'g')"
    for a, b in merges:
        seg = (f"replace({seg}, ' {_q(a)}  {_q(b)} ',"
               f" ' {_q(a)}{_q(b)} ')")
    return seg



def bpe_segment(docs: DataFrame, merges: list[tuple[str, str]] | None = None,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Byte-pair-encoding segmentation with a FIXED, ordered merge table —
    the deterministic half of a real tokenizer (training the merges is an
    offline frequency loop; applying them is what a 100 TB pipeline runs
    per document). Returns ``(id_col, n_words, n_subwords)``.

    Algorithm, per word: split to characters, then apply each merge rule
    in table order as a canonical NON-OVERLAPPING left-to-right pair
    fusion over whole symbols. Implemented as a single per-row
    projection — JVM codegen end to end, no shuffle, no Python — via the
    doubled-delimiter trick: the symbol sequence is rendered with TWO
    spaces between symbols (and at both ends) so the literal pattern
    ``' a  b '`` can only match a whole-symbol-adjacent pair (each match
    consumes one space from each side, preserving the doubled form for
    subsequent rules and letting back-to-back occurrences both match).
    A plain substring replace on the single-spaced form would be wrong:
    ``'b b'`` can match across a symbol boundary once earlier merges
    create multi-char symbols (e.g. spanning the tail of ``'ab'`` in
    ``'a ab b'``), fusing fragments of different symbols. Literally the
    same doubled-delimiter chain runs in the DuckDB oracle.

    Scale: O(len x merges) per row, map-side; the merge table is baked
    into the expression (fine to a few thousand rules — beyond that,
    switch to a pandas_udf with a trie, the documented Arrow boundary).
    """
    merges = DEFAULT_BPE_MERGES if merges is None else merges
    ws = WORDS_EXPR.format(col=text_col)
    n_sub = F.aggregate(
        F.expr(ws), F.lit(0),
        lambda s, w: s + _bpe_subword_count_col(w, merges)
    )
    return fan_out(docs, id_col).select(
        id_col,
        F.expr(f"cast(size({ws}) as bigint)").alias("n_words"),
        n_sub.cast("long").alias("n_subwords"),
    )


def bpe_segment_oracle_sql(merges: list[tuple[str, str]] | None = None,
                           table: str = "documents",
                           id_col: str = "doc_id") -> str:
    merges = DEFAULT_BPE_MERGES if merges is None else merges
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    # the same doubled-delimiter whole-symbol fusion as the Spark side
    seg = _bpe_seg_sql(merges)
    return f"""
SELECT {id_col},
       len({ws})::BIGINT AS n_words,
       coalesce(
         list_sum(list_transform({ws},
                  w -> len(string_split_regex(trim({seg}), ' +')))), 0
       )::BIGINT AS n_subwords
FROM {table} ORDER BY {id_col}
"""


# ---------------------------------------------------------------------------
# Repetition runs (the counting Gopher signals: mode bigram + longest run)
# ---------------------------------------------------------------------------

def repetition_runs(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """The two counting repetition signals that complete repetition_ratio's
    fraction-based pair: the frequency of each document's MOST COMMON word
    bigram (crawler-trap boilerplate shows up as one bigram dominating) and
    the longest run of consecutive identical tokens (keyboard-mash / token
    -loop detector). All outputs are exact integers.

    Scale shape: the longest-run scan is a pure per-row ``aggregate`` HOF —
    JVM codegen, zero shuffle, O(doc length). The bigram mode needs a
    per-(doc, bigram) count, expressed as explode -> two-level aggregation
    so Spark's partial (map-side) aggregation absorbs the duplicate mass
    before the single hash shuffle on ``id_col``; the tiny per-doc scalars
    ride through the aggregation keys rather than re-joining the docs table.
    At 100 TB this is the same plan: one shuffle keyed by (doc, bigram),
    pre-combined map-side, no doc-level skew beyond document length itself.
    """
    ws = WORDS_EXPR.format(col=text_col)
    # longest run of identical adjacent tokens via fold: carry
    # (prev token, current run, best run); empty docs fold to best=0
    max_run = (
        f"aggregate({ws}, struct('' as prev, 0 as run, 0 as best),"
        f" (a, w) -> struct(w as prev,"
        f"   if(w = a.prev, a.run + 1, 1) as run,"
        f"   greatest(a.best, if(w = a.prev, a.run + 1, 1)) as best),"
        f" a -> a.best)"
    )
    # hoist the word array first: element_at over an inlined split would
    # re-split the text per bigram element (O(words²) splits per doc)
    max_run = max_run.replace(ws, "_ws")
    base = fan_out(docs, id_col).select(
        F.col(id_col), F.expr(ws).alias("_ws")
    ).select(
        F.col(id_col),
        F.expr("size(_ws)").cast("long").alias("n_tokens"),
        F.expr(max_run).cast("long").alias("max_run"),
        # sequence(1, 0) would DESCEND to [1, 0] in Spark, so docs with
        # fewer than two tokens must short-circuit to an empty bigram list
        F.expr(
            "if(size(_ws) < 2, array(),"
            " transform(sequence(1, size(_ws) - 1),"
            "  i -> concat(element_at(_ws, i), ' ',"
            "              element_at(_ws, i + 1))))"
        ).alias("_bgs"),
    )
    exploded = base.select(
        id_col, "n_tokens", "max_run", F.explode_outer("_bgs").alias("_bg")
    )
    per_bigram = exploded.groupBy(id_col, "n_tokens", "max_run", "_bg").agg(
        F.count("*").alias("_c")
    )
    return (
        per_bigram.groupBy(id_col, "n_tokens", "max_run")
        .agg(
            F.max(
                F.when(F.col("_bg").isNull(), F.lit(0)).otherwise(F.col("_c"))
            ).cast("long").alias("top_bigram_count")
        )
        .select(id_col, "n_tokens", "top_bigram_count", "max_run")
    )


def repetition_runs_oracle_sql(table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """Independent recomputation: the longest run via gaps-and-islands
    (position minus per-token rank groups consecutive occurrences) instead
    of the Spark side's fold, and the bigram mode via plain GROUP BY — two
    different algorithms that must agree exactly."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH b AS (
  SELECT {id_col}, {ws} AS ws, len({ws})::BIGINT AS n_tokens FROM {table}
),
tok AS (
  SELECT {id_col}, unnest(ws) AS w,
         unnest(range(1, len(ws) + 1)) AS i
  FROM b
),
runs AS (
  SELECT {id_col}, count(*)::BIGINT AS run_len
  FROM (
    SELECT {id_col}, w, i,
           i - row_number() OVER (PARTITION BY {id_col}, w ORDER BY i) AS isl
    FROM tok
  )
  GROUP BY {id_col}, w, isl
),
bigr AS (
  SELECT {id_col}, count(*)::BIGINT AS c
  FROM (
    SELECT {id_col}, ws[i] || ' ' || ws[i + 1] AS bg
    FROM (
      SELECT {id_col}, ws,
             unnest(range(1, greatest(len(ws) - 1, 0) + 1)) AS i
      FROM b
    )
  )
  GROUP BY {id_col}, bg
)
SELECT b.{id_col}, b.n_tokens,
       coalesce((SELECT max(c) FROM bigr WHERE bigr.{id_col} = b.{id_col}),
                0)::BIGINT AS top_bigram_count,
       coalesce((SELECT max(run_len) FROM runs WHERE runs.{id_col} = b.{id_col}),
                0)::BIGINT AS max_run
FROM b ORDER BY b.{id_col}
"""


# ---------------------------------------------------------------------------
# BPE vocabulary induction (distributed merge training)
# ---------------------------------------------------------------------------

def bpe_train(docs: DataFrame, n_merges: int = 3, text_col: str = "text",
              id_col: str = "doc_id", batch: int = 1) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules from the corpus — the
    OFFLINE half of the tokenizer whose online half is bpe_segment. Each
    round counts adjacent symbol pairs over the distinct-word table
    (weighted by word frequency), takes the argmax under the deterministic
    (count DESC, pair ASC) order, and fuses that pair everywhere as a
    whole-symbol non-overlapping left-to-right merge — the same
    doubled-delimiter construction bpe_segment applies, so train and
    apply agree on one canonical convention (a bare substring replace
    would be wrong: ``'b b'`` can span the tail of a multi-char symbol
    like ``'ab'`` once earlier merges exist, learning fused fragments of
    different symbols).

    Returns ``(merge_round, pair, pair_count)`` — one row per learned rule.

    Scale shape: the corpus collapses to the distinct-word frequency table
    ONCE (one shuffle on word; at 100 TB this is the classic vocab count,
    ~10M rows regardless of corpus size), localCheckpointed so the merge
    loop never rescans the corpus. Each round is then one map-side-
    combined aggregation over a small symbol-pair key space plus a
    bounded collect — the same bounded-driver-action pattern as
    kmeans/IVF. The per-round frontier is O(batch) rows, never a
    broadcast table.

    SCALE BOUNDARY — the loop is DRIVER-SEQUENCED: one Spark job per
    round. At the declared small ``n_merges`` that's cheap; at a real
    32k-merge vocabulary it is 32k sequential jobs whose scheduling
    latency, not data volume, dominates. ``batch > 1`` is the standard
    remedy: each round collects the top ``batch`` pairs (with lookahead)
    and applies the longest PROVABLY-INDEPENDENT prefix in one pass,
    cutting the job count by up to ``batch``x with OUTPUT IDENTICAL to
    the sequential loop. The acceptance rule that makes identity exact:

    - accept candidates in (count DESC, pair ASC) rank order with NO
      skips, while each pair's two symbols AND its fused form are
      disjoint from every symbol/fused form already accepted this round
      (disjoint merges can't change each other's counts, and the fused-
      form check stops a merge from minting a symbol another accepted
      pair reads);
    - stop at the first conflict, then keep only accepted pairs whose
      count is STRICTLY above the stopping pair's count (every pair a
      batch merge can create or shrink shares a symbol with an accepted
      pair, so its count is bounded by some non-accepted pair's count —
      strictness closes the equal-count lexicographic tie-break hole);
    - the rank-1 pair is always kept (it is the round's true argmax).

    tests/test_text.py proves batch==sequential merge-for-merge on the
    fixture corpus and on an adversarial overlapping-pair corpus.
    """
    ws = WORDS_EXPR.format(col=text_col)
    words = (
        fan_out(docs, id_col)
        .select(F.explode(F.expr(ws)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            F.expr("trim(regexp_replace(word, '(.)', '$1 '))").alias("seq"),
            "cnt",
        )
        .localCheckpoint(eager=False)
    )
    pair_expr = (
        "explode(if(size(split(seq, ' ')) < 2, array(),"
        " transform(sequence(1, size(split(seq, ' ')) - 1),"
        "  i -> concat(element_at(split(seq, ' '), i), ' ',"
        "              element_at(split(seq, ' '), i + 1)))))"
    )
    learned = []
    while len(learned) < n_merges:
        want = min(batch, n_merges - len(learned))
        # lookahead past `want` so the stop-pair that bounds created/
        # shrunk counts is visible even when the whole batch accepts
        look = want + max(want, 4) if want > 1 else 1
        top = (
            words.select(F.expr(pair_expr).alias("pair"), "cnt")
            .groupBy("pair")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(look)
            .collect()
        )
        if not top:
            break
        # longest no-skip symbol-disjoint prefix (see docstring rule)
        accepted = []
        used: set[str] = set()
        cutoff = None
        for row in top[:want]:
            a, b = row.pair.split(" ")
            if accepted and ({a, b, a + b} & used):
                cutoff = row.c
                break
            accepted.append((row.pair, int(row.c)))
            used |= {a, b, a + b}
        else:
            if len(top) > len(accepted):  # lookahead row bounds the rest
                cutoff = top[len(accepted)].c
        if cutoff is not None:
            accepted = [accepted[0]] + [
                pc for pc in accepted[1:] if pc[1] > cutoff
            ]
        for pair, c in accepted:
            learned.append((len(learned), pair, c))
            # Whole-symbol fusion via the doubled-delimiter form: wrap
            # seq in double spaces, double the inter-symbol spaces,
            # replace the fully-delimited pair pattern (consuming one
            # space per side so adjacent occurrences still match), then
            # collapse back to the single-spaced canonical seq. Column-
            # arg replace with the pair as ONE literal, never an
            # interpolated SQL literal: corpus tokens can contain
            # quotes/backslashes, and literal escaping would either
            # throw (PARSE_SYNTAX_ERROR on a trailing backslash) or
            # silently unescape sequences the oracle's subquery-based
            # replace treats verbatim
            wrapped = F.concat(
                F.lit("  "),
                F.replace(F.col("seq"), F.lit(" "), F.lit("  ")),
                F.lit("  "),
            )
            fused = F.replace(
                wrapped,
                F.lit(" " + pair.replace(" ", "  ") + " "),
                F.lit(" " + pair.replace(" ", "") + " "),
            )
            words = words.withColumn(
                "seq", F.regexp_replace(F.trim(fused), " +", " ")
            )
    spark = docs.sparkSession
    return local_frame(
        spark, learned, "merge_round bigint, pair string, pair_count bigint"
    ).orderBy("merge_round")


def bpe_train_oracle_sql(n_merges: int = 3, table: str = "documents") -> str:
    """Unrolled recomputation: one CTE chain per round (pair counts ->
    argmax -> replace), the SQL transliteration of the training loop. The
    argmax tie-break (count DESC, pair ASC over ASCII symbols) is total,
    so both engines must learn the identical merge table."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    ctes = [
        f"""w0 AS (
  SELECT trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq,
         count(*)::BIGINT AS cnt
  FROM (SELECT unnest({ws}) AS word FROM {table})
  GROUP BY word
)""",
        f"s0 AS (SELECT seq, cnt FROM w0)",
    ]
    selects = []
    for r in range(n_merges):
        ctes.append(f"""p{r} AS (
  SELECT pair, sum(cnt)::BIGINT AS c
  FROM (
    SELECT toks[i] || ' ' || toks[i + 1] AS pair, cnt
    FROM (
      SELECT string_split(seq, ' ') AS toks, cnt,
             unnest(range(1, greatest(len(string_split(seq, ' ')) - 1, 0) + 1)) AS i
      FROM s{r}
    )
  )
  GROUP BY pair
)""")
        ctes.append(
            f"t{r} AS (SELECT pair, c FROM p{r} ORDER BY c DESC, pair ASC "
            f"LIMIT 1)"
        )
        ctes.append(f"""s{r + 1} AS (
  SELECT trim(regexp_replace(
           replace('  ' || replace(seq, ' ', '  ') || '  ',
                   ' ' || replace((SELECT pair FROM t{r}), ' ', '  ') || ' ',
                   ' ' || replace((SELECT pair FROM t{r}), ' ', '') || ' '),
           ' +', ' ', 'g')) AS seq, cnt
  FROM s{r}
)""")
        selects.append(
            f"SELECT {r}::BIGINT AS merge_round, pair, c::BIGINT AS pair_count "
            f"FROM t{r}"
        )
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL\n".join(selects)
        + "\nORDER BY merge_round"
    )


def pmi_bigrams(docs: DataFrame, k: int = 50, min_count: int = 5,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Collocation mining: the top-``k`` adjacent token bigrams by
    pointwise mutual information.  PMI = log(p(xy) / (p(x) p(y))) is
    monotone in the exact integer ratio

        lift = (c_xy * T * T) / (B * c_x * c_y)

    (T = total tokens, B = total bigrams, c_* = corpus counts), so the
    ranking never needs a float log: both engines compute the two exact
    DECIMAL(38,0) operands and ONE IEEE quotient — hash-stable.  Output
    ``(w1, w2, c_xy, c_x, c_y, lift_num, lift_den, lift)`` ordered by
    lift desc, (w1, w2) asc, with the classic ``min_count`` support
    filter that keeps PMI from promoting hapax noise.  Overflow bound:
    lift_num <= c_xy * T^2 — corpora to ~1e12 tokens stay inside
    DECIMAL(38,0) (loud ANSI overflow beyond, never silent).

    Scale shape: one explode for unigram counts, one for bigram counts
    (both map-side-combined aggs); T and B ride along as a broadcast
    1-row aggregate; the two dictionary joins are token-keyed shuffles
    (vocabulary-sized, orders below corpus size); final top-k is
    TakeOrdered.  No driver loops, no crossJoin anywhere."""
    ws = WORDS_EXPR.format(col=text_col)
    toks = fan_out(docs, id_col).select(F.expr(ws).alias("_t"))
    uni = (
        toks.select(F.explode("_t").alias("w"))
        .groupBy("w").agg(F.count("*").cast("long").alias("c"))
    )
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "case when size(_t) >= 2 then "
                    "transform(sequence(1, size(_t) - 1), "
                    "i -> struct(_t[i - 1] as w1, _t[i] as w2)) "
                    "else array() end"
                )
            ).alias("p")
        )
        .groupBy("p.w1", "p.w2")
        .agg(F.count("*").cast("long").alias("c_xy"))
        .filter(F.col("c_xy") >= min_count)
    )
    totals = F.broadcast(
        toks.agg(
            F.expr("sum(cast(size(_t) as bigint))").alias("T"),
            F.expr(
                "sum(cast(greatest(size(_t) - 1, 0) as bigint))"
            ).alias("B"),
        )
    )
    dec = "cast({v} as decimal(38,0))"
    num = (f"{dec.format(v='c_xy')} * {dec.format(v='T')}"
           f" * {dec.format(v='T')}")
    den = (f"{dec.format(v='B')} * {dec.format(v='c_x')}"
           f" * {dec.format(v='c_y')}")
    return (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c").alias("c_x")),
                "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c").alias("c_y")),
              "w2")
        .crossJoin(totals)
        .select(
            "w1", "w2", "c_xy", "c_x", "c_y",
            F.expr(f"cast({num} as string)").alias("lift_num"),
            F.expr(f"cast({den} as string)").alias("lift_den"),
            (F.expr(num).cast("double") / F.expr(den).cast("double"))
            .alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(k)
    )


def pmi_bigrams_oracle_sql(k: int = 50, min_count: int = 5,
                           table: str = "documents") -> str:
    """DuckDB mirror: identical counts, HUGEINT operands, one quotient."""
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH t AS (
  SELECT {ws} AS toks FROM {table}
), uni AS (
  SELECT unnest(toks) AS w FROM t
), uc AS (
  SELECT w, count(*)::BIGINT AS c FROM uni GROUP BY w
), bi AS (
  SELECT toks[i] AS w1, toks[i + 1] AS w2
  FROM t, LATERAL UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), bc AS (
  SELECT w1, w2, count(*)::BIGINT AS c_xy
  FROM bi GROUP BY w1, w2 HAVING count(*) >= {min_count}
), totals AS (
  SELECT sum(len(toks))::BIGINT AS T,
         sum(greatest(len(toks) - 1, 0))::BIGINT AS B
  FROM t
)
SELECT w1, w2, c_xy, x.c AS c_x, y.c AS c_y,
       (c_xy::HUGEINT * T * T)::VARCHAR AS lift_num,
       (B::HUGEINT * x.c * y.c)::VARCHAR AS lift_den,
       (c_xy::HUGEINT * T * T)::DOUBLE
         / (B::HUGEINT * x.c * y.c)::DOUBLE AS lift
FROM bc JOIN uc x ON bc.w1 = x.w JOIN uc y ON bc.w2 = y.w, totals
ORDER BY lift DESC, w1 ASC, w2 ASC
LIMIT {k}
"""


def winnow_fingerprints(docs: DataFrame, window: int = 4,
                        text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Full WINNOWING fingerprint selection (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm — public method): hash every word 3-gram,
    slide a ``window``-wide window over the hash sequence, select each
    window's minimum (ties -> leftmost), and keep the DISTINCT selected
    positions. Guarantees every match of length >= window+2 tokens shares
    a fingerprint while keeping density ~2/(window+1) — the principled
    upgrade over :func:`fingerprint`'s single global min. Returns
    ``(id_col, n_grams, n_selected, fp)`` where ``fp`` is the md5 of the
    comma-joined selected hashes in position order (hash-checkable
    without shipping the fingerprint set).

    Short docs: fewer grams than the window -> ONE window over all grams
    (standard boundary rule); no grams -> (0, 0, md5('')).

    Scale shape: pure per-row higher-order functions — zero shuffle,
    whole-stage codegen, embarrassingly parallel; cost is O(tokens *
    window) comparisons per doc, all JVM-side."""
    ws = WORDS_EXPR.format(col=text_col)
    # positional gram hashes (NOT distinct — winnowing needs the sequence);
    # case-guard because Spark's sequence(1, 0) counts DOWN to [1, 0].
    # Built over the HOISTED _ws column — an inlined split would
    # re-split the text per gram element (O(words²) splits per doc)
    hs = ("case when size(_ws) >= 3 then "
          "transform(sequence(1, size(_ws) - 2), "
          "i -> md5(concat_ws(' ', element_at(_ws, i), "
          "element_at(_ws, i + 1), element_at(_ws, i + 2)))) "
          "else array() end")
    w = int(window)
    body = (
        f"element_at(transform(array({hs}), hs -> "
        f"struct(cast(size(hs) as bigint) as n_grams, "
        # distinct (hash, pos) argmins, one per window; leftmost on ties
        # via lexicographic struct min over (hash, pos)
        f"array_distinct(transform("
        # empty-gram guard: sequence(1, 0) would count DOWN in Spark
        f" if(size(hs) = 0, array(),"
        f"    sequence(1, greatest(size(hs) - {w} + 1, 1))),"
        f" j -> array_min(transform("
        f"   sequence(j, least(j + {w} - 1, size(hs))),"
        f"   i -> struct(element_at(hs, i) as h, i as p))))) as sel"
        f")), 1)"
    )
    return (
        fan_out(docs.select(id_col, text_col), id_col)
        .select(F.col(id_col), F.expr(ws).alias("_ws"))
        .select(F.col(id_col), F.expr(body).alias("_x"))
        .select(
            id_col,
            F.col("_x.n_grams").alias("n_grams"),
            F.expr("cast(size(_x.sel) as bigint)").alias("n_selected"),
            F.expr(
                "md5(array_join(transform(array_sort(_x.sel,"
                " (a, b) -> case when a.p < b.p then -1"
                " when a.p > b.p then 1 else 0 end), s -> s.h), ','))"
            ).alias("fp"),
        )
        .orderBy(id_col)
    )


def winnow_fingerprints_oracle_sql(window: int = 4,
                                   table: str = "documents",
                                   id_col: str = "doc_id") -> str:
    """Independent recomputation: per-window argmin via list_position on
    the sliced hash list (a different mechanism than Spark's struct-min),
    distinct positions, same ordered-concat md5."""
    w = int(window)
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH t AS (
  SELECT {id_col} AS id, {ws} AS toks FROM {table}
), g AS (
  SELECT id,
         CASE WHEN len(toks) >= 3 THEN
           list_transform(range(1, (len(toks) - 1)::INT),
             i -> md5(toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]))
         ELSE [] END AS h
  FROM t
), wins AS (
  SELECT id, h, j,
         h[j:least(j + {w} - 1, len(h))] AS win
  FROM g, LATERAL UNNEST(generate_series(1,
           greatest(len(h) - {w} + 1, CASE WHEN len(h) > 0 THEN 1 ELSE 0 END)
         )) AS u(j)
), sel AS (
  SELECT DISTINCT id,
         j + list_position(win, list_min(win)) - 1 AS p,
         list_min(win) AS hh
  FROM wins
), agg AS (
  SELECT id, count(*)::BIGINT AS n_selected,
         md5(string_agg(hh, ',' ORDER BY p)) AS fp
  FROM sel GROUP BY id
)
SELECT g.id AS {id_col},
       len(g.h)::BIGINT AS n_grams,
       coalesce(agg.n_selected, 0)::BIGINT AS n_selected,
       coalesce(agg.fp, md5('')) AS fp
FROM g LEFT JOIN agg ON g.id = agg.id
ORDER BY {id_col}
"""


def distinct_ngram_diversity(docs: DataFrame, ns: tuple = (1, 2, 3),
                             by: str = "source", text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """Distinct-n diversity per corpus slice (Li et al. 2016's
    distinct-1/distinct-2, the standard repetitiveness read before
    training): for each ``by`` group and each n, the total and DISTINCT
    adjacent n-gram counts and their ratio — a collapsing ratio flags a
    slice full of templated or duplicated text that dedup should have
    caught. Exact: two BIGINT counts per row; the ratio is ONE IEEE
    division (hash-stable). Output
    ``(group, n, total_ngrams, distinct_ngrams, distinct_ratio)``
    ordered by (group, n).

    Scale shape: per n, one explode into (group, gram) followed by a
    two-level aggregation — groupBy(group, gram) count (map-side
    combined; this IS the distinct) then groupBy(group) count+sum.
    Nothing wider than the n-gram dictionary ever shuffles, and the
    n's union independent plans (no cross-n barrier)."""
    ws = WORDS_EXPR.format(col=text_col)
    frames = []
    for n in ns:
        # hoisted word array: slice over an inlined split would
        # re-split the text per gram (O(words²) splits per doc)
        grams = fan_out(docs, id_col).select(
            F.col(by).alias("grp"), F.expr(ws).alias("_ws")
        ).select(
            "grp",
            F.explode(F.expr(
                f"case when size(_ws) >= {n} then "
                f"transform(sequence(1, size(_ws) - {n} + 1), "
                f"i -> array_join(slice(_ws, i, {n}), ' ')) "
                "else array() end"
            )).alias("gram"),
        )
        per_gram = grams.groupBy("grp", "gram").agg(
            F.count("*").cast("long").alias("c")
        )
        frames.append(
            per_gram.groupBy("grp").agg(
                F.sum("c").cast("long").alias("total_ngrams"),
                F.count("*").cast("long").alias("distinct_ngrams"),
            ).select(
                F.col("grp").alias(by), F.lit(n).cast("long").alias("n"),
                "total_ngrams", "distinct_ngrams",
                (F.col("distinct_ngrams").cast("double")
                 / F.col("total_ngrams").cast("double"))
                .alias("distinct_ratio"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionAll(f)
    return out.orderBy(by, "n")


def distinct_ngram_diversity_oracle_sql(ns: tuple = (1, 2, 3),
                                        by: str = "source",
                                        table: str = "documents") -> str:
    """DuckDB mirror: same tokenizer, same slice/join n-gram form, same
    two-level aggregation; counts ::BIGINT past the pandas bridge."""
    ctes = []
    for n in ns:
        ctes.append(f"""
g{n} AS (
  SELECT {by} AS grp,
         unnest(CASE WHEN len(ws) >= {n} THEN
                  list_transform(generate_series(1, len(ws) - {n} + 1),
                                 i -> array_to_string(ws[i:i + {n} - 1], ' '))
                ELSE [] END) AS gram
  FROM toks
),
x{n} AS (
  SELECT grp, gram, count(*)::BIGINT AS c FROM g{n} GROUP BY grp, gram
)""")
    selects = [f"""
SELECT grp AS {by}, {n}::BIGINT AS n,
       sum(c)::BIGINT AS total_ngrams,
       count(*)::BIGINT AS distinct_ngrams,
       count(*)::DOUBLE / sum(c)::DOUBLE AS distinct_ratio
FROM x{n} GROUP BY grp
""" for n in ns]
    return (
        "WITH toks AS (SELECT " + by + ", "
        "list_filter(string_split(text, ' '), w -> w <> '') AS ws "
        f"FROM {table}),\n"
        + ",\n".join(ctes)
        + "\n" + "\nUNION ALL\n".join(selects)
        + f"\nORDER BY {by}, n"
    )


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021)
# ---------------------------------------------------------------------------

#: the canonical Gopher "must contain >= 2 of these" stopword gate
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", min_words: int = 50,
                 max_words: int = 100_000,
                 keep_cols: tuple[str, ...] = (),
                 min_stop_hits: int = 2) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021 appendix A1.1 —
    the public filter battery most pretraining pipelines start from), the
    word-level subset, in EXACT integer arithmetic (milli/permille units,
    no floats) so the gate hash-checks bit-for-bit:

    - word count within ``[min_words, max_words]``;
    - mean word length in [3, 10] characters (``mean_wl_milli``);
    - >= 80% of words contain an alphabetic character
      (``alpha_permille``);
    - >= 2 of the 8 canonical stopwords present (``stop_hits``);
    plus the duplicate-word fraction (``dupe_permille``, the word-level
    member of Gopher's repetition family — reported, not gated, matching
    the paper's separate repetition thresholds handled by
    repetition_ratio/repetition_runs).

    ``passes_gopher`` ANDs the four gates. Distinct from
    :func:`quality_score` (a float scoring signal): this is the
    hard-threshold KEEP/DROP battery. ``keep_cols`` carries extra input
    columns through to the output (still one projection) so composed
    pipelines can filter on ``passes_gopher`` without a join back to
    the corpus; ``min_stop_hits`` parameterizes the stopword gate (the
    paper's 2 is the default — non-English or synthetic corpora tune or
    disable it, CCNet-style, with 0).

    Scale: ZERO shuffle — one higher-order-function projection per row,
    whole-stage codegen'd; the filter composes in front of any curation
    pipeline at scan cost."""
    stop_lit = "array(" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + ")"
    ws = WORDS_EXPR.format(col=text_col)
    docs = fan_out(docs, id_col)
    # the word array is hoisted once — five inline copies would split
    # the text five times per row
    return docs.select(
        id_col, *keep_cols, F.expr(ws).alias("_ws")
    ).select(
        id_col,
        *keep_cols,
        F.expr("cast(size(_ws) as bigint)").alias("n_words"),
        F.expr(
            "cast(case when size(_ws) > 0 then "
            "aggregate(_ws, 0L, (a, w) -> a + length(w)) * 1000 "
            "div size(_ws) else 0 end as bigint)"
        ).alias("mean_wl_milli"),
        F.expr(
            "cast(case when size(_ws) > 0 then "
            "aggregate(_ws, 0L, (a, w) -> a + if(w rlike '[a-z]', 1, 0))"
            " * 1000 div size(_ws) else 0 end as bigint)"
        ).alias("alpha_permille"),
        F.expr(
            "cast(case when size(_ws) > 0 then "
            "(size(_ws) - size(array_distinct(_ws))) * 1000 "
            "div size(_ws) else 0 end as bigint)"
        ).alias("dupe_permille"),
        F.expr(
            f"cast(size(filter({stop_lit}, s -> array_contains(_ws, s)))"
            f" as bigint)"
        ).alias("stop_hits"),
    ).withColumn(
        "passes_gopher",
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
        & (F.col("mean_wl_milli") >= 3000)
        & (F.col("mean_wl_milli") <= 10_000)
        & (F.col("alpha_permille") >= 800)
        & (F.col("stop_hits") >= min_stop_hits),
    )


def gopher_rules_oracle_sql(min_words: int = 50, max_words: int = 100_000,
                            table: str = "documents",
                            id_col: str = "doc_id",
                            min_stop_hits: int = 2) -> str:
    stop_lit = "[" + ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS) + "]"
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    return f"""
WITH g AS (
  SELECT {id_col},
         len({ws})::BIGINT AS n_words,
         (CASE WHEN len({ws}) > 0 THEN
            list_sum(list_transform({ws}, w -> length(w))) * 1000
              // len({ws}) ELSE 0 END)::BIGINT AS mean_wl_milli,
         (CASE WHEN len({ws}) > 0 THEN
            len(list_filter({ws}, w -> regexp_matches(w, '[a-z]'))) * 1000
              // len({ws}) ELSE 0 END)::BIGINT AS alpha_permille,
         (CASE WHEN len({ws}) > 0 THEN
            (len({ws}) - len(list_distinct({ws}))) * 1000
              // len({ws}) ELSE 0 END)::BIGINT AS dupe_permille,
         len(list_filter({stop_lit},
             s -> list_contains({ws}, s)))::BIGINT AS stop_hits
  FROM {table}
)
SELECT *,
       (n_words >= {min_words} AND n_words <= {max_words}
        AND mean_wl_milli >= 3000 AND mean_wl_milli <= 10000
        AND alpha_permille >= 800
        AND stop_hits >= {min_stop_hits}) AS passes_gopher
FROM g ORDER BY {id_col}
"""


def tokenizer_fertility(docs: DataFrame,
                        merges: list[tuple[str, str]] | None = None,
                        domain_col: str = "lang", text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Tokenizer-aware corpus cost report — the data-card block that
    prices a corpus in TOKENS before training (public practice: the
    Gopher/Chinchilla data cards report per-subset token counts and
    tokens-per-word fertility; MT literature calls subwords-per-word
    "fertility"). Long-format ``(metric, value)`` rows, six per domain,
    so the block unions directly onto :func:`~cassandra_ttl_remover_
    spark.operators.audit.corpus_card`'s card:

        docs:<d>                    document count
        chars:<d>                   exact char volume
        ws_words:<d>                whitespace words
        bpe_tokens:<d>              subwords under the merge table
        fertility_permille:<d>      bpe_tokens * 1000 div ws_words
        chars_per_token_permille:<d> chars * 1000 div bpe_tokens

    High fertility = the tokenizer fragments that domain (expensive per
    word); low chars-per-token = poor compression (expensive per byte).
    All integers — one truncating div per ratio, reproducible
    bit-for-bit across engines like the rest of the card.

    Scale: the BPE segmentation is :func:`bpe_segment`'s per-row JVM
    projection (doubled-delimiter merge chain — no shuffle, no Python),
    so the whole report is ONE map-side-combined aggregate keyed by
    domain (<= |domains| rows out) plus a 6-way per-row stack of the
    bounded result. The corpus is read once, text never shuffles."""
    merges = DEFAULT_BPE_MERGES if merges is None else merges
    ws = WORDS_EXPR.format(col=text_col)
    n_sub = F.aggregate(
        F.expr(ws), F.lit(0),
        lambda s, w: s + _bpe_subword_count_col(w, merges))
    per_dom = (
        fan_out(docs, id_col)
        .select(
            # NULL domains get an explicit '<null>' label: concat with a
            # NULL domain would otherwise NULL the metric for all six
            # rows (indistinguishable) and the final ORDER BY metric
            # would diverge (Spark ASC = NULLS FIRST, DuckDB NULLS LAST)
            F.coalesce(F.col(domain_col).cast("string"),
                       F.lit("<null>")).alias("_dom"),
            F.length(text_col).cast("long").alias("_chars"),
            F.expr(f"cast(size({ws}) as bigint)").alias("_words"),
            n_sub.cast("long").alias("_sub"),
        )
        .groupBy("_dom")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_chars").cast("long").alias("n_chars"),
            F.sum("_words").cast("long").alias("n_words"),
            F.sum("_sub").cast("long").alias("n_sub"),
        )
    )
    return (
        per_dom.select(F.explode(F.expr(
            "array("
            " struct(concat('docs:', _dom) as metric, n_docs as value),"
            " struct(concat('chars:', _dom) as metric, n_chars as value),"
            " struct(concat('ws_words:', _dom) as metric,"
            "        n_words as value),"
            " struct(concat('bpe_tokens:', _dom) as metric,"
            "        n_sub as value),"
            " struct(concat('fertility_permille:', _dom) as metric,"
            "        if(n_words > 0, (n_sub * 1000L) div n_words, 0L)"
            "        as value),"
            " struct(concat('chars_per_token_permille:', _dom) as metric,"
            "        if(n_sub > 0, (n_chars * 1000L) div n_sub, 0L)"
            "        as value))"
        )).alias("kv"))
        # nullif keeps `metric` NULLABLE (never fires — labels are
        # prefixed, hence non-empty): the '<null>' coalesce above made
        # the concat non-nullable, and the card contract is schema
        # EQUALITY with corpus_card's nullable metric column
        .select(F.expr("nullif(kv.metric, '')").alias("metric"),
                F.col("kv.value").cast("long").alias("value"))
        .orderBy("metric")
    )


def tokenizer_fertility_oracle_sql(
        merges: list[tuple[str, str]] | None = None,
        domain_col: str = "lang", table: str = "documents") -> str:
    """DuckDB recomputation of :func:`tokenizer_fertility` — the same
    doubled-delimiter merge chain as bpe_segment_oracle_sql, aggregated
    per domain and unpivoted to the card's long format."""
    merges = DEFAULT_BPE_MERGES if merges is None else merges
    ws = "[w for w in string_split(text, ' ') if w <> '']"
    seg = _bpe_seg_sql(merges)
    return f"""
WITH per_doc AS (
  SELECT coalesce({domain_col}, '<null>') AS dom,
         length(text)::BIGINT AS chars,
         len({ws})::BIGINT AS words,
         coalesce(list_sum(list_transform({ws},
           w -> len(string_split_regex(trim({seg}), ' +')))), 0)::BIGINT
           AS sub
  FROM {table}
),
per_dom AS (
  SELECT dom, count(*)::BIGINT AS n_docs, sum(chars)::BIGINT AS n_chars,
         sum(words)::BIGINT AS n_words, sum(sub)::BIGINT AS n_sub
  FROM per_doc GROUP BY dom
)
SELECT metric, value FROM (
  SELECT 'docs:' || dom AS metric, n_docs AS value FROM per_dom
  UNION ALL
  SELECT 'chars:' || dom, n_chars FROM per_dom
  UNION ALL
  SELECT 'ws_words:' || dom, n_words FROM per_dom
  UNION ALL
  SELECT 'bpe_tokens:' || dom, n_sub FROM per_dom
  UNION ALL
  SELECT 'fertility_permille:' || dom,
         CASE WHEN n_words > 0 THEN (n_sub * 1000) // n_words ELSE 0 END
  FROM per_dom
  UNION ALL
  SELECT 'chars_per_token_permille:' || dom,
         CASE WHEN n_sub > 0 THEN (n_chars * 1000) // n_sub ELSE 0 END
  FROM per_dom
) ORDER BY metric
"""
