"""Text-analysis operators (SURVEY §2.8 M11 — north-star extensions).

Language ID (character-n-gram scoring), token counting (whitespace +
BPE-ish subword estimate), quality scoring (length / punctuation /
stopword ratios), and document fingerprinting (char-shingle min-hash),
all over the driver's ``documents`` table.

Scale design (100 TB): every op is per-row string expressions + one
hash aggregation — whole-stage codegen end to end, no Python, no UDFs.
The char-n-gram explode is a flatMap (no shuffle); the only shuffles
are groupBy(doc_id) roll-ups, which AQE coalesces. The lang-ID profile
table is a literal broadcast — at scale it stays a broadcast join
(hundreds of rows at most).

No reference counterpart (the reference is image-only); formulas follow
standard corpus-pipeline heuristics (cld2-style n-gram scoring,
Gopher/C4-style quality signals).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..registry import query
from .parity import range_parts, sort_bounded

# ---------------------------------------------------------------------------
# Lang-ID profile: marker character-bigrams per language with vote
# weights. Deterministic, tiny, broadcast. (The driver's synthetic text
# shares one vocabulary across langs, so the *assigned* lang column is
# not recoverable — the oracle checks the scoring computation itself.)
# ---------------------------------------------------------------------------

_LANG_PROFILE: list[tuple[str, str, int]] = [
    ("th", "en", 3), ("he", "en", 2), ("ow", "en", 1),
    ("sc", "fr", 3), ("qu", "fr", 2), ("an", "fr", 1),
    ("rg", "de", 3), ("ba", "de", 2), ("ch", "de", 1),
    ("rr", "es", 3), ("ta", "es", 2), ("lo", "es", 1),
    ("sh", "zh", 3), ("in", "zh", 2), ("ng", "zh", 1),
]

_PROFILE_SQL_ROWS = ", ".join(
    f"('{g}', '{l}', {w})" for g, l, w in _LANG_PROFILE
)
LANG_PROFILE_CTE = f"""
lang_profile AS (
    SELECT * FROM (VALUES {_PROFILE_SQL_ROWS}) AS t(gram, cand_lang, weight))
"""


# ---------------------------------------------------------------------------
# Engine ops
# ---------------------------------------------------------------------------

def _spread(df: DataFrame, *key_cols) -> DataFrame:
    """Repartition up to default parallelism ONLY when the input is
    under-split (e.g. a single local parquet file scanning as 1-2
    partitions, which would serialize a row-exploding stage). At 100 TB
    inputs arrive pre-split, the guard is false, and no Exchange enters
    the plan — the round-2 version repartitioned unconditionally, a
    pure-overhead full shuffle on pre-split inputs."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par, *key_cols) if key_cols else df.repartition(par)


def char_ngrams(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """Explode a text column into its character k-grams. flatMap only —
    no shuffle (input-parallelism guard aside). Splits to a char array
    once so each gram is k O(1) lookups (substr-per-gram would be
    O(len) each → quadratic per doc)."""
    concat_args = ", ".join(f"_c[p + {j}]" for j in range(k))
    grams = F.expr(
        f"CASE WHEN length({text_col}) >= {k} THEN "
        f"transform(sequence(0, length({text_col}) - {k}), "
        f"p -> concat({concat_args})) ELSE array() END"
    )
    return (
        _spread(df, F.col(id_col))
        .withColumn("_c", F.split(F.col(text_col), ""))
        .select(F.col(id_col).alias("doc_id"), F.explode(grams).alias("gram"))
    )


def lang_scores(docs: DataFrame) -> DataFrame:
    """Per (doc, candidate lang) n-gram vote totals over the
    ``_LANG_PROFILE`` (gram, lang, weight) rows.

    Plan: one doc scan; per profile gram a LITERAL-pattern
    ``regexp_count`` with a zero-width lookahead (overlapping matches —
    same counts as exploding every bigram and joining, with no explode
    and the regex compiled once per task, not per row), unpivoted via
    ``stack`` and rolled up in one narrow groupBy. The profile is
    plan-time literal data: no driver collect job."""
    rows = sorted(_LANG_PROFILE)
    cells = ", ".join(
        f"'{l}', {w}, regexp_count(text, '(?={g})')" for g, l, w in rows
    )
    return (
        _spread(docs)
        .selectExpr(
            "doc_id",
            f"stack({len(rows)}, {cells}) AS (cand_lang, weight, cnt)",
        )
        .groupBy("doc_id", "cand_lang")
        .agg(F.sum(F.col("weight") * F.col("cnt")).alias("score"))
        .where(F.col("score") > 0)
    )


def predict_lang(scores: DataFrame) -> DataFrame:
    """argmax candidate lang per doc (ties → alphabetical)."""
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand_lang")
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("cand_lang").alias("pred_lang"), "score")
    )


_BPE_CHUNK = 4  # BPE-ish upper bound: ceil(len(word)/4) subword pieces

_STOPWORDS = ("the", "a", "of", "and", "in")


def token_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace token count, BPE-ish subword estimate, stopword count —
    one pass of per-row array expressions, zero shuffle."""
    stop_list = ", ".join(f"'{s}'" for s in _STOPWORDS)
    return df.withColumn("_t", F.split(F.col(text_col), " ")).select(
        F.col(id_col).alias("doc_id"),
        F.expr("size(_t)").alias("n_tokens"),
        F.expr(
            f"aggregate(_t, 0L, (acc, w) ->"
            f" acc + CAST(ceil(length(w) / {_BPE_CHUNK}.0) AS LONG))"
        ).alias("n_bpe_tokens"),
        F.expr(
            f"size(filter(_t, w -> w IN ({stop_list})))"
        ).alias("n_stopwords"),
        F.length(text_col).alias("n_chars_obs"),
    )


def quality_score(stats: DataFrame) -> DataFrame:
    """Composite quality in [0,1]: length band + stopword-ratio band
    (C4/Gopher-style signals, deterministic arithmetic)."""
    stop_ratio = F.col("n_stopwords") / F.col("n_tokens")
    len_ok = (F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 1000)
    return stats.select(
        "doc_id",
        "n_tokens",
        F.round(stop_ratio, 9).alias("stop_ratio"),
        (
            F.when(len_ok, F.lit(0.5)).otherwise(F.lit(0.0))
            + F.when((stop_ratio >= 0.01) & (stop_ratio <= 0.5), F.lit(0.5))
            .otherwise(F.lit(0.0))
        ).alias("quality"),
    )


# character gram width of doc_fingerprint and its q_doc_fingerprint oracle
_FP_K = 8


def doc_fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Char-shingle fingerprint: min md5 over all k-grams (rolling-hash
    minimum) + distinct-gram count. One flatMap + one hash agg."""
    grams = char_ngrams(df, text_col, id_col, _FP_K)
    return grams.groupBy("doc_id").agg(
        F.min(F.md5("gram")).alias("fingerprint"),
        F.countDistinct("gram").alias("n_distinct_grams"),
    )


# ---------------------------------------------------------------------------
# Oracle-checked queries
# ---------------------------------------------------------------------------

_CHAR_GRAMS_SQL = """
grams AS (
    SELECT doc_id, substr(text, pos, {k}) AS gram
    FROM (SELECT doc_id, text,
                 UNNEST(range(1, greatest(length(text) - {km2}, 1))) AS pos
          FROM documents) t)
"""


@query(
    "q_lang_id",
    f"""
    WITH {LANG_PROFILE_CTE.strip()},
    {_CHAR_GRAMS_SQL.strip().format(k=2, km2=0)},
    scores AS (
        -- CAST: DuckDB SUM(int) is HUGEINT (pandas float64); Spark is BIGINT
        SELECT g.doc_id, p.cand_lang, CAST(SUM(p.weight) AS BIGINT) AS score
        FROM grams g JOIN lang_profile p ON g.gram = p.gram
        GROUP BY g.doc_id, p.cand_lang),
    ranked AS (
        SELECT doc_id, cand_lang AS pred_lang, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand_lang) AS rk
        FROM scores)
    SELECT doc_id, pred_lang, score FROM ranked WHERE rk = 1
    ORDER BY doc_id
    """,
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID: char-bigram profile votes, argmax per document."""
    docs = table(spark, sf_dir, "documents")
    return predict_lang(lang_scores(docs))


@query(
    "q_token_stats",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           CAST(list_sum(list_transform(string_split(text, ' '),
                w -> CAST(ceil(length(w) / {_BPE_CHUNK}.0) AS BIGINT)))
                AS BIGINT) AS n_bpe_tokens,
           len(list_filter(string_split(text, ' '),
               w -> w IN ({", ".join(f"'{s}'" for s in _STOPWORDS)})))
               AS n_stopwords,
           length(text) AS n_chars_obs
    FROM documents
    ORDER BY doc_id
    """,
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish subword estimate
    (ceil(len/4) per word), stopword count, observed chars."""
    return token_stats(
        table(spark, sf_dir, "documents"), "text", "doc_id"
    )


@query(
    "q_quality_score",
    f"""
    WITH stats AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ({", ".join(f"'{s}'" for s in _STOPWORDS)})))
                   AS n_stopwords
        FROM documents)
    SELECT doc_id, n_tokens,
           ROUND(n_stopwords * 1.0 / n_tokens, 9) AS stop_ratio,
           (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END
            + CASE WHEN n_stopwords * 1.0 / n_tokens BETWEEN 0.01 AND 0.5
                   THEN 0.5 ELSE 0.0 END) AS quality
    FROM stats
    ORDER BY doc_id
    """,
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length band + stopword-ratio band → [0, 1]."""
    stats = token_stats(table(spark, sf_dir, "documents"), "text", "doc_id")
    return quality_score(stats)


@query(
    "q_doc_fingerprint",
    f"""
    WITH {_CHAR_GRAMS_SQL.strip().format(k=_FP_K, km2=_FP_K - 2)}
    SELECT doc_id,
           MIN(md5(gram)) AS fingerprint,
           COUNT(DISTINCT gram) AS n_distinct_grams
    FROM grams
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min rolling char-8-gram md5 + distinct-gram
    count per document."""
    return doc_fingerprint(table(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Repetition filters (Gopher-style quality rules): the most frequent
# word-bigram's share of all bigrams, and the fraction of tokens whose
# unigram repeats — the two signals that catch boilerplate / generated
# spam that length and stopword bands miss.
# ---------------------------------------------------------------------------

_MAX_RUN = """
aggregate(array_sort({arr}),
  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),
  (acc, x) -> named_struct(
    'prev', x,
    'run', IF(acc.prev IS NOT NULL AND x = acc.prev, acc.run + 1, 1L),
    'best', GREATEST(acc.best,
                     IF(acc.prev IS NOT NULL AND x = acc.prev,
                        acc.run + 1, 1L))),
  acc -> acc.best)
"""

_N_SINGLETONS = """
aggregate(array_sort({arr}),
  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'singles', 0L),
  (acc, x) -> IF(acc.prev IS NULL,
    named_struct('prev', x, 'run', 1L, 'singles', 0L),
    IF(x = acc.prev,
       named_struct('prev', x, 'run', acc.run + 1, 'singles', acc.singles),
       named_struct('prev', x, 'run', 1L,
                    'singles', acc.singles + IF(acc.run = 1, 1L, 0L)))),
  acc -> acc.singles + IF(acc.run = 1, 1L, 0L))
"""


def repetition_stats(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-doc repetition metrics, entirely row-local: sort the token /
    bigram array once, then a single higher-order ``aggregate`` pass
    counts the longest equal-run (= the mode's frequency) and the
    singleton count (repeated tokens = n - singletons). ZERO shuffle,
    whole-stage codegen — the explode + double-groupBy formulation
    shuffled one row per gram occurrence (5.5M rows, ~8 s at sf0.1; this
    is ~1 s) and its shuffle volume scales with corpus token count
    rather than document count. Per-doc sort is O(len·log len) on
    ~100-token docs — noise next to a network shuffle."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("_t"),
    ).withColumn(
        "_b",
        F.expr(
            "CASE WHEN size(_t) >= 2 THEN transform("
            "sequence(0, size(_t) - 2), p -> concat_ws(' ', _t[p], _t[p+1]))"
            " ELSE array() END"
        ),
    )
    n_tokens = F.expr("size(_t)").cast("long")
    n_bigrams = F.expr("size(_b)").cast("long")
    top_bigram_n = F.expr(_MAX_RUN.format(arr="_b"))
    n_repeated = n_tokens - F.expr(_N_SINGLETONS.format(arr="_t"))
    return toks.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_bigrams.alias("n_bigrams"),
        F.round(top_bigram_n / n_bigrams, 9).alias("top_bigram_frac"),
        F.round(n_repeated / n_tokens, 9).alias("dup_token_frac"),
    )


@query(
    "q_repetition_filter",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    bigrams AS (
        SELECT doc_id, t[p] || ' ' || t[p + 1] AS g
        FROM (SELECT doc_id, t,
                     UNNEST(range(1, greatest(len(t), 1))) AS p
              FROM toks) x),
    bc AS (SELECT doc_id, g, COUNT(*) AS c FROM bigrams GROUP BY doc_id, g),
    bstats AS (
        SELECT doc_id, SUM(c) AS n_bigrams, MAX(c) AS top_bigram_n
        FROM bc GROUP BY doc_id),
    uc AS (
        SELECT doc_id, w, COUNT(*) AS c
        FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS w
              FROM documents) u
        GROUP BY doc_id, w),
    ustats AS (
        SELECT doc_id, SUM(c) AS n_tokens,
               SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_repeated
        FROM uc GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(u.n_tokens AS BIGINT) AS n_tokens,
           CAST(b.n_bigrams AS BIGINT) AS n_bigrams,
           ROUND(b.top_bigram_n * 1.0 / b.n_bigrams, 9) AS top_bigram_frac,
           ROUND(u.n_repeated * 1.0 / u.n_tokens, 9) AS dup_token_frac
    FROM bstats b JOIN ustats u ON b.doc_id = u.doc_id
    ORDER BY b.doc_id
    """,
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per document (top-bigram share,
    repeated-token fraction)."""
    return repetition_stats(
        table(spark, sf_dir, "documents"), "text", "doc_id"
    )


# ---------------------------------------------------------------------------
# PII redaction + provenance rollup. The driver's synthetic corpus has
# no contact strings or URLs, so both engines derive the same planted
# fixture (emails on doc_id%11, phones on %13, source URLs on %7) —
# the redaction regexes and the domain parse run over real data shapes.
# ---------------------------------------------------------------------------

_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"
_URL_RE = "https?://([A-Za-z0-9.-]+)/[A-Za-z0-9/._-]*"

PII_DOCS_CTE = """
pii_docs AS (
    SELECT doc_id, lang,
           text
           || CASE WHEN doc_id % 11 = 0
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com now'
                   ELSE '' END
           || CASE WHEN doc_id % 13 = 0
                   THEN ' call +49-555-' || CAST(1000 + doc_id % 9000
                                                AS VARCHAR)
                   ELSE '' END
           || CASE WHEN doc_id % 7 = 0
                   THEN ' via https://site' || CAST(doc_id % 5 AS VARCHAR)
                        || '.example.org/page/' || CAST(doc_id AS VARCHAR)
                   ELSE '' END AS text
    FROM documents)
"""


def pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    email = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise("")
    phone = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(
            F.lit(" call +49-555-"),
            (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        ),
    ).otherwise("")
    url = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.lit(" via https://site"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit(".example.org/page/"),
            F.col("doc_id").cast("string"),
        ),
    ).otherwise("")
    return docs.select(
        "doc_id",
        "lang",
        F.concat(F.col("text"), email, phone, url).alias("text"),
    )


@query(
    "q_pii_redaction",
    f"""
    WITH {PII_DOCS_CTE.strip()},
    counted AS (
        SELECT doc_id, lang,
               len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>',
                                             'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM pii_docs)
    SELECT lang,
           CAST(SUM(n_emails) AS BIGINT) AS n_emails,
           CAST(SUM(n_phones) AS BIGINT) AS n_phones,
           COUNT(CASE WHEN n_emails + n_phones > 0 THEN 1 END) AS n_docs_hit,
           MIN(CASE WHEN n_emails > 0 THEN md5(redacted) END)
               AS sample_redacted_hash
    FROM counted GROUP BY lang ORDER BY lang
    """,
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass: count + redact emails/phones per doc (pure
    regexp codegen, zero shuffle until the per-lang rollup); the md5 of
    a deterministic redacted sample proves the replacement text is
    byte-identical across engines."""
    counted = pii_docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )
    return (
        counted.groupBy("lang")
        .agg(
            F.sum("n_emails").cast("bigint").alias("n_emails"),
            F.sum("n_phones").cast("bigint").alias("n_phones"),
            F.count(
                F.when(F.col("n_emails") + F.col("n_phones") > 0, 1)
            ).alias("n_docs_hit"),
            F.min(
                F.when(F.col("n_emails") > 0, F.md5("redacted"))
            ).alias("sample_redacted_hash"),
        )
    )


@query(
    "q_domain_rollup",
    f"""
    WITH {PII_DOCS_CTE.strip()}
    SELECT regexp_extract(text, '{_URL_RE}', 1) AS domain,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id
    FROM pii_docs
    WHERE regexp_extract(text, '{_URL_RE}', 1) <> ''
    GROUP BY 1 ORDER BY domain
    """,
)
def q_domain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style provenance rollup: extract the URL host per doc and
    aggregate per domain — the blocklist/quota join key in a real
    curation pipeline."""
    docs = pii_docs(spark, sf_dir).select(
        "doc_id", F.regexp_extract("text", _URL_RE, 1).alias("domain")
    )
    return (
        docs.where(F.col("domain") != "")
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end corpus curation (the LLM-training-data pipeline, composed)
# ---------------------------------------------------------------------------

_PIPE_DOCS_CTE = """
pipe_docs AS (
    SELECT doc_id, text, lang FROM documents
    UNION ALL
    SELECT doc_id + 2000000, text, lang
    FROM documents WHERE doc_id % 7 = 0)
"""


@query(
    "q_corpus_curation",
    f"""
    WITH {_PIPE_DOCS_CTE.strip()},
    stats AS (
        SELECT doc_id, text, lang,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ({", ".join(f"'{s}'" for s in _STOPWORDS)})))
                   AS n_stopwords
        FROM pipe_docs),
    kept AS (
        SELECT * FROM stats
        WHERE (CASE WHEN n_tokens BETWEEN 10 AND 1000 THEN 0.5 ELSE 0.0 END
               + CASE WHEN n_stopwords * 1.0 / n_tokens BETWEEN 0.01 AND 0.5
                      THEN 0.5 ELSE 0.0 END) >= 1.0),
    survivors AS (
        SELECT md5(text) AS h, MIN(doc_id) AS doc_id, MIN(lang) AS lang,
               MIN(n_tokens) AS n_tokens, COUNT(*) AS n_copies
        FROM kept GROUP BY md5(text))
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_dupes_removed,
           CAST(SUM(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
               AS mean_tokens
    FROM survivors GROUP BY lang ORDER BY lang
    """,
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-data pipeline over a corpus with planted exact
    copies: quality-filter (C4-style bands) → exact dedup (min-id
    survivor per identical text) → per-language rollup with duplicate
    accounting. One quality pass (zero shuffle), one dedup shuffle on
    md5(text), one rollup shuffle on lang — the 100 TB shape of the
    whole curation stage."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    copies = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text", "lang"
    )
    pipe = docs.unionByName(copies)

    stats = token_stats(pipe, "text", "doc_id").join(
        pipe.select("doc_id", "text", "lang"), "doc_id"
    )
    scored = quality_score(stats).join(
        stats.select("doc_id", "text", "lang"), "doc_id"
    )
    kept = scored.where(F.col("quality") >= 1.0)
    survivors = kept.groupBy(F.md5("text").alias("_h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min("lang").alias("lang"),
        F.min("n_tokens").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_copies"),
    )
    return (
        survivors.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("n_copies") - 1).cast("bigint")
            .alias("n_dupes_removed"),
            F.expr(
                "CAST(SUM(CAST(n_tokens AS DECIMAL(18,4))) AS DOUBLE)"
                " / COUNT(*)"
            ).alias("mean_tokens"),
        )
        .transform(sort_bounded, "lang")
    )


# ---------------------------------------------------------------------------
# §2.9 — real Python UDTF (table function): one doc row → N (pos,
# bigram) rows via a lateral join. Completes the UDF surface (pandas
# UDF / mapInPandas / applyInPandas / applyInPandasWithState are
# exercised elsewhere; this is the genuine ``@udtf`` API, not just the
# explode idiom). The UDTF path is per-row Python — correct but not the
# scale path; the codegen equivalent for 100 TB is ``dedup.shingles``.
# The oracle recomputes the identical rows with string_split, proving
# the Python table function is SQL-equivalent.
# ---------------------------------------------------------------------------

def _make_bigram_udtf():
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string")
    class BigramUDTF:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            toks = [t for t in (text or "").split(" ") if t]
            for i in range(len(toks) - 1):
                yield i, toks[i] + " " + toks[i + 1]

    return BigramUDTF


@query(
    "q_udtf_bigrams",
    """
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS ts
        FROM documents WHERE doc_id < 20),
    filtered AS (
        SELECT doc_id, list_filter(ts, t -> t <> '') AS ts FROM toks),
    pos AS (
        SELECT doc_id, ts, UNNEST(range(0, greatest(len(ts) - 1, 0))) AS pos
        FROM filtered)
    SELECT doc_id, CAST(pos AS INTEGER) AS pos,
           ts[pos + 1] || ' ' || ts[pos + 2] AS bigram
    FROM pos ORDER BY doc_id, pos
    """,
)
def q_udtf_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lateral join: documents → (pos, bigram) rows."""
    BigramUDTF = _make_bigram_udtf()
    spark.udtf.register("bigrams", BigramUDTF)
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    docs.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM _udtf_docs d,
             LATERAL bigrams(d.doc_id, d.text) b
        """
    )


# ---------------------------------------------------------------------------
# Benchmark-contamination check, sequence packing, TF-IDF — the three
# remaining staples of an LLM training-data pipeline (alongside dedup /
# quality / lang-ID above): is the eval suite leaking into the train
# split, how do documents pack into fixed token budgets, and which
# terms dominate each language shard.
# ---------------------------------------------------------------------------

# Word tokenization shared by the ops below — spelled identically in
# both engines so the token stream is bit-equal: lowercase, split on
# non-alphanumeric runs, drop empties.
_TOKS = "filter(split(lower(text), '[^a-z0-9]+'), w -> w != '')"
_TOKS_SQL = (
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),"
    " w -> w <> '')"
)

# Word-8-gram list from a token array (space-joined). Spark's
# sequence(1, n) is DESCENDING when n < 1, so the CASE guard is
# load-bearing; DuckDB's range(1, n) is already empty there.
_GRAMS8 = (
    "CASE WHEN size(toks) >= 8 THEN "
    "transform(sequence(1, size(toks) - 7),"
    " i -> concat_ws(' ', slice(toks, i, 8))) "
    "ELSE array() END"
)
_GRAMS8_SQL = (
    "list_transform(range(1, len(toks) - 6),"
    " i -> array_to_string(toks[i:i+7], ' '))"
)


from .dedup import AUG_DOCS_CTE as _AUG_DOCS_CTE  # noqa: E402


@query(
    "q_contamination_check",
    f"""
    WITH {_AUG_DOCS_CTE.strip()},
    grams AS (
        SELECT DISTINCT doc_id, UNNEST({_GRAMS8_SQL}) AS gram
        FROM (SELECT doc_id, {_TOKS_SQL} AS toks FROM aug_docs) t),
    bench AS (
        SELECT DISTINCT gram FROM grams
        WHERE doc_id % 97 = 0 AND doc_id < 1000000),
    train AS (SELECT * FROM grams
              WHERE NOT (doc_id % 97 = 0 AND doc_id < 1000000))
    SELECT t.doc_id,
           COUNT(*) AS n_grams,
           COUNT(b.gram) AS n_hits,
           ROUND(COUNT(b.gram) * 1.0 / COUNT(*), 9) AS contam_ratio
    FROM train t LEFT JOIN bench b ON t.gram = b.gram
    GROUP BY t.doc_id
    HAVING COUNT(b.gram) > 0
    ORDER BY doc_id
    """,
)
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: which train documents share word-8-grams
    with the held-out eval set (docs with doc_id % 97 == 0 stand in for
    a benchmark suite; the augmented corpus's planted near-dups of
    benchmark docs are the contamination to catch — the standard
    n-gram-overlap decontamination check from GPT-3/PaLM data cards).

    100 TB design: the benchmark gram set is eval-suite-sized (MBs) —
    a broadcast build side — so the corpus-side gram stream never
    shuffles for the join; the only wide op is the per-doc groupBy.
    Per-doc dedup happens ROW-LOCALLY (array_distinct before the
    explode, inside codegen) — a global DISTINCT here would shuffle
    the entire gram stream for a property that is per-document."""
    from .dedup import aug_docs

    docs = aug_docs(spark, sf_dir)
    is_bench = (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 1000000)
    def explode_grams(src: DataFrame) -> DataFrame:
        return src.select(
            "doc_id", F.expr(_TOKS).alias("toks")
        ).select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_GRAMS8))).alias("gram"),
        )

    # benchmark side filters to the eval docs BEFORE the explode — the
    # broadcast build must never re-derive the corpus-wide gram stream
    bench = (
        explode_grams(docs.where(is_bench)).select("gram").distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        explode_grams(docs.where(~is_bench))
        .join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_hits"),
            F.round(F.count("hit") * 1.0 / F.count(F.lit(1)), 9).alias(
                "contam_ratio"
            ),
        )
        .where(F.col("n_hits") > 0)
    )


@query(
    "q_sequence_packing",
    f"""
    WITH stats AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    packed AS (
        SELECT lang, n_tokens,
               (CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens)
               // 2048 AS bin
        FROM stats)
    SELECT lang, bin, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens,
           ROUND(CAST(SUM(n_tokens) AS BIGINT) / 2048.0, 9) AS fill_ratio
    FROM packed
    GROUP BY lang, bin
    ORDER BY lang, bin
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents (in deterministic doc_id
    order) to fixed 2048-token context bins per language shard — a doc
    starts in the bin where its cumulative offset lands — and report
    per-bin doc count and fill ratio. This is the streaming-concat
    packing used to build pretraining batches.

    100 TB design: a GLOBAL running sum doesn't scale, so the cumsum
    window is partitioned by shard (lang here; date/source/file in
    production) — each shard packs independently, which is exactly how
    real packing shards the corpus. Integer arithmetic end to end, so
    the bin assignment is engine-exact."""
    docs = table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stats = docs.select(
        "doc_id",
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
    )
    packed = (
        stats.withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("bin", F.expr("(CAST(cum AS BIGINT) - n_tokens) DIV 2048"))
    )
    return (
        packed.groupBy("lang", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
            F.round(
                F.sum("n_tokens").cast("bigint") / F.lit(2048.0), 9
            ).alias("fill_ratio"),
        )
    )


@query(
    "q_tfidf_topterms",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, {_TOKS_SQL} AS toks FROM documents),
    terms AS (SELECT doc_id, lang, UNNEST(toks) AS term FROM toks),
    pre AS (SELECT term, doc_id, lang, COUNT(*) AS c
            FROM terms GROUP BY term, doc_id, lang),
    tf AS (SELECT lang, term, CAST(SUM(c) AS BIGINT) AS tf
           FROM pre GROUP BY lang, term),
    dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df_docs
              FROM pre GROUP BY term),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT lang, term, tf, df_docs,
               CAST(tf * n_docs AS DOUBLE) / df_docs AS score
        FROM tf JOIN dfreq USING (term) CROSS JOIN n)
    SELECT lang, term, tf, df_docs, score
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                    ORDER BY score DESC, term) AS rnk FROM scored) r
    WHERE rnk <= 5
    ORDER BY lang, score DESC, term
    """,
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-5 terms by TF-IDF (linear idf N/df rather than
    ln(N/df): ln differs in the last ulp across libm implementations,
    while tf·N/df is one exact integer product and one IEEE division —
    bit-equal on any engine; ln is monotone in df so for equal tf the
    ordering is identical).

    100 TB design: ONE fact-level shuffle — the (term, doc) pre-agg —
    then tf, per-(term,lang) doc counts, and the term-level df all
    derive from it in a single lineage chain: df_docs is a SUM window
    over the term partition of the (term, lang) aggregate (a doc has
    one lang, so distinct docs per term = Σ_lang docs), which avoids
    both a second fact derivation (Spark can't reuse a differently
    pruned subplan) and a vocab-level join. Top-k per lang is a rank
    window, map-side-limited by WindowGroupLimit."""
    docs = table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", "lang", F.explode(F.expr(_TOKS)).alias("term")
    )
    tl = terms.groupBy("term", "lang", "doc_id").agg(
        F.count(F.lit(1)).alias("c")
    )
    per_tl = tl.groupBy("term", "lang").agg(
        F.sum("c").cast("bigint").alias("tf"),
        F.count(F.lit(1)).alias("docs"),
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        per_tl.withColumn(
            "df_docs", F.sum("docs").over(Window.partitionBy("term"))
        )
        .join(F.broadcast(n))
        .withColumn(
            "score",
            (F.col("tf") * F.col("n_docs")).cast("double") / F.col("df_docs"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("lang", "term", "tf", "df_docs", "score")
    )


@query(
    "q_mixture_resample",
    f"""
    WITH stats AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                   md5('42' || '|' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS rk
        FROM stats),
    cum AS (
        SELECT lang, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY rk
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM ranked),
    totals AS (SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens
               FROM stats GROUP BY lang),
    target AS (SELECT MIN(lang_tokens) AS budget FROM totals)
    SELECT c.lang,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(c.n_tokens) AS BIGINT) AS tokens_kept,
           ROUND(CAST(SUM(c.n_tokens) AS BIGINT) * 1.0 / t.lang_tokens, 9)
               AS keep_ratio
    FROM cum c JOIN totals t ON c.lang = t.lang CROSS JOIN target
    WHERE c.cum_tokens - c.n_tokens < budget
    GROUP BY c.lang, t.lang_tokens
    ORDER BY c.lang
    """,
)
def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture reweighting: downsample every language shard to the
    smallest shard's token budget (the equal-token mixture used when
    balancing a multilingual pretraining corpus). Documents are taken
    in seeded md5-rank order (deterministic, engine-exact) until the
    shard's cumulative token count crosses the budget; the report is
    per-shard kept docs, kept tokens, and the realized keep ratio.

    100 TB design: one zero-shuffle stats pass, a per-shard rank +
    cumsum window (shard-parallel), and a broadcast scalar budget —
    the same shape production mixture samplers use (rates derived
    from shard totals, applied as a deterministic per-row hash
    threshold; here the rank form keeps the token budget exact)."""
    docs = table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    h = F.md5(
        F.concat_ws("|", F.lit("42"), F.col("doc_id").cast("string"))
    )
    w_rank = Window.partitionBy("lang").orderBy(h, "doc_id")
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        stats.withColumn("rk", F.row_number().over(w_rank))
        .withColumn(
            "cum_tokens", F.sum("n_tokens").over(w_cum).cast("bigint")
        )
    )
    totals = stats.groupBy("lang").agg(
        F.sum("n_tokens").cast("bigint").alias("lang_tokens")
    )
    target = totals.agg(F.min("lang_tokens").alias("budget"))
    return (
        cum.join(F.broadcast(target))
        .where(F.col("cum_tokens") - F.col("n_tokens") < F.col("budget"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("bigint").alias("tokens_kept"),
        )
        .join(totals, "lang")
        .select(
            "lang",
            "n_docs_kept",
            "tokens_kept",
            F.round(
                F.col("tokens_kept") * 1.0 / F.col("lang_tokens"), 9
            ).alias("keep_ratio"),
        )
    )


# word-bigram list from the token array (same let-binding discipline:
# toks bound once)
_BIGRAMS = (
    "CASE WHEN size(toks) >= 2 THEN "
    "transform(sequence(1, size(toks) - 1),"
    " i -> named_struct('w1', toks[i - 1], 'w2', toks[i])) "
    "ELSE CAST(array() AS array<struct<w1:string,w2:string>>) END"
)
_BIGRAMS_SQL = (
    "list_transform(range(1, len(toks)),"
    " i -> struct_pack(w1 := toks[i], w2 := toks[i + 1]))"
)


@query(
    "q_lm_quality_score",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    bigrams AS (
        SELECT doc_id, UNNEST({_BIGRAMS_SQL}, recursive := true)
        FROM toks),
    c2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM bigrams GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1),
    scored AS (
        SELECT b.doc_id,
               (c2.n2 * 1048576) // c1.n1 AS fp
        FROM bigrams b
        JOIN c2 ON b.w1 = c2.w1 AND b.w2 = c2.w2
        JOIN c1 ON b.w1 = c1.w1)
    SELECT doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(fp) AS BIGINT) * 1.0 / COUNT(*) / 1048576, 9)
               AS lm_score
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_lm_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency score (the CCNet-style LM quality filter,
    linearized): every document is scored by the mean corpus
    transition probability P(w2|w1) of its bigrams — text whose
    transitions are common reads as fluent, rare-transition text as
    noise. The probability ratio is computed in fixed point
    (``n2·2^20 DIV n1`` — exact integer on both engines), so the
    score is bit-stable; ln-perplexity is monotone in this for
    fixed-length docs, and libm log differs across engines in the
    last ulp, so the linear form is the oracle-exact choice.

    Self-scoring (count table == scored corpus) keeps the fixture
    closed; a production run reads the counts from a reference-corpus
    table — identical plan shape. Scale: ONE fact-level shuffle (the
    bigram count), a vocab²-sized counts table joined back (the size
    THRESHOLD elects broadcast at fixture scale and a shuffle join at
    web scale — late-r9: the forced hint was removed, since a forced
    broadcast of a vocab²-scaling table cannot adapt), and a per-doc
    rollup."""
    docs = table(spark, sf_dir, "documents")
    bigrams = docs.select(
        "doc_id", F.expr(_TOKS).alias("toks")
    ).select(
        "doc_id", F.explode(F.expr(_BIGRAMS)).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").cast("bigint").alias("n1"))
    counts = c2.join(c1, "w1")
    return (
        bigrams.join(counts, ["w1", "w2"])
        .select(
            "doc_id",
            F.expr("(n2 * 1048576) DIV n1").alias("fp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("fp").cast("bigint") * 1.0 / F.count(F.lit(1)) / 1048576,
                9,
            ).alias("lm_score"),
        )
    )


@query(
    "q_training_pipeline",
    f"""
    WITH corpus AS (
        SELECT doc_id, lang, text FROM documents WHERE doc_id % 97 <> 0
        UNION ALL
        -- re-crawled exact re-posts: the dedup stage's catch
        SELECT doc_id + 2000000, lang, text FROM documents
        WHERE doc_id % 50 = 0 AND doc_id % 97 <> 0
        UNION ALL
        -- leaked near-copies of eval docs: the decontamination catch
        SELECT doc_id + 1000000, lang, text || ' near dup tail'
        FROM documents WHERE doc_id % 97 = 0),
    bench AS (SELECT text FROM documents WHERE doc_id % 97 = 0),
    bench_grams AS (
        SELECT DISTINCT UNNEST({{g}}) AS gram
        FROM (SELECT {{t}} AS toks FROM bench) s),
    quality AS (
        SELECT doc_id, lang, text,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   w -> w IN ('the', 'a', 'of', 'and', 'in'))) AS n_stop
        FROM corpus),
    flagged AS (
        SELECT *,
               (n_tokens BETWEEN 10 AND 1000
                AND n_stop * 1.0 / n_tokens BETWEEN 0.01 AND 0.5) AS q_ok
        FROM quality),
    ann AS (
        SELECT *,
               (q_ok AND doc_id = MIN(CASE WHEN q_ok THEN doc_id END)
                   OVER (PARTITION BY md5(text))) AS is_surv
        FROM flagged),
    contaminated AS (
        SELECT DISTINCT dg.doc_id FROM (
            SELECT doc_id, UNNEST({{g}}) AS gram
            FROM (SELECT doc_id, {{t}} AS toks FROM ann WHERE is_surv) x) dg
        JOIN bench_grams b ON dg.gram = b.gram)
    SELECT a.lang,
           COUNT(*) AS n_in,
           COUNT(CASE WHEN a.q_ok THEN 1 END) AS n_quality,
           COUNT(CASE WHEN a.is_surv THEN 1 END) AS n_unique,
           COUNT(CASE WHEN a.is_surv AND c.doc_id IS NULL THEN 1 END)
               AS n_clean,
           CAST(SUM(CASE WHEN a.is_surv AND c.doc_id IS NULL
                    THEN a.n_tokens END) AS BIGINT) AS tokens_kept
    FROM ann a LEFT JOIN contaminated c ON a.doc_id = c.doc_id
    GROUP BY a.lang ORDER BY a.lang
    """.format(t=_TOKS_SQL, g=_GRAMS8_SQL),
)
def q_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed end-to-end training-data pipeline — the flagship a
    corpus team actually runs, as ONE declarative plan: quality gate
    (length + stopword bands) → exact dedup (min-id survivor) →
    benchmark decontamination (word-8-gram overlap with the held-out
    eval split, broadcast) → per-language funnel report (docs surviving
    each stage + final token yield). The fixture plants one failure
    class per stage: re-crawled exact re-posts fall to dedup, leaked
    near-copies of eval docs fall to decontamination (asserted in
    pytest: every stage strictly shrinks).

    Scale shape — single annotated corpus pass: every stage is a FLAG
    column (``q_ok`` row arithmetic; ``is_surv`` a min-id window over
    md5(text) — the dedup shuffle; contamination a broadcast anti
    against the small hit set), and the whole funnel report is ONE
    conditional aggregation. The stage-per-branch form would re-scan a
    100 TB corpus once per funnel row; this form reads it once (the
    contamination branch re-derives only survivor grams — at scale
    you'd checkpoint the annotated frame between the two consumers).
    Funnel columns are plain counts — engine-exact."""
    docs = table(spark, sf_dir, "documents")
    base = docs.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", "lang", "text"
    )
    reposts = (
        docs.where((F.col("doc_id") % 50 == 0) & (F.col("doc_id") % 97 != 0))
        .select((F.col("doc_id") + 2000000).alias("doc_id"), "lang", "text")
    )
    leaked = docs.where(F.col("doc_id") % 97 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "lang",
        F.concat("text", F.lit(" near dup tail")).alias("text"),
    )
    corpus = base.unionByName(reposts).unionByName(leaked)
    bench = docs.where(F.col("doc_id") % 97 == 0)
    bench_grams = (
        bench.select(F.expr(_TOKS).alias("toks"))
        .select(F.explode(F.array_distinct(F.expr(_GRAMS8))).alias("gram"))
        .distinct()
    )
    quality = corpus.withColumn(
        "n_tokens", F.size(F.split("text", " "))
    ).withColumn(
        "n_stop",
        F.expr(
            "size(filter(split(text, ' '),"
            " w -> w IN ('the', 'a', 'of', 'and', 'in')))"
        ),
    )
    stop_ratio = F.col("n_stop") / F.col("n_tokens")
    flagged = quality.withColumn(
        "q_ok",
        F.col("n_tokens").between(10, 1000)
        & (stop_ratio >= 0.01)
        & (stop_ratio <= 0.5),
    )
    # dedup survivor flag: min quality-passing doc_id per identical
    # text — the single corpus-wide shuffle (partition by md5(text))
    w = Window.partitionBy(F.md5("text"))
    ann = flagged.withColumn(
        "is_surv",
        F.col("q_ok")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("q_ok"), F.col("doc_id"))).over(w)
        ),
    )
    contaminated = (
        ann.where("is_surv")
        .select("doc_id", F.expr(_TOKS).alias("toks"))
        .select(
            "doc_id",
            F.explode(F.array_distinct(F.expr(_GRAMS8))).alias("gram"),
        )
        .join(bench_grams, "gram", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )
    is_clean = F.col("is_surv") & F.col("is_cont").isNull()
    return (
        ann.join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_in"),
            F.count(F.when(F.col("q_ok"), 1)).alias("n_quality"),
            F.count(F.when(F.col("is_surv"), 1)).alias("n_unique"),
            F.count(F.when(is_clean, 1)).alias("n_clean"),
            F.sum(F.when(is_clean, F.col("n_tokens")))
            .cast("bigint")
            .alias("tokens_kept"),
        )
        .transform(sort_bounded, "lang")
    )


# ---------------------------------------------------------------------------
# RAG-style document chunking: overlapping fixed-size token windows,
# one row per chunk, stable fingerprints — the retrieval-index prep
# stage (distinct from q_sequence_packing, which packs WHOLE documents
# into non-overlapping cross-document training bins).
# ---------------------------------------------------------------------------

_CHUNK = 32   # tokens per chunk
_STRIDE = 24  # chunk stride (8-token overlap)


def chunk_docs(docs: DataFrame) -> DataFrame:
    """Overlapping token-window chunking as a library transform: one
    output row per ({_CHUNK}-token, stride-{_STRIDE}) window per doc —
    minimal cover (chunk i exists only while chunk i-1 did not already
    reach the doc's end). Row-local transform(sequence) + explode: a
    flatMap, zero shuffles."""
    chunks = (
        f"transform("
        f" sequence(0, int(greatest(ceil((size(_t) - {_CHUNK})"
        f"   / CAST({_STRIDE} AS DOUBLE)), 0))),"
        f" i -> named_struct("
        f"  'chunk_idx', i,"
        f"  'start_tok', i * {_STRIDE},"
        f"  'chunk_tokens', least(size(_t) - i * {_STRIDE}, {_CHUNK}),"
        f"  'chunk_fp', md5(concat_ws(' ',"
        f"      slice(_t, i * {_STRIDE} + 1, {_CHUNK})))))"
    )
    return docs.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(array(split(text, ' ')), _t -> {chunks})[0]")
        ).alias("c"),
    ).select(
        "doc_id",
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.start_tok").alias("start_tok"),
        F.col("c.chunk_tokens").cast("long").alias("chunk_tokens"),
        F.col("c.chunk_fp").alias("chunk_fp"),
    )


@query(
    "q_doc_chunking",
    f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t,
               len(string_split(text, ' ')) AS n
        FROM documents),
    chunks AS (
        SELECT doc_id, n, x.i AS chunk_idx,
               x.i * {_STRIDE} AS start_tok,
               LEAST(n - x.i * {_STRIDE}, {_CHUNK}) AS chunk_tokens,
               md5(array_to_string(
                   t[x.i * {_STRIDE} + 1 : x.i * {_STRIDE} + {_CHUNK}],
                   ' ')) AS chunk_fp
        FROM toks, (SELECT UNNEST(range(0, 1000)) AS i) x
        WHERE x.i * {_STRIDE} < n AND (x.i = 0 OR n > {_CHUNK})
          AND (x.i = 0 OR (x.i - 1) * {_STRIDE} + {_CHUNK} < n))
    SELECT doc_id, chunk_idx, start_tok,
           CAST(chunk_tokens AS BIGINT) AS chunk_tokens, chunk_fp
    FROM chunks
    ORDER BY doc_id, chunk_idx
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking ({_CHUNK}-token chunks, stride
    {_STRIDE}): the RAG/embedding-index prep op. Chunk count per doc is
    the minimal cover — chunk i starts at i·stride; a new chunk starts
    only while the previous one did NOT already reach the end of the
    doc (so a 40-token doc gets chunks at 0 and 24, not a third at 48).
    ``chunk_fp`` (md5 of the space-joined window) is the stable id an
    index upsert keys on.

    100 TB design: the chunk struct array is one row-local
    transform(sequence) — a flatMap, no shuffle anywhere."""
    return chunk_docs(table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# BM25 retrieval scoring — the ranking half of the RAG story
# (chunk_docs prepares the index units; this scores them for a query).
# ---------------------------------------------------------------------------

_BM25_TERMS = ("table", "spark", "data")  # the fixed probe query
_BM25_K1 = "1.2"
# (k1 + 1) and (1 - b) pre-folded as literals so both engines run the
# IDENTICAL IEEE operation sequence (b = 0.75)
_BM25_K1P1 = "2.2"
_BM25_1MB = "0.25"
_BM25_B = "0.75"


@query(
    "q_bm25_topdocs",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks,
               len({_TOKS_SQL}) AS dl
        FROM documents),
    stats AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
        FROM toks),
    hits AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM (SELECT doc_id, UNNEST(toks) AS term FROM toks)
        WHERE term IN {str(tuple(_BM25_TERMS))}
        GROUP BY doc_id, term),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM hits GROUP BY term),
    scored AS (
        SELECT h.doc_id,
               ((n_docs - df + 0.5) / (df + 0.5))
               * ((tf * {_BM25_K1P1}) / (tf + {_BM25_K1} *
                   ({_BM25_1MB} + {_BM25_B} * (t.dl / avgdl)))) AS s
        FROM hits h
        JOIN toks t ON h.doc_id = t.doc_id
        JOIN dfreq USING (term) CROSS JOIN stats)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
           ROUND(SUM(s), 9) AS bm25
    FROM scored GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
)
def q_bm25_topdocs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 documents for a fixed probe query (k1=1.2, b=0.75;
    Robertson-Spärck Jones with LINEAR idf (N-df+0.5)/(df+0.5) — the ln
    is dropped for the same cross-engine bit-exactness reason as
    q_tfidf_topterms; per-term score ordering is unchanged, summed
    scores skew toward rarer terms, documented).

    100 TB design: the query-term filter lands INSIDE the explode
    stage, so the only fact-level aggregate runs over matching
    (doc, term) occurrences — a vanishing fraction of the corpus; df
    (3 rows) and the corpus stats (1 row) broadcast; doc length joins
    from the doc-level relation; final top-20 is TakeOrdered. At index
    scale the same expression scores chunk_docs output instead of
    whole documents."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(_TOKS).alias("toks"),
        F.expr(f"size({_TOKS})").alias("dl"),
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    hits = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = hits.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    scored = (
        hits.join(toks.select("doc_id", "dl"), "doc_id")
        .join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "s",
            F.expr(
                f"((n_docs - df + 0.5) / (df + 0.5))"
                f" * ((tf * {_BM25_K1P1}) / (tf + {_BM25_K1} *"
                f" ({_BM25_1MB} + {_BM25_B} * (dl / avgdl))))"
            ),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms_hit"),
            F.round(F.sum("s"), 9).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# BPE merge induction — the tokenizer-training shape: iteratively count
# corpus-wide adjacent symbol pairs, merge the most frequent, recount.
# ---------------------------------------------------------------------------

_BPE_STEPS = 2

# adjacent-pair list from a space-delimited symbol string `s`
_PAIRS = (
    "transform(array(filter(split(trim(s), ' '), w -> w != '')), _t -> "
    "CASE WHEN size(_t) >= 2 THEN transform(sequence(1, size(_t) - 1), "
    "i -> named_struct('a', _t[i - 1], 'b', _t[i])) "
    "ELSE CAST(array() AS array<struct<a:string,b:string>>) END)[0]"
)
_PAIRS_SQL = (
    "list_transform(range(1, len(toks) - 0), "
    "i -> {'a': toks[i], 'b': toks[i + 1]})"
)


def bpe_oracle_sql(steps: int) -> str:
    """DuckDB oracle for ``bpe_merges`` at the given merge count —
    factored so tests can oracle-check deeper loops than the
    registered {_BPE_STEPS}-step query.

    The t/m CTEs are MATERIALIZED: t{{k}} references m{{k}} three times
    plus t{{k-1}}, so DuckDB's default CTE inlining expands ~4^steps
    scans of the corpus (8 steps exhausts the fd limit before it
    finishes) — the materialization is the oracle-side analogue of the
    engine's per-step localCheckpoint."""
    return f"""
    WITH t0 AS MATERIALIZED (
        SELECT doc_id, ' ' || text || ' ' AS s FROM documents),
    {"".join(f'''
    p{k} AS (
        SELECT pr.a AS a, pr.b AS b, COUNT(*) AS cnt
        FROM (SELECT UNNEST(list_filter({_PAIRS_SQL}, x -> x.b IS NOT NULL)) AS pr
              FROM (SELECT list_filter(string_split(trim(s), ' '),
                                       w -> w <> '') AS toks FROM t{k - 1}))
        GROUP BY pr.a, pr.b),
    m{k} AS MATERIALIZED (SELECT a, b, cnt FROM p{k}
             ORDER BY cnt DESC, a, b LIMIT 1),
    t{k} AS MATERIALIZED (
        SELECT doc_id,
               replace(s, ' ' || (SELECT a FROM m{k}) || ' '
                           || (SELECT b FROM m{k}) || ' ',
                       ' ' || (SELECT a FROM m{k}) || '_'
                           || (SELECT b FROM m{k}) || ' ') AS s
        FROM t{k - 1}),'''
        for k in range(1, steps + 1))}
    final AS (
        SELECT pr.a AS a, pr.b AS b, COUNT(*) AS cnt
        FROM (SELECT UNNEST(list_filter({_PAIRS_SQL}, x -> x.b IS NOT NULL)) AS pr
              FROM (SELECT list_filter(string_split(trim(s), ' '),
                                       w -> w <> '') AS toks
                    FROM t{steps}))
        GROUP BY pr.a, pr.b)
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT {k} AS step, a AS sym_a, b AS sym_b,"
            f" CAST(cnt AS BIGINT) AS cnt FROM m{k}"
            for k in range(1, steps + 1))}
        UNION ALL
        SELECT {steps + 1} AS step, a, b, CAST(cnt AS BIGINT)
        FROM (SELECT * FROM final ORDER BY cnt DESC, a, b LIMIT 10))
    ORDER BY step, cnt DESC, sym_a, sym_b
    """


def bpe_merges(spark: SparkSession, sf_dir: str, steps: int) -> DataFrame:
    """BPE merge induction over the corpus: ``steps`` iterations of
    (count adjacent symbol pairs corpus-wide) → (merge the most
    frequent pair, ties lexicographic) → recount, then the post-merge
    top-10 pair table. The tokenizer-training shape of an LLM pipeline
    — word-level symbols here; byte-level is the same loop with a
    bigger initial alphabet.

    Per-iteration cost is ONE pair-explode + groupBy over the corpus
    plus a 1-row argmax collect (the merge decision is a global scalar
    — same bounded-driver-action class as connected_components'
    convergence count). The merge application is a row-local
    replace(); BOTH engines use leftmost-non-overlapping substring
    replace, so consecutive overlapping occurrences ('a b a b')
    resolve identically — part of the contract, asserted by the
    oracle hash.

    The rebound corpus is ``localCheckpoint``-pinned each iteration:
    unpinned, step k's plan stacks all k prior replace() expressions,
    so every pair count re-executes the whole merge history — O(steps²)
    corpus scans, a scale-killer at a real tokenizer's 30k merges. The
    pin makes each step O(1) scans over the previous step's output (at
    cluster scale the same role is played by writing the merged corpus
    back to storage per checkpoint interval; production-scale BPE would
    additionally count pairs per-partition and merge count tables on
    the driver). Even pinned, each merge still rescans the full corpus
    once — inherent to exact BPE induction; at 100 TB you induce merges
    on a capped deterministic hash sample of documents (the A7
    rank-over-md5 sampler) and apply the learned merge table to the
    full corpus in one pass, so this operator's full-corpus loop is
    deliberately demo-scale."""
    docs = table(spark, sf_dir, "documents")
    cur = docs.select(
        "doc_id", F.concat(F.lit(" "), "text", F.lit(" ")).alias("s")
    )

    def pair_counts(df: DataFrame) -> DataFrame:
        return (
            df.select(F.explode(F.expr(_PAIRS)).alias("pr"))
            .groupBy(
                F.col("pr.a").alias("a"), F.col("pr.b").alias("b")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    out = None
    for step in range(1, steps + 1):
        counts = pair_counts(cur)
        top = counts.orderBy(
            F.desc("cnt"), "a", "b"
        ).limit(1).collect()[0]
        row = spark.createDataFrame(
            [(step, top.a, top.b, int(top.cnt))],
            "step int, sym_a string, sym_b string, cnt bigint",
        )
        out = row if out is None else out.unionByName(row)
        cur = cur.select(
            "doc_id",
            F.expr(
                "replace(s, ' ' || {a} || ' ' || {b} || ' ', "
                "' ' || {a} || '_' || {b} || ' ')".format(
                    a=f"'{top.a}'", b=f"'{top.b}'"
                )
            ).alias("s"),
        ).localCheckpoint(eager=False)
    final = (
        pair_counts(cur)
        .orderBy(F.desc("cnt"), "a", "b")
        .limit(10)
        .select(
            F.lit(steps + 1).alias("step"),
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            F.col("cnt").cast("bigint").alias("cnt"),
        )
    )
    return out.unionByName(final)


@query("q_bpe_merges", bpe_oracle_sql(_BPE_STEPS))
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered {_BPE_STEPS}-step BPE merge induction (see
    ``bpe_merges``); tests additionally oracle-check an 8-step run to
    prove the per-step checkpoint keeps plan depth — and step time —
    flat."""
    return bpe_merges(spark, sf_dir, _BPE_STEPS)


# ---------------------------------------------------------------------------
# Skip-gram co-occurrence + PMI-style association lift: the statistics
# behind word-embedding training data (word2vec negative-sampling
# tables, GloVe co-occurrence matrices) and collocation discovery.
# Pair generation is ROW-LOCAL (a flatten/transform HOF over the token
# array — zero shuffle, same idiom as chunking/grams); only the
# (w1, w2) count aggregation shuffles, and it partial-aggregates
# map-side. The oracle regenerates pairs via a positional self-join —
# same pair set, clearer SQL.
#
# Cross-engine exactness: lift = (n_ab/P) / ((n_a/T)(n_b/T)) is
# evaluated as ONE identically-parenthesized double expression over
# exact integer counts (IEEE ops are deterministic given operand
# order), rounded to 6 — the same contract cosine_fixed uses.
# ---------------------------------------------------------------------------


@query(
    "q_pmi_cooccurrence",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    pos AS (
        SELECT doc_id,
               UNNEST(range(0, len(toks))) AS pos,
               toks
        FROM toks),
    words AS (SELECT doc_id, pos, toks[pos + 1] AS w FROM pos),
    pairs AS (
        SELECT a.w AS w1, b.w AS w2
        FROM words a JOIN words b
          ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)),
    tot AS (
        SELECT (SELECT COUNT(*) FROM words) AS t,
               (SELECT COUNT(*) FROM pairs) AS p),
    uni AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w),
    co AS (SELECT w1, w2, COUNT(*) AS n_ab FROM pairs GROUP BY w1, w2)
    SELECT co.w1, co.w2, co.n_ab,
           ROUND(CAST(co.n_ab AS DOUBLE) * tot.t * tot.t
                 / (CAST(tot.p AS DOUBLE) * u1.n * u2.n), 6) AS lift
    FROM co
    JOIN uni u1 ON co.w1 = u1.w
    JOIN uni u2 ON co.w2 = u2.w
    CROSS JOIN tot
    WHERE co.n_ab >= 5
    ORDER BY lift DESC, co.w1, co.w2 LIMIT 20
    """,
)
def q_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 (w1, w2) skip-gram pairs (forward window ±2) by PMI-style
    association lift, minimum pair count 5. Rare-pair bias is PMI's
    documented behavior — the count floor is the standard guard."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    # sequence(0, n) DESCENDS for n < 0, hence the >= 2 guard — on the
    # pair stage ONLY (unigram/total counts still see 1-token docs)
    pair_expr = (
        "flatten(transform(sequence(0, size(toks) - 2), i -> "
        "transform(sequence(1, least(2, size(toks) - 1 - i)), d -> "
        "struct(toks[i] AS w1, toks[i + d] AS w2))))"
    )
    pairs = (
        toks.where(F.size("toks") >= 2)
        .select(F.explode(F.expr(pair_expr)).alias("pr"))
        .select("pr.w1", "pr.w2")
    )
    words = toks.select(F.explode("toks").alias("w"))
    tot = words.agg(F.count(F.lit(1)).alias("t")).crossJoin(
        pairs.agg(F.count(F.lit(1)).alias("p"))
    )
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    co = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab"))
    return (
        co.where(F.col("n_ab") >= 5)
        .join(
            uni.withColumnRenamed("w", "w1").withColumnRenamed("n", "n1"),
            "w1",
        )
        .join(
            uni.withColumnRenamed("w", "w2").withColumnRenamed("n", "n2"),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            F.round(
                F.expr(
                    "CAST(n_ab AS DOUBLE) * t * t"
                    " / (CAST(p AS DOUBLE) * n1 * n2)"
                ),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# URL canonicalization + dedup rollup: the crawl-frontier primitive —
# re-crawls of the same resource arrive under syntactic variants
# (scheme/host case, default ports, www/m subdomains, trailing slash,
# index.html, param order, utm_* tracking noise). Canonicalize, then
# group: one row per resource with its variant count. All row-local
# string expressions (zero shuffle until the final rollup), whole-stage
# codegen on the Spark side.
# ---------------------------------------------------------------------------

_RAW_URLS = """
    CASE CAST({id} % 4 AS INT)
      WHEN 0 THEN 'HTTP://WWW.Site' || CAST({id} % 7 AS {ity})
                  || '.COM:80/a/b/?z=1&a=2#sec'
      WHEN 1 THEN 'https://site' || CAST({id} % 7 AS {ity})
                  || '.com/a/b?a=2&z=1'
      WHEN 2 THEN 'http://Site' || CAST({id} % 7 AS {ity})
                  || '.Com/a/b/index.html?z=1&a=2&utm_source=x'
      ELSE 'https://m.site' || CAST({id} % 7 AS {ity}) || '.com:443/a/b'
    END
"""


@query(
    "q_url_canonicalize",
    f"""
    WITH raws AS (
        SELECT doc_id,
               {_RAW_URLS.format(id="doc_id", ity="VARCHAR")} AS raw
        FROM documents),
    parts AS (
        SELECT doc_id, raw,
               split_part(raw, '#', 1) AS nofrag
        FROM raws),
    hp AS (
        SELECT doc_id, raw,
               split_part(nofrag, '://', 2) AS rest
        FROM parts),
    split3 AS (
        SELECT doc_id, raw, rest,
               split_part(rest, '/', 1) AS hostport,
               substr(rest, len(split_part(rest, '/', 1)) + 1) AS pathq
        FROM hp),
    fields AS (
        SELECT doc_id, raw,
               regexp_replace(lower(split_part(hostport, ':', 1)),
                              '^(www|m)\\.', '') AS host,
               regexp_replace(regexp_replace(
                   split_part(pathq, '?', 1),
                   '/index\\.html$', ''), '/$', '') AS path,
               CASE WHEN contains(pathq, '?')
                    THEN substr(pathq, strpos(pathq, '?') + 1)
                    ELSE '' END AS query
        FROM split3),
    sorted_params AS (
        -- COALESCE: DuckDB array_to_string([]) is NULL, Spark
        -- array_join([]) is '' — normalize to ''
        SELECT doc_id, raw, host, path,
               COALESCE(array_to_string(list_sort(list_filter(
                   string_split(query, '&'),
                   p -> p <> '' AND NOT starts_with(p, 'utm_'))),
                   '&'), '') AS params
        FROM fields),
    canon AS (
        SELECT doc_id, raw,
               'https://' || host || path ||
               CASE WHEN params = '' THEN ''
                    ELSE '?' || params END AS canonical_url
        FROM sorted_params)
    SELECT canonical_url,
           COUNT(*) AS n_raw,
           COUNT(DISTINCT raw) AS n_variants,
           MIN(doc_id) AS min_doc_id
    FROM canon GROUP BY canonical_url ORDER BY canonical_url
    """,
)
def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup rollup over deterministically synthesized
    crawl variants (4 syntactic forms × 7 hosts): lowercase host, fold
    scheme to https, strip ALL ports (host keeps text left of ':' —
    non-default ports fold too) / www. / m. / trailing slash /
    index.html / #fragment / utm_* params, sort the query string."""
    docs = table(spark, sf_dir, "documents")
    raw = F.expr(_RAW_URLS.format(id="doc_id", ity="STRING"))
    d = docs.select("doc_id", raw.alias("raw"))
    d = d.withColumn("nofrag", F.substring_index("raw", "#", 1))
    d = d.withColumn("rest", F.substring_index("nofrag", "://", -1))
    d = d.withColumn("hostport", F.substring_index("rest", "/", 1))
    d = d.withColumn(
        "pathq", F.expr("substr(rest, length(hostport) + 1)")
    )
    d = d.select(
        "doc_id",
        "raw",
        F.regexp_replace(
            F.lower(F.substring_index("hostport", ":", 1)),
            r"^(www|m)\.",
            "",
        ).alias("host"),
        F.regexp_replace(
            F.regexp_replace(
                F.substring_index("pathq", "?", 1), r"/index\.html$", ""
            ),
            "/$",
            "",
        ).alias("path"),
        F.expr(
            "CASE WHEN instr(pathq, '?') > 0"
            " THEN substr(pathq, instr(pathq, '?') + 1) ELSE '' END"
        ).alias("query"),
    )
    # startswith (not LIKE 'utm_%'): LIKE's `_` is a single-char
    # wildcard, which would also drop e.g. 'utmost=1' — the oracle's
    # starts_with(p, 'utm_') is a literal prefix test.
    params = (
        "array_join(array_sort(filter(split(query, '&'),"
        " p -> p != '' AND NOT startswith(p, 'utm_'))), '&')"
    )
    d = d.withColumn(
        "canonical_url",
        F.concat(
            F.lit("https://"),
            "host",
            "path",
            F.expr(
                f"CASE WHEN {params} = '' THEN ''"
                f" ELSE concat('?', {params}) END"
            ),
        ),
    )
    return (
        d.groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct("raw").alias("n_variants"),
            F.min("doc_id").alias("min_doc_id"),
        )
    )


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick): fixed-width signed hashed
# token-count vectors — the unbounded-vocabulary featurizer (HashingTF
# with a sign hash to unbias collisions, per Weinberger et al.). The
# Spark side hashes each token ONCE into (bucket, sign) structs, then
# folds the 16-dim vector row-locally — zero shuffle, no vocabulary
# broadcast, the property that makes the trick the scale featurizer.
# The oracle recomputes the bucket per (token, dim) — clearer SQL,
# identical md5-derived hash function.
# ---------------------------------------------------------------------------

_FH_DIMS = 16


@query(
    "q_feature_hashing",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
        WHERE doc_id < 40),
    vecs AS (
        SELECT doc_id,
               list_transform(range(0, {_FH_DIMS}), b ->
                   CAST(COALESCE(list_sum(list_transform(toks, w ->
                       CASE WHEN CAST('0x' || substr(md5(w), 1, 15)
                                      AS BIGINT) % {_FH_DIMS} = b
                            THEN (CASE WHEN instr('02468ace',
                                           substr(md5(w), 16, 1)) > 0
                                       THEN 1 ELSE -1 END)
                            ELSE 0 END)), 0) AS BIGINT)) AS vec
        FROM toks)
    SELECT doc_id, array_to_string(vec, ',') AS vec
    FROM vecs ORDER BY doc_id
    """,
)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed 16-bucket hashed token-count vector per document (first
    40 docs). bucket = md5-prefix mod dims; sign = parity of the 16th
    hex digit — both engine-agnostic derivations. The vector is emitted
    as a comma-joined string: the driver's canonicalizer (pandas
    sort_values over result cells) cannot hash list cells, so complex
    top-level output columns are a hard contract violation (VERDICT r7
    finding 1; enforced by tests/test_plan_hygiene.py)."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 40)
    hashed = (
        "transform(" + _TOKS + ", w -> named_struct("
        "'b', CAST(pmod(CAST(conv(substr(md5(w), 1, 15), 16, 10)"
        f" AS BIGINT), {_FH_DIMS}) AS INT),"
        " 's', IF(instr('02468ace', substr(md5(w), 16, 1)) > 0,"
        " CAST(1 AS BIGINT), CAST(-1 AS BIGINT))))"
    )
    vec = (
        f"transform(sequence(0, {_FH_DIMS - 1}), b -> "
        "aggregate(hs, CAST(0 AS BIGINT),"
        " (acc, t) -> acc + IF(t.b = b, t.s, CAST(0 AS BIGINT))))"
    )
    return (
        docs.select("doc_id", F.expr(hashed).alias("hs"))
        .select("doc_id", F.expr(vec).alias("vec"))
        .select(
            "doc_id",
            F.expr(
                "concat_ws(',', transform(vec, x -> CAST(x AS STRING)))"
            ).alias("vec"),
        )
    )


# ---------------------------------------------------------------------------
# Inverted-index build: term → (document frequency, sorted posting
# list) — the index-construction half of the retrieval stack (BM25
# above is the scoring half). One explode + one (term) shuffle with
# map-side distinct; posting lists are capped, ordered arrays so the
# output is deterministic and driver-safe. At scale the term key IS
# the index partition key (co-located with the BM25 probe).
# ---------------------------------------------------------------------------

_IDX_TERMS = "('the', 'a', 'of', 'and', 'in', 'zzzunseen')"


@query(
    "q_inverted_index",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    posting AS (
        SELECT DISTINCT doc_id, UNNEST(toks) AS term FROM toks),
    hits AS (SELECT term, doc_id FROM posting
             WHERE term IN {_IDX_TERMS})
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string((list(doc_id ORDER BY doc_id))[1:10], ',')
               AS postings
    FROM hits GROUP BY term ORDER BY term
    """,
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Posting lists for a fixed probe-term set: df + first-10 sorted
    doc ids per term (absent terms produce no row). Postings are
    emitted comma-joined: the driver's canonicalizer crashes on list
    cells (``TypeError: unhashable type: 'list'`` — the r7 driver FAIL),
    so top-level complex output columns are a hard contract violation
    (enforced by tests/test_plan_hygiene.py)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("term"))
        .where(F.expr(f"term IN {_IDX_TERMS}"))
        .distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(F.sort_array(F.collect_set("doc_id")), 1, 10).alias(
                "_postings"
            ),
        )
        .select(
            "term",
            "df",
            F.expr(
                "concat_ws(',', transform(_postings,"
                " x -> CAST(x AS STRING)))"
            ).alias("postings"),
        )
    )


# ---------------------------------------------------------------------------
# Temperature-weighted multilingual mixture (UniMax / mT5-style):
# per-language sampling budget ∝ tokens^(1/T) — upweights low-resource
# languages relative to natural (T=1) sampling without the equal-token
# extreme (T=∞; that's q_mixture_resample). T=2 here: weights are
# integer sqrt (FLOOR over one IEEE sqrt of an exact int — drift-free),
# budgets integer DIV shares of a fixed global token budget, and the
# per-language selection is the same seeded md5-rank cumsum window as
# the equal-token op. Same 100 TB shape: one stats pass, one scalar
# broadcast of per-lang budgets, one lang-partitioned window.
# ---------------------------------------------------------------------------

_MIX_BUDGET = 20000  # global token budget across all languages


@query(
    "q_temperature_mixture",
    f"""
    WITH stats AS (
        SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tokens
        FROM documents),
    totals AS (
        SELECT lang, CAST(SUM(n_tokens) AS BIGINT) AS lang_tokens,
               CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT)
                   AS w
        FROM stats GROUP BY lang),
    quota AS (
        SELECT lang, lang_tokens,
               CAST(({_MIX_BUDGET} * w) // (SELECT SUM(w) FROM totals)
                    AS BIGINT) AS budget
        FROM totals),
    ranked AS (
        SELECT doc_id, lang, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY lang ORDER BY
                   md5('42' || '|' || CAST(doc_id AS VARCHAR)), doc_id)
                   AS rk
        FROM stats),
    cum AS (
        SELECT lang, n_tokens,
               CAST(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY rk
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        FROM ranked)
    SELECT c.lang, q.budget,
           COUNT(*) AS n_docs_kept,
           CAST(SUM(c.n_tokens) AS BIGINT) AS tokens_kept,
           ROUND(CAST(SUM(c.n_tokens) AS BIGINT) * 1.0 / q.lang_tokens, 9)
               AS keep_ratio
    FROM cum c JOIN quota q ON c.lang = q.lang
    WHERE c.cum_tokens - c.n_tokens < q.budget
    GROUP BY c.lang, q.budget, q.lang_tokens
    ORDER BY c.lang
    """,
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language doc selection under a sqrt-weighted (T=2) token
    budget: low-resource languages keep a higher fraction of their
    tokens than high-resource ones (keep_ratio strictly reflects the
    temperature reweighting)."""
    docs = table(spark, sf_dir, "documents")
    stats = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).alias("n_tokens")
    )
    totals = stats.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("lang_tokens"),
        F.expr(
            "CAST(FLOOR(SQRT(CAST(SUM(n_tokens) AS DOUBLE))) AS BIGINT)"
        ).alias("w"),
    )
    wsum = totals.agg(F.sum("w").alias("wsum"))
    quota = totals.crossJoin(F.broadcast(wsum)).select(
        "lang",
        "lang_tokens",
        F.expr(f"CAST(({_MIX_BUDGET} * w) DIV wsum AS BIGINT)").alias(
            "budget"
        ),
    )
    wrk = Window.partitionBy("lang").orderBy(
        F.md5(F.concat_ws("|", F.lit("42"), F.col("doc_id").cast("string"))),
        "doc_id",
    )
    wcum = (
        Window.partitionBy("lang")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (
        stats.withColumn("rk", F.row_number().over(wrk))
        .withColumn("cum_tokens", F.sum("n_tokens").over(wcum).cast("long"))
    )
    return (
        cum.join(F.broadcast(quota), "lang")
        .where(F.col("cum_tokens") - F.col("n_tokens") < F.col("budget"))
        .groupBy("lang", "budget", "lang_tokens")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").cast("long").alias("tokens_kept"),
        )
        .select(
            "lang",
            "budget",
            "n_docs_kept",
            "tokens_kept",
            F.round(
                F.col("tokens_kept") * 1.0 / F.col("lang_tokens"), 9
            ).alias("keep_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# word2vec negative-sampling table: unigram distribution raised to the
# 3/4 power (Mikolov et al.) — the canonical smoothing that upweights
# rare words. Exactly cross-engine: weight = floor((n³)^(1/4)) via two
# FLOOR(SQRT(·)) steps (floor-sqrt of floor-sqrt IS the integer fourth
# root), probabilities as fixed-point DIV shares. Valid while n³ stays
# exactly representable in a double (n < ~2×10⁵ — true for the bench
# corpus; at web scale switch the weight to a 128-bit integer nroot).
# ---------------------------------------------------------------------------


@query(
    "q_negative_sampling",
    f"""
    WITH words AS (
        SELECT UNNEST({_TOKS_SQL}) AS w FROM documents),
    counts AS (SELECT w, COUNT(*) AS n FROM words GROUP BY w),
    weighted AS (
        SELECT w, n,
               CAST(FLOOR(SQRT(FLOOR(SQRT(CAST(n * n * n AS DOUBLE)))))
                    AS BIGINT) AS wt
        FROM counts),
    tot AS (SELECT SUM(wt) AS tw FROM weighted)
    SELECT w, CAST(n AS BIGINT) AS n, wt,
           CAST((wt * 1048576) // tot.tw AS BIGINT) AS prob_fp
    FROM weighted CROSS JOIN tot
    ORDER BY n DESC, w LIMIT 20
    """,
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 negative-sampling table rows: unigram count, ¾-power
    weight, fixed-point sampling probability."""
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.expr(_TOKS)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    weighted = counts.withColumn(
        "wt",
        F.expr(
            "CAST(FLOOR(SQRT(FLOOR(SQRT(CAST(n * n * n AS DOUBLE)))))"
            " AS BIGINT)"
        ),
    )
    tot = weighted.agg(F.sum("wt").alias("tw"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            "w",
            F.col("n").cast("long").alias("n"),
            "wt",
            F.expr("CAST((wt * 1048576) DIV tw AS BIGINT)").alias(
                "prob_fp"
            ),
        )
        .orderBy(F.desc("n"), "w")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Scalar pandas UDF (§2.9) — the Series→Series Arrow tier: the most
# common custom-function shape (per-row Python logic, Arrow-batched).
# md5 keeps it verifiable: Python hashlib and SQL md5 agree, so even a
# Python-defined column hash-checks.
# ---------------------------------------------------------------------------

@query(
    "q_pandas_scalar_udf",
    """
    SELECT substr(md5(text), 1, 1) AS nibble,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc
    FROM documents GROUP BY nibble ORDER BY nibble
    """,
)
def q_pandas_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document fingerprint nibble computed by a SCALAR pandas UDF
    (Series→Series, Arrow-batched — the workhorse custom-function
    tier), rolled up per nibble. The UDF body is Python hashlib md5,
    the oracle is SQL md5: identical by the md5 spec, so the
    Python-produced column hash-checks exactly. In production this
    tier carries logic built-ins can't express (tokenizers, model
    featurizers); here the verifiable stand-in proves the plumbing —
    Arrow batch transfer, null handling, codegen boundary — at the
    cost profile the plan-hygiene suite tracks (ArrowEvalPython, never
    row-pickling BatchEvalPython)."""
    from pyspark.sql.functions import pandas_udf

    # Series -> Series hints make it a scalar pandas UDF; `pd` is
    # module-global so the postponed (string) annotations resolve
    @pandas_udf("string")
    def md5_nibble(texts: pd.Series) -> pd.Series:
        import hashlib as _h

        # na_action='ignore' keeps Arrow nulls null instead of feeding
        # NaN to .encode() (ADVICE r4: the fixture has no null text,
        # but the null path the docstring claims must actually be safe)
        return texts.map(
            lambda t: _h.md5(t.encode("utf-8")).hexdigest()[0],
            na_action="ignore",
        )

    docs = table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", md5_nibble("text").alias("nibble"))
        .groupBy("nibble")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
        )
        .transform(sort_bounded, "nibble")
    )


# ---------------------------------------------------------------------------
# Readability scoring (Flesch-shaped) — sentence/word/syllable ratios
# as row-local regex counts: the text-quality signal reading-level
# filters use, next to the length/stopword heuristics above.
# ---------------------------------------------------------------------------

@query(
    "q_readability",
    """
    WITH scored AS (
        SELECT lang,
               GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS n_sentences,
               GREATEST(len(list_filter(string_split(text, ' '),
                                        w -> w <> '')), 1) AS n_words,
               GREATEST(len(regexp_extract_all(lower(text),
                            '[aeiouy]+')), 1) AS n_syllables
        FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           ROUND(CAST(SUM(n_words) AS DOUBLE) / SUM(n_sentences), 9)
               AS words_per_sentence,
           ROUND(CAST(SUM(n_syllables) AS DOUBLE) / SUM(n_words), 9)
               AS syllables_per_word
    FROM scored
    GROUP BY lang ORDER BY lang
    """,
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language readability aggregates: words-per-sentence and
    vowel-group syllables-per-word (the two Flesch inputs), all from
    row-local regex counts with GREATEST(…,1) floors so empty fields
    never divide by zero. Corpus-level ratios come from exact integer
    sums with one final division each."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang",
        F.greatest(
            F.expr("size(regexp_extract_all(text, '[.!?]+', 0))"), F.lit(1)
        ).alias("n_sentences"),
        F.greatest(
            F.expr("size(filter(split(text, ' '), w -> w != ''))"), F.lit(1)
        ).alias("n_words"),
        F.greatest(
            F.expr("size(regexp_extract_all(lower(text), '[aeiouy]+', 0))"),
            F.lit(1),
        ).alias("n_syllables"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
            F.round(
                F.sum("n_words").cast("double") / F.sum("n_sentences"), 9
            ).alias("words_per_sentence"),
            F.round(
                F.sum("n_syllables").cast("double") / F.sum("n_words"), 9
            ).alias("syllables_per_word"),
        )
        .transform(sort_bounded, "lang")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
# algorithm): hash every k-gram, slide a w-window over the hash
# sequence, select the minimum per window (rightmost winner on ties),
# dedupe the selections. Guarantees: any shared substring of length
# >= k + w - 1 produces a shared fingerprint (no false negatives for
# long matches), expected density 2/(w+1). The selection is encoded as
# ONE integer min — code = h * 65536 + (65535 - pos) — so the
# min-by-hash-then-rightmost rule needs no argmin plumbing and both
# engines replay it bit-identically.
# ---------------------------------------------------------------------------

_WIN_K = 5   # char-gram length
_WIN_W = 4   # window size (positions per window)


@query(
    "q_winnowing_fingerprints",
    f"""
    WITH base AS (
        SELECT doc_id, substr(lower(text), 1, 200) AS s
        FROM documents WHERE doc_id < 300),
    grams AS (
        SELECT doc_id, CAST(i AS INTEGER) AS pos,
               ('0x' || substr(md5(substr(s, CAST(i AS INTEGER), {_WIN_K})),
                               1, 8))::BIGINT AS h,
               len(s) - {_WIN_K} + 1 AS n_pos
        FROM base, UNNEST(range(1, greatest(len(s) - {_WIN_K} + 1, 0) + 1))
            AS t(i)),
    coded AS (
        SELECT doc_id, pos, n_pos,
               h * 65536 + (65535 - pos) AS code
        FROM grams),
    winmin AS (
        SELECT doc_id, pos, n_pos,
               MIN(code) OVER (PARTITION BY doc_id ORDER BY pos
                               ROWS BETWEEN CURRENT ROW
                               AND {_WIN_W - 1} FOLLOWING) AS sel
        FROM coded),
    fps AS (
        SELECT DISTINCT doc_id, sel
        FROM winmin WHERE pos <= n_pos - {_WIN_W} + 1),
    per_doc AS (
        SELECT f.doc_id,
               COUNT(*) AS n_fp,
               SUM(sel) AS fp_checksum
        FROM fps f GROUP BY f.doc_id),
    geom AS (
        SELECT doc_id, MAX(n_pos) AS n_grams,
               MAX(n_pos) - {_WIN_W} + 1 AS n_windows
        FROM grams GROUP BY doc_id)
    SELECT g.doc_id,
           CAST(g.n_grams AS BIGINT) AS n_grams,
           CAST(g.n_windows AS BIGINT) AS n_windows,
           CAST(p.n_fp AS BIGINT) AS n_fp,
           CAST(p.fp_checksum AS BIGINT) AS fp_checksum,
           CAST(p.n_fp * 1000000 // g.n_windows AS BIGINT) AS density_ppm
    FROM geom g JOIN per_doc p ON g.doc_id = p.doc_id
    ORDER BY g.doc_id
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint summary for the first 300 documents
    (normalized 200-char prefix, k={_WIN_K}, w={_WIN_W}): per doc the
    gram/window geometry, the selected-fingerprint count and checksum,
    and the realized density in ppm (expected ~2/(w+1) — the pytest
    invariant). This is the plagiarism/near-copy fingerprint scheme
    whose selections are POSITION-ROBUST (unlike fixed-stride
    sampling, an insertion only perturbs nearby windows).

    Scale shape: gram hashing is a row-local flatMap, the window min
    is partitioned per doc, the dedupe is per-doc distinct — one
    shuffle on doc_id end-to-end; fingerprint postings would then join
    bucket-wise exactly like the MinHash bands."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 300)
    base = docs.select(
        "doc_id", F.expr("substr(lower(text), 1, 200)").alias("s")
    )
    grams = base.select(
        "doc_id",
        (F.length("s") - _WIN_K + 1).alias("n_pos"),
        F.posexplode(
            F.expr(
                f"transform(sequence(1, greatest(length(s) - {_WIN_K - 1}, 0)),"
                f" i -> CAST(conv(substr(md5(substr(s, i, {_WIN_K})), 1, 8),"
                f" 16, 10) AS BIGINT))"
            )
        ).alias("pos0", "h"),
    ).select(
        "doc_id",
        "n_pos",
        (F.col("pos0") + 1).alias("pos"),
        "h",
    )
    coded = grams.select(
        "doc_id",
        "pos",
        "n_pos",
        (F.col("h") * 65536 + (65535 - F.col("pos"))).alias("code"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    winmin = coded.select(
        "doc_id", "pos", "n_pos", F.min("code").over(w).alias("sel")
    )
    fps = (
        winmin.where(F.col("pos") <= F.col("n_pos") - _WIN_W + 1)
        .select("doc_id", "sel")
        .distinct()
    )
    per_doc = fps.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fp"),
        F.sum("sel").alias("fp_checksum"),
    )
    geom = grams.groupBy("doc_id").agg(
        F.max("n_pos").alias("n_grams"),
        (F.max("n_pos") - _WIN_W + 1).alias("n_windows"),
    )
    return (
        geom.join(per_doc, "doc_id")
        .select(
            "doc_id",
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_windows").cast("bigint").alias("n_windows"),
            F.col("n_fp").cast("bigint").alias("n_fp"),
            F.col("fp_checksum").cast("bigint").alias("fp_checksum"),
            F.expr(
                "CAST(n_fp * 1000000 DIV n_windows AS BIGINT)"
            ).alias("density_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine similarity join via the inverted index — the
# SPARSE-vector counterpart of the dense embedding cosine join: docs
# never meet unless they share a term, so the pair space is the union
# of per-term posting-list squares, and the standard df cutoff keeps
# every posting list bounded (a term in >5% of the corpus carries no
# discrimination and would dominate the join — drop it, as every IR
# engine does). The dense-side analogue of this blocking is the LSH
# bucket join in dedup.cosine_pairs.
# ---------------------------------------------------------------------------

@query(
    "q_sparse_cosine_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL}) AS term FROM documents),
    tf AS (
        SELECT doc_id, term, COUNT(*) AS tf
        FROM toks GROUP BY doc_id, term),
    n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM tf),
    df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    keep AS (
        SELECT term, df FROM df, n_docs
        WHERE df >= 2 AND df * 20 <= n AND df <= 256),
    weights AS (
        SELECT t.doc_id, t.term,
               t.tf * ln(CAST((SELECT n FROM n_docs) AS DOUBLE) / k.df)
                   AS w
        FROM tf t JOIN keep k ON t.term = k.term),
    norms AS (
        SELECT doc_id,
               sqrt(CAST(SUM(CAST(w * w AS DECIMAL(18,6))) AS DOUBLE))
                   AS nrm
        FROM weights GROUP BY doc_id),
    dots AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(SUM(CAST(a.w * b.w AS DECIMAL(18,6))) AS DOUBLE)
                   AS dot
        FROM weights a JOIN weights b
          ON a.term = b.term AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id),
    scored AS (
        SELECT d.doc_a, d.doc_b,
               d.dot / (na.nrm * nb.nrm) AS cos
        FROM dots d
        JOIN norms na ON d.doc_a = na.doc_id
        JOIN norms nb ON d.doc_b = nb.doc_id)
    SELECT CAST(doc_a AS BIGINT) AS doc_a, CAST(doc_b AS BIGINT) AS doc_b,
           cos
    FROM scored
    ORDER BY cos DESC, doc_a, doc_b
    LIMIT 20
    """,
)
def q_sparse_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 most-similar document pairs by sparse TF-IDF cosine,
    computed postings-wise: tf per (doc, term), idf = ln(N/df) with a
    [2, N/20] df band, dot products accumulated only over shared
    terms, norms and dots DECIMAL-routed so the cosines are
    bit-identical cross-engine. ln/sqrt/division are single IEEE ops
    on identical inputs (LN parity proven by the PSI/PMI oracles)."""
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    n_docs = tf.select("doc_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # df band: relative cutoff (no discrimination above N/20) AND an
    # ABSOLUTE posting-list cap — the pair volume of one term is
    # O(df^2), so a fraction-only cutoff would re-grow quadratically
    # with corpus size; df <= 256 keeps every term's pair fan-out
    # constant at any scale (the PPJoin-family prefix filter is the
    # exact-recall upgrade when capped terms must still join)
    keep = df_counts.crossJoin(F.broadcast(n_docs)).where(
        (F.col("df") >= 2)
        & (F.col("df") * 20 <= F.col("n"))
        & (F.col("df") <= 256)
    )
    # each doc's norm rides on its weight rows (a window over doc_id
    # inside the pin), so the pair aggregate carries both norms and no
    # per-doc norm join shuffles the pairs again
    weights = (
        tf.join(keep.select("term", "df", "n"), "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf")
                * F.log(F.col("n").cast("double") / F.col("df"))
            ).alias("w"),
        )
        .withColumn(
            "nrm",
            F.sqrt(
                F.expr("SUM(CAST(w * w AS DECIMAL(18,6)))")
                .over(Window.partitionBy("doc_id"))
                .cast("double")
            ),
        )
        .localCheckpoint(eager=True)  # pin: feeds both join sides
    )
    a = weights.select(
        F.col("doc_id").alias("doc_a"), "term", F.col("w").alias("wa"),
        F.col("nrm").alias("na"),
    )
    b = weights.select(
        F.col("doc_id").alias("doc_b"), "term", F.col("w").alias("wb"),
        F.col("nrm").alias("nb"),
    )
    scored = (
        a.join(b, "term")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(
            F.expr(
                "CAST(SUM(CAST(wa * wb AS DECIMAL(18,6))) AS DOUBLE)"
            ).alias("dot")
        )
        .select(
            F.col("doc_a").cast("bigint").alias("doc_a"),
            F.col("doc_b").cast("bigint").alias("doc_b"),
            (F.col("dot") / (F.col("na") * F.col("nb"))).alias("cos"),
        )
    )
    return scored.orderBy(F.desc("cos"), "doc_a", "doc_b").limit(20)


# ---------------------------------------------------------------------------
# N-gram novelty scoring — the incremental-crawl curation signal: for
# each document (in ingestion order = doc_id), what fraction of its
# word 5-grams has never been seen in any EARLIER document? Re-crawls
# and boilerplate score near zero, fresh content near one. One gram
# explode + one min-aggregate + one rollup; the first-seen index is
# exactly the structure q_incremental_dedup persists across snapshots.
# ---------------------------------------------------------------------------

_NOV_N = 5


@query(
    "q_ngram_novelty",
    f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents WHERE doc_id < 250
        UNION ALL
        SELECT doc_id + 1000000,
               text || ' fresh tail ' || CAST(doc_id AS VARCHAR)
        FROM documents WHERE doc_id < 250 AND doc_id % 50 = 0),
    toks AS (
        SELECT doc_id, {_TOKS_SQL} AS t FROM corpus),
    grams AS (
        SELECT DISTINCT doc_id,
               array_to_string(t[i : i + {_NOV_N - 1}], ' ') AS g
        FROM toks, UNNEST(range(1, greatest(len(t) - {_NOV_N - 1}, 0) + 1))
            AS r(i)),
    first_seen AS (
        SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    scored AS (
        SELECT gr.doc_id,
               COUNT(*) AS n_grams,
               COUNT(*) FILTER (WHERE f.first_doc = gr.doc_id) AS n_novel
        FROM grams gr JOIN first_seen f ON gr.g = f.g
        GROUP BY gr.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_novel AS BIGINT) AS n_novel,
           CAST(n_novel * 1000000 // n_grams AS BIGINT) AS novelty_ppm
    FROM scored
    WHERE doc_id >= 1000000 OR doc_id < 50
    ORDER BY doc_id
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 5-gram novelty over the first 250 documents plus
    planted re-crawl variants (every 50th doc re-appears later with a
    short fresh tail): the variants MUST score near-zero novelty while
    originals score near one (pytest invariant). first-seen attribution
    is by min doc_id — the same tie-break q_incremental_dedup uses."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 250)
    corpus = docs.select("doc_id", "text").unionByName(
        docs.where(F.col("doc_id") % 50 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.col("text"),
                F.lit(" fresh tail "),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    grams = corpus.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    f"transform(sequence(1, greatest(size({_TOKS})"
                    f" - {_NOV_N - 1}, 0)),"
                    f" i -> array_join(slice({_TOKS}, i, {_NOV_N}), ' '))"
                )
            )
        ).alias("g"),
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    scored = (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("first_doc") == F.col("doc_id")).alias(
                "n_novel"
            ),
        )
    )
    return (
        scored.where((F.col("doc_id") >= 1000000) | (F.col("doc_id") < 50))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.col("n_grams").cast("bigint").alias("n_grams"),
            F.col("n_novel").cast("bigint").alias("n_novel"),
            F.expr(
                "CAST(n_novel * 1000000 DIV n_grams AS BIGINT)"
            ).alias("novelty_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# KWIC concordance — keyword-in-context extraction: for a query term,
# the first occurrence per document with a fixed character window
# around it. Row-local instr/substr in codegen; the corpus-inspection
# utility behind "show me how this term is used" during curation.
# ---------------------------------------------------------------------------

_KWIC_TERM = "vector"
_KWIC_W = 24   # context chars each side


@query(
    "q_kwic_concordance",
    f"""
    WITH hits AS (
        SELECT doc_id, lower(text) AS t,
               instr(lower(text), '{_KWIC_TERM}') AS pos
        FROM documents
        WHERE instr(lower(text), '{_KWIC_TERM}') > 0 AND doc_id < 400),
    ctx AS (
        SELECT doc_id, CAST(pos AS INTEGER) AS pos,
               substr(t, CAST(greatest(pos - {_KWIC_W}, 1) AS INTEGER),
                      CAST(pos - greatest(pos - {_KWIC_W}, 1) AS INTEGER))
                   AS left_ctx,
               substr(t, CAST(pos + {len(_KWIC_TERM)} AS INTEGER),
                      {_KWIC_W}) AS right_ctx
        FROM hits)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, pos, left_ctx,
           '{_KWIC_TERM}' AS term, right_ctx
    FROM ctx
    ORDER BY doc_id
    """,
)
def q_kwic_concordance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-occurrence concordance lines for '{_KWIC_TERM}' over the
    first 400 documents: position plus {_KWIC_W}-char left/right
    context, all via row-local instr/substr (both engines 1-based)."""
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") < 400)
    hits = docs.select(
        "doc_id",
        F.lower("text").alias("t"),
        F.expr(f"instr(lower(text), '{_KWIC_TERM}')").alias("pos"),
    ).where(F.col("pos") > 0)
    return hits.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("pos").cast("int").alias("pos"),
        F.expr(
            f"substr(t, greatest(pos - {_KWIC_W}, 1),"
            f" pos - greatest(pos - {_KWIC_W}, 1))"
        ).alias("left_ctx"),
        F.lit(_KWIC_TERM).alias("term"),
        F.expr(f"substr(t, pos + {len(_KWIC_TERM)}, {_KWIC_W})").alias(
            "right_ctx"
        ),
    )


# ---------------------------------------------------------------------------
# Jensen-Shannon divergence between sources — the symmetric, bounded
# corpus-shift metric (0 = identical term distributions, ln2 =
# disjoint): compare each source's unigram distribution against the
# rest of the corpus. Smoothing-free by construction (terms outside a
# side contribute only through the mixture), counts exact, each KL
# term one ln on identical doubles, sums DECIMAL-routed.
# ---------------------------------------------------------------------------

@query(
    "q_js_divergence_sources",
    f"""
    WITH toks AS (
        SELECT source, UNNEST({_TOKS_SQL}) AS term FROM documents
        WHERE source IN ('src0', 'src1', 'src2', 'src3')),
    counts AS (
        SELECT source, term, COUNT(*) AS c
        FROM toks GROUP BY source, term),
    tot AS (SELECT source, SUM(c) AS t FROM counts GROUP BY source),
    rest AS (
        SELECT c.term, o.source AS side,
               SUM(CASE WHEN c.source = o.source THEN c.c ELSE 0 END) AS ca,
               SUM(CASE WHEN c.source <> o.source THEN c.c ELSE 0 END) AS cb
        FROM counts c CROSS JOIN (SELECT DISTINCT source FROM counts) o
        GROUP BY c.term, o.source),
    probs AS (
        SELECT r.side, r.term,
               CAST(r.ca AS DOUBLE) / ta.t AS p,
               CAST(r.cb AS DOUBLE)
                   / (SELECT SUM(t2.t) FROM tot t2
                      WHERE t2.source <> r.side) AS q
        FROM rest r JOIN tot ta ON r.side = ta.source),
    terms_v AS (
        SELECT side, term, p, q, (p + q) / 2 AS m,
               CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2))
                    ELSE 0 END / 2
               + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2))
                      ELSE 0 END / 2 AS js_term
        FROM probs)
    SELECT side AS source,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(CAST(js_term AS DECIMAL(18,12))) AS DOUBLE) AS js_div
    FROM terms_v
    GROUP BY side
    ORDER BY side
    """,
)
def q_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source JS divergence of the unigram distribution vs the
    other three sources (src0-src3): the domain-shift metric corpus
    mixers monitor. p/q are ratios of exact counts, each js_term is
    IEEE ln/multiply on identical doubles, and the sum routes through
    DECIMAL(18,12) (terms < 1, well inside double-exact range)."""
    docs = table(spark, sf_dir, "documents").where(
        F.col("source").isin("src0", "src1", "src2", "src3")
    )
    counts = (
        docs.select("source", F.explode(F.expr(_TOKS)).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.groupBy("source").agg(F.sum("c").alias("t"))
    sides = counts.select("source").distinct().select(
        F.col("source").alias("side")
    )
    rest = (
        counts.crossJoin(F.broadcast(sides))
        .groupBy("term", "side")
        .agg(
            F.sum(
                F.when(F.col("source") == F.col("side"), F.col("c")).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("source") != F.col("side"), F.col("c")).otherwise(0)
            ).alias("cb"),
        )
    )
    ta = tot.select(F.col("source").alias("side"), F.col("t").alias("t_side"))
    t_all = tot.agg(F.sum("t").alias("t_total"))
    probs = (
        rest.join(F.broadcast(ta), "side")
        .crossJoin(F.broadcast(t_all))
        .select(
            "side",
            "term",
            (F.col("ca").cast("double") / F.col("t_side")).alias("p"),
            (
                F.col("cb").cast("double")
                / (F.col("t_total") - F.col("t_side"))
            ).alias("q"),
        )
    )
    js_term = (
        "CASE WHEN p > 0 THEN p * ln(p / ((p + q) / 2)) ELSE 0 END / 2"
        " + CASE WHEN q > 0 THEN q * ln(q / ((p + q) / 2)) ELSE 0 END / 2"
    )
    return (
        probs.select("side", F.expr(js_term).alias("js_term"))
        .groupBy(F.col("side").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.expr(
                "CAST(SUM(CAST(js_term AS DECIMAL(18,12))) AS DOUBLE)"
            ).alias("js_div"),
        )
        .transform(sort_bounded, "source")
    )


# ---------------------------------------------------------------------------
# Zipf rank-frequency fit — the corpus-health power law: slope of
# ln(freq) on ln(rank) over the top terms (natural language ~ -1;
# synthetic/templated corpora drift far off). Deterministic ranks,
# fixed-point ln moments, exact-decimal cancellations (the
# q_ols_elasticity pattern over the term histogram).
# ---------------------------------------------------------------------------

_ZIPF_TOP = 200


@query(
    "q_zipf_fit",
    f"""
    WITH toks AS (
        SELECT UNNEST({_TOKS_SQL}) AS term FROM documents),
    counted AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
    ranked AS (
        SELECT term, c,
               ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rk
        FROM counted),
    pts AS (
        SELECT CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT)
                   AS x,
               CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)
                   AS y
        FROM ranked WHERE rk <= {_ZIPF_TOP}),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
        FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
               / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
               AS zipf_slope
    FROM m
    """,
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope over the top-{_ZIPF_TOP} terms: log-log OLS of
    frequency on rank with deterministic (count DESC, term) ranking.
    Corpus QA signal — heavily templated or deduplicate-starved text
    shows a flattened slope.

    r7 scale fix: the top-{_ZIPF_TOP} cut is orderBy().limit() —
    TakeOrderedAndProject, a distributed partial top-k where every
    partition ships at most k rows — and only the surviving k rows
    pass through the rank window. The previous form ranked the ENTIRE
    vocab through one partition-less row_number window (a
    single-partition sort of every distinct term — the q_equidepth
    anti-pattern) just to keep k of them; at web-corpus vocab sizes
    (1e8+ distinct tokens with typos/URLs) that window is the job's
    bottleneck, while TakeOrdered stays O(k) per partition.
    Plan-tested in tests/test_plans.py."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.explode(F.expr(_TOKS)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = counted.orderBy(F.desc("c"), "term").limit(_ZIPF_TOP)
    w = Window.orderBy(F.desc("c"), "term")  # over <= _ZIPF_TOP rows
    pts = (
        top.withColumn("rk", F.row_number().over(w))
        .select(
            F.expr(
                "CAST(floor(ln(CAST(rk AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("x"),
            F.expr(
                "CAST(floor(ln(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)"
            ).alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.expr(
            "CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("zipf_slope"),
    )


# ---------------------------------------------------------------------------
# Unigram-LM perplexity filter — the CCNet-style corpus curation
# gate: train an add-one-smoothed unigram LM on the corpus itself
# (top-V fixed vocabulary, OOV mass smoothed), score every document
# by per-token cross-entropy, surface the worst offenders. At 100 TB
# the vocab is a bounded top-V broadcast (never the raw term
# dictionary) and scoring is one broadcast-join + one rollup.
# ---------------------------------------------------------------------------

_PPL_V = 10000


@query(
    "q_unigram_perplexity",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL}) AS w FROM documents),
    n_tot AS (SELECT COUNT(*) AS n FROM toks),
    vocab AS (
        SELECT w, c FROM (
            SELECT w, COUNT(*) AS c,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, w) AS rk
            FROM toks GROUP BY w) WHERE rk <= {_PPL_V}),
    scored AS (
        SELECT t.doc_id,
               ln((COALESCE(v.c, 0) + CAST(1 AS BIGINT))
                  * CAST(1.0 AS DOUBLE)
                  / ((SELECT n FROM n_tot) + {_PPL_V} + 1)) AS lnp
        FROM toks t LEFT JOIN vocab v ON t.w = v.w),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CAST(lnp AS DECIMAL(20,10))) AS DOUBLE) AS s
        FROM scored GROUP BY doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(CAST(-s / n_tokens AS DECIMAL(18,9)) AS DOUBLE)
               AS cross_entropy
    FROM per_doc
    ORDER BY cross_entropy DESC, doc_id LIMIT 20
    """,
)
def q_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 highest-perplexity documents under a corpus-trained
    add-one unigram LM with a fixed top-{_PPL_V} vocabulary (CCNet's
    perplexity-filter shape). One token rollup builds the vocab
    (TakeOrdered top-V, no global sort), scoring is a broadcast
    left join on the vocab, and each document's ln-prob sum routes
    through DECIMAL so engine summation order cannot drift."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.expr(_TOKS)).alias("w")
    ).localCheckpoint(eager=True)
    n_tot = toks.agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_PPL_V)
    )
    scored = (
        toks.join(F.broadcast(vocab), "w", "left")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "doc_id",
            F.expr(
                f"ln((COALESCE(c, CAST(0 AS BIGINT)) + CAST(1 AS BIGINT))"
                f" * CAST(1.0 AS DOUBLE) / (n + {_PPL_V} + 1))"
            ).alias("lnp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr("CAST(SUM(CAST(lnp AS DECIMAL(20,10))) AS DOUBLE)").alias("s"),
    )
    return (
        per_doc.select(
            F.col("doc_id").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            F.expr(
                "CAST(CAST(-s / n_tokens AS DECIMAL(18,9)) AS DOUBLE)"
            ).alias("cross_entropy"),
        )
        .orderBy(F.desc("cross_entropy"), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Dataset card — the one-row datasheet a curation pipeline publishes
# with every corpus release: volume, token mass, vocabulary size,
# exact-duplicate rate, language spread, short-doc share. Everything
# is exact count algebra composed from the curation primitives.
# ---------------------------------------------------------------------------

@query(
    "q_dataset_card",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL}) AS w FROM documents),
    tok_stats AS (
        SELECT COUNT(*) AS n_tokens, COUNT(DISTINCT w) AS vocab
        FROM toks),
    base AS (
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT lang) AS n_langs,
               SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS n_short,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents),
    top_lang AS (
        SELECT lang, COUNT(*) AS c FROM documents
        GROUP BY lang ORDER BY c DESC, lang LIMIT 1)
    SELECT CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(t.vocab AS BIGINT) AS vocab_size,
           CAST(t.n_tokens * 1000 // b.n_docs AS BIGINT)
               AS mean_tokens_permille,
           CAST(COALESCE((SELECT SUM(c - 1) FROM (
                    SELECT COUNT(*) AS c FROM documents
                    GROUP BY md5(text) HAVING COUNT(*) > 1) d), 0)
                AS BIGINT) AS n_exact_dup_docs,
           CAST(b.n_langs AS BIGINT) AS n_langs,
           (SELECT lang FROM top_lang) AS top_lang,
           CAST((SELECT c FROM top_lang) * 1000000 // b.n_docs AS BIGINT)
               AS top_lang_ppm,
           CAST(b.n_short * 1000000 // b.n_docs AS BIGINT)
               AS short_doc_ppm,
           CAST(b.total_chars // b.n_docs AS BIGINT) AS mean_chars
    FROM base b CROSS JOIN tok_stats t
    """,
)
def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus datasheet in one row: document and token volume,
    vocabulary size, exact-duplicate surplus, language spread, top
    language share, short-doc share, mean length. Two scans (docs +
    token explode), every rate integer ppm/permille — the release
    artifact of the curation pipeline."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    tok_stats = toks.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("w").alias("vocab"),
    )
    dup = (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.sum(F.col("c") - 1).alias("n_exact_dup_docs"))
    )
    base = docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum(F.when(F.col("n_chars") < 100, 1).otherwise(0)).alias(
            "n_short"
        ),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    top_lang = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "lang")
        .limit(1)
        .select(F.col("lang").alias("top_lang"), F.col("c").alias("top_c"))
    )
    return (
        base.crossJoin(F.broadcast(tok_stats))
        .crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(top_lang))
        .select(
            F.col("n_docs").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            F.col("vocab").cast("bigint").alias("vocab_size"),
            F.expr(
                "CAST(n_tokens * 1000 DIV n_docs AS BIGINT)"
            ).alias("mean_tokens_permille"),
            F.coalesce("n_exact_dup_docs", F.lit(0))
            .cast("bigint")
            .alias("n_exact_dup_docs"),
            F.col("n_langs").cast("bigint"),
            "top_lang",
            F.expr("CAST(top_c * 1000000 DIV n_docs AS BIGINT)").alias(
                "top_lang_ppm"
            ),
            F.expr("CAST(n_short * 1000000 DIV n_docs AS BIGINT)").alias(
                "short_doc_ppm"
            ),
            F.expr("CAST(total_chars DIV n_docs AS BIGINT)").alias(
                "mean_chars"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Boilerplate suppression — C4/CCNet-style: spans whose 5-gram shingle
# recurs across >= _BP_MIN_DOCS distinct documents are boilerplate
# (nav bars, license footers, templated headers) and are suppressed
# before training. Distinct from q_ngram_novelty (first-seen novelty):
# here the signal is CORPUS-WIDE frequency, not temporal precedence.
# ---------------------------------------------------------------------------

_BP_MIN_DOCS = 3

_BP_SH_SQL = """
    sh AS (
        SELECT t.doc_id, i AS p, array_to_string(toks[i:i+4], ' ') AS g
        FROM toks t, UNNEST(range(1, len(toks) - 3)) AS u(i)
        WHERE len(toks) >= 5)
"""


@query(
    "q_boilerplate_suppress",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    {_BP_SH_SQL.strip()},
    boiler AS (
        SELECT g FROM sh GROUP BY g
        HAVING COUNT(DISTINCT doc_id) >= {_BP_MIN_DOCS}),
    cov AS (
        SELECT DISTINCT s.doc_id, s.p + o AS pos
        FROM sh s JOIN boiler b USING (g), UNNEST(range(0, 5)) AS u(o)),
    covc AS (
        SELECT doc_id, COUNT(*) AS n_suppressed FROM cov GROUP BY doc_id),
    base AS (
        SELECT doc_id, len(toks) AS n_tokens FROM toks
        WHERE len(toks) > 0)
    SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.n_suppressed, 0) AS BIGINT) AS n_suppressed,
           CAST(COALESCE(c.n_suppressed, 0) * 1000 // b.n_tokens
                AS BIGINT) AS suppressed_permille
    FROM base b LEFT JOIN covc c USING (doc_id)
    ORDER BY suppressed_permille DESC, doc_id LIMIT 30
    """,
)
def q_boilerplate_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-30 most boilerplate-laden documents: a token position is
    suppressed when any 5-gram shingle covering it occurs in >=
    {_BP_MIN_DOCS} distinct documents (the C4 pipeline's repeated-span
    rule, frequency-based — not q_ngram_novelty's first-seen rule).

    Scale shape: one positional-shingle flatMap (no shuffle), one
    shingle hash-agg for the boilerplate set, one shuffle join back on
    the shingle key, one distinct over (doc, pos) — every step is a
    hash partition on a high-cardinality key, AQE-coalesced; no global
    sort before the final top-30 TakeOrdered. The shingle projection
    is localCheckpoint-pinned because it feeds BOTH the frequency agg
    and the coverage join (ReusedExchange does not fire across
    different projections — see SKILL gotcha)."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    sh = (
        toks.select(
            "doc_id",
            F.explode(
                F.expr(
                    "CASE WHEN size(toks) >= 5 THEN"
                    " transform(sequence(1, size(toks) - 4),"
                    "   i -> struct(i AS p,"
                    "        concat_ws(' ', slice(toks, i, 5)) AS g))"
                    " ELSE array() END"
                )
            ).alias("s"),
        )
        .select("doc_id", F.col("s.p").alias("p"), F.col("s.g").alias("g"))
        .localCheckpoint(eager=True)
    )
    boiler = (
        sh.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= _BP_MIN_DOCS)
        .select("g")
    )
    covc = (
        sh.join(boiler, "g")
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("p"), F.col("p") + 4)).alias("pos"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_suppressed"))
    )
    base = toks.select(
        "doc_id", F.size("toks").alias("n_tokens")
    ).where(F.col("n_tokens") > 0)
    return (
        base.join(covc, "doc_id", "left")
        .select(
            F.col("doc_id").cast("bigint"),
            F.col("n_tokens").cast("bigint"),
            F.coalesce("n_suppressed", F.lit(0))
            .cast("bigint")
            .alias("n_suppressed"),
            F.expr(
                "CAST(COALESCE(n_suppressed, 0) * 1000 DIV n_tokens"
                " AS BIGINT)"
            ).alias("suppressed_permille"),
        )
        .orderBy(F.desc("suppressed_permille"), "doc_id")
        .limit(30)
    )


# ---------------------------------------------------------------------------
# Phrase search — positional inverted index. The corpus's most frequent
# trigram is the phrase; matches come from a three-way positional
# self-join (w@p, w@p+1, w@p+2), the classic inverted-index phrase plan
# (term postings pre-filtered by broadcast phrase terms = index lookup).
# ---------------------------------------------------------------------------

@query(
    "q_phrase_search",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    tris AS (
        SELECT t.doc_id, i AS p, array_to_string(toks[i:i+2], ' ') AS g
        FROM toks t, UNNEST(range(1, len(toks) - 1)) AS u(i)
        WHERE len(toks) >= 3),
    top AS (
        SELECT g AS phrase FROM tris GROUP BY g
        ORDER BY COUNT(*) DESC, g LIMIT 1),
    m AS (
        SELECT tr.doc_id, tr.p FROM tris tr, top WHERE tr.g = top.phrase)
    SELECT CAST(m.doc_id AS BIGINT) AS doc_id,
           (SELECT phrase FROM top) AS phrase,
           CAST(COUNT(*) AS BIGINT) AS n_matches,
           CAST(MIN(m.p) AS BIGINT) AS first_pos
    FROM m GROUP BY m.doc_id ORDER BY m.doc_id
    """,
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase search via a positional inverted index: postings
    (doc, pos, term) self-joined at adjacent positions for the corpus's
    top trigram (count then lexical tie-break). Postings are
    pre-filtered by the broadcast phrase terms — at scale that IS the
    inverted-index lookup: only the three terms' postings lists ever
    shuffle, joined on (doc, pos) alignment. first_pos is 1-based.

    The oracle scans trigram lists directly — same matches by
    construction; the engine path proves the index-join plan."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS).alias("toks"))
    tris = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN"
                " transform(sequence(1, size(toks) - 2),"
                "   i -> concat_ws(' ', slice(toks, i, 3)))"
                " ELSE array() END"
            )
        ).alias("g"),
    )
    top = (
        tris.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "g")
        .limit(1)
        .select(
            F.col("g").alias("phrase"),
            F.expr("split(g, ' ')[0]").alias("w1"),
            F.expr("split(g, ' ')[1]").alias("w2"),
            F.expr("split(g, ' ')[2]").alias("w3"),
        )
    )
    # The three term postings are sliced from ONE pinned fetch (r13):
    # unpinned, each leg re-ran tokenize + posexplode over the whole
    # corpus just to keep one term's rows (the checkpointed projection
    # trap — three different column sets defeat ReusedExchange). The
    # pinned table IS the index lookup result: only the three phrase
    # terms' postings, a few hundred rows at any scale. Interleaved
    # A/B min-of-3 at sf0.1: 1.96-2.53 s -> 1.52-1.65 s, 25 rows
    # identical.
    post = (
        toks.select("doc_id", F.posexplode("toks").alias("p0", "w"))
        .crossJoin(F.broadcast(top))
        .where(
            (F.col("w") == F.col("w1"))
            | (F.col("w") == F.col("w2"))
            | (F.col("w") == F.col("w3"))
        )
        .localCheckpoint(eager=True)
    )
    a = post.where(F.col("w") == F.col("w1")).select(
        "doc_id", "phrase", F.col("p0").alias("pa")
    )
    b = post.where(F.col("w") == F.col("w2")).select(
        F.col("doc_id").alias("doc_b"), F.col("p0").alias("pb")
    )
    c = post.where(F.col("w") == F.col("w3")).select(
        F.col("doc_id").alias("doc_c"), F.col("p0").alias("pc")
    )
    m = a.join(
        b,
        (F.col("doc_id") == F.col("doc_b"))
        & (F.col("pb") == F.col("pa") + 1),
    ).join(
        c,
        (F.col("doc_id") == F.col("doc_c"))
        & (F.col("pc") == F.col("pa") + 2),
    )
    return (
        m.groupBy("doc_id", "phrase")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            (F.min("pa") + 1).cast("bigint").alias("first_pos"),
        )
        .select(
            F.col("doc_id").cast("bigint"),
            "phrase",
            F.col("n_matches").cast("bigint"),
            "first_pos",
        )
    )


# ---------------------------------------------------------------------------
# Trending terms — heavy-hitter CHANGE detection: term ranks in the
# early half of the corpus vs the late half (by doc_id), biggest rank
# movers first. The week-over-week trending query of every content
# pipeline, here on the corpus's own halves for determinism.
# ---------------------------------------------------------------------------

@query(
    "q_trending_terms",
    f"""
    WITH med AS (
        SELECT CAST(MAX(doc_id) + MIN(doc_id) AS BIGINT) // 2 AS split_id
        FROM documents),
    toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL}) AS w FROM documents),
    halves AS (
        SELECT CASE WHEN t.doc_id <= m.split_id THEN 0 ELSE 1 END AS half,
               t.w
        FROM toks t CROSS JOIN med m),
    freq AS (
        SELECT half, w, COUNT(*) AS c FROM halves GROUP BY half, w),
    ranked AS (
        SELECT half, w, c,
               ROW_NUMBER() OVER (PARTITION BY half
                                  ORDER BY c DESC, w) AS rnk
        FROM freq)
    SELECT e.w AS term,
           CAST(e.c AS BIGINT) AS c_early,
           CAST(l.c AS BIGINT) AS c_late,
           CAST(e.rnk AS INT) AS rank_early,
           CAST(l.rnk AS INT) AS rank_late,
           CAST(e.rnk - l.rnk AS INT) AS rank_delta
    FROM ranked e JOIN ranked l ON e.w = l.w
    WHERE e.half = 0 AND l.half = 1
    ORDER BY ABS(e.rnk - l.rnk) DESC, term LIMIT 20
    """,
)
def q_trending_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 rank movers between the corpus's early and late halves
    (split at the doc_id midpoint): per-half term frequencies, dense
    deterministic ranks (count desc, term), self-joined on term. One
    token explode + one (half, term) hash-agg; the rank window
    partitions by half and the mover join is over the term-cardinality
    table (vocabulary-sized — broadcastable at any corpus scale)."""
    docs = table(spark, sf_dir, "documents")
    med = docs.agg(
        F.expr("CAST(MAX(doc_id) + MIN(doc_id) AS BIGINT) DIV 2").alias(
            "split_id"
        )
    )
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    halves = toks.crossJoin(F.broadcast(med)).select(
        F.when(F.col("doc_id") <= F.col("split_id"), 0)
        .otherwise(1)
        .alias("half"),
        "w",
    )
    freq = halves.groupBy("half", "w").agg(F.count(F.lit(1)).alias("c"))
    w_rank = Window.partitionBy("half").orderBy(F.desc("c"), "w")
    ranked = freq.withColumn("rnk", F.row_number().over(w_rank))
    e = ranked.where(F.col("half") == 0).select(
        F.col("w").alias("term"),
        F.col("c").alias("c_early"),
        F.col("rnk").alias("rank_early"),
    )
    late = ranked.where(F.col("half") == 1).select(
        F.col("w").alias("term"),
        F.col("c").alias("c_late"),
        F.col("rnk").alias("rank_late"),
    )
    return (
        e.join(late, "term")
        .select(
            "term",
            F.col("c_early").cast("bigint"),
            F.col("c_late").cast("bigint"),
            F.col("rank_early").cast("int"),
            F.col("rank_late").cast("int"),
            (F.col("rank_early") - F.col("rank_late"))
            .cast("int")
            .alias("rank_delta"),
        )
        .orderBy(
            F.abs(F.col("rank_delta")).desc(), "term"
        )
        .limit(20)
    )


# ---------------------------------------------------------------------------
# 1-D earth mover's distance (Wasserstein-1) — how far apart are two
# corpus halves' document-length distributions? W1 = integral of
# |CDF_a - CDF_b| over the merged support, computed exactly in
# integers: |cum_a*n_b - cum_b*n_a| * gap summed, one final division
# by n_a*n_b. The distribution-shift metric PSI/KS can't give you in
# distance units. Windows run over the bounded distinct-length
# support, never raw docs.
# ---------------------------------------------------------------------------

@query(
    "q_emd_lengths",
    """
    WITH tagged AS (
        SELECT n_chars,
               CAST(substr(source, 4) AS INTEGER) % 2 AS cohort
        FROM documents),
    support AS (
        SELECT n_chars AS x,
               SUM(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS ca,
               SUM(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS cb
        FROM tagged GROUP BY n_chars),
    cum AS (
        SELECT x,
               SUM(ca) OVER (ORDER BY x) AS cum_a,
               SUM(cb) OVER (ORDER BY x) AS cum_b,
               LEAD(x) OVER (ORDER BY x) AS next_x
        FROM support),
    tot AS (
        SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
               CAST(SUM(cb) AS BIGINT) AS n_b
        FROM support)
    SELECT t.n_a, t.n_b,
           CAST(SUM(ABS(CAST(c.cum_a AS BIGINT) * t.n_b
                        - CAST(c.cum_b AS BIGINT) * t.n_a)
                    * (c.next_x - c.x)) AS BIGINT) AS emd_num,
           CAST(SUM(ABS(CAST(c.cum_a AS BIGINT) * t.n_b
                        - CAST(c.cum_b AS BIGINT) * t.n_a)
                    * (c.next_x - c.x)) AS DOUBLE)
               / (t.n_a * t.n_b) AS emd_chars
    FROM cum c CROSS JOIN tot t
    WHERE c.next_x IS NOT NULL
    GROUP BY t.n_a, t.n_b
    """,
)
def q_emd_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Wasserstein-1 distance between even- and odd-source
    cohorts' n_chars distributions. One rollup to the distinct-length
    support (bounded domain), one cumulative window over it, then the
    closed form sum(|CDF_a - CDF_b| dx) kept in integer numerator form
    (|cum_a*n_b - cum_b*n_a| * gap) until a single IEEE division —
    hash-exact cross-engine. At 100 TB the support table is the only
    windowed object; the facts contribute one shuffle."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    tagged = docs.select(
        "n_chars",
        (F.expr("CAST(substr(source, 4) AS INT)") % 2).alias("cohort"),
    )
    support = tagged.groupBy(F.col("n_chars").alias("x")).agg(
        F.sum(F.when(F.col("cohort") == 0, 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("cohort") == 1, 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("x")
    cum = support.select(
        "x",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
        F.lead("x").over(w).alias("next_x"),
    )
    tot = support.agg(
        F.sum("ca").cast("bigint").alias("n_a"),
        F.sum("cb").cast("bigint").alias("n_b"),
    )
    return (
        cum.where(F.col("next_x").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("n_a", "n_b")
        .agg(
            F.expr(
                "CAST(SUM(ABS(CAST(cum_a AS BIGINT) * n_b"
                " - CAST(cum_b AS BIGINT) * n_a)"
                " * (next_x - x)) AS BIGINT)"
            ).alias("emd_num"),
            F.expr(
                "CAST(SUM(ABS(CAST(cum_a AS BIGINT) * n_b"
                " - CAST(cum_b AS BIGINT) * n_a)"
                " * (next_x - x)) AS DOUBLE) / (n_a * n_b)"
            ).alias("emd_chars"),
        )
        .select("n_a", "n_b", "emd_num", "emd_chars")
    )


# ---------------------------------------------------------------------------
# Heaps'-law vocabulary growth — distinct vocabulary V(n) vs tokens
# seen n in corpus order, fit V = K * n^beta by log-log OLS over
# per-document checkpoints. The corpus-health readout that says
# whether more data still buys new vocabulary. First occurrences via
# one min-position rollup per term; cumulative curves via post-agg
# windows over ~doc-count rows.
# ---------------------------------------------------------------------------

@query(
    "q_heaps_law",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({_TOKS_SQL}) AS w FROM documents),
    doc_tok AS (
        SELECT doc_id, COUNT(*) AS n_toks FROM toks GROUP BY doc_id),
    firsts AS (
        SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_new
        FROM (SELECT w, MIN(doc_id) AS doc_id FROM toks GROUP BY w)
        GROUP BY doc_id),
    curve AS (
        SELECT d.doc_id,
               SUM(d.n_toks) OVER (ORDER BY d.doc_id) AS cum_toks,
               SUM(COALESCE(f.n_new, 0)) OVER (ORDER BY d.doc_id)
                   AS cum_vocab
        FROM doc_tok d LEFT JOIN firsts f ON d.doc_id = f.doc_id),
    pts AS (
        SELECT CAST(floor(ln(CAST(cum_toks AS DOUBLE)) * 1000000)
                    AS BIGINT) AS x,
               CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * 1000000)
                    AS BIGINT) AS y
        FROM curve WHERE cum_vocab > 0),
    m AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
               SUM(CAST(x AS DECIMAL(38,0)) * x) AS sxx
        FROM pts)
    SELECT CAST(n AS BIGINT) AS n_points,
           CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
               / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
               AS heaps_beta,
           (CAST(sy AS DOUBLE)
            - CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)
              / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)
              * CAST(sx AS DOUBLE))
               / (n * 1000000.0) AS ln_k
    FROM m
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) = K*n^beta over the corpus in doc_id order:
    per-term first-occurrence doc via one MIN rollup (never a running
    distinct over raw tokens), per-doc new-vocab and token counts,
    cumulative curves over the per-doc rollup, then the shared
    integer-moment OLS (ln values snapped to 1e-6 fixed point,
    cancellations in exact DECIMAL). beta well below 1 means the
    corpus still yields vocabulary sublinearly — the
    diminishing-returns diagnostic for data acquisition.

    r7 scale fix: the cumulative curves run as TWO-PASS prefix sums
    (the q_global_rownum idiom) — range-repartition the per-doc
    rollup on doc_id, cumulate WITHIN each partition (window
    partitioned by spark_partition_id), then add broadcast
    per-partition offsets (a 16-row driver-side table). The previous
    form cumulated through one partition-less window — a
    single-partition sort of one row per DOCUMENT, which at 1e9 docs
    is the job's bottleneck. Range partitioning preserves doc_id
    order across partitions, so the two-pass values are identical to
    the global window's. Plan-tested in tests/test_plans.py."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    doc_tok = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_toks"))
    firsts = (
        toks.groupBy("w")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    base = (
        doc_tok.join(firsts, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
    )
    parted = base.repartitionByRange(range_parts(base), "doc_id").withColumn(
        "_pid", F.spark_partition_id()
    )
    _off = (
        "COALESCE(SUM({c}) OVER (ORDER BY _pid ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(
            F.sum("n_toks").alias("_t"),
            F.sum("n_new").alias("_v"),
        )
        .select(
            "_pid",
            F.expr(_off.format(c="_t")).alias("_t_off"),
            F.expr(_off.format(c="_v")).alias("_v_off"),
        )
    )
    w_local = Window.partitionBy("_pid").orderBy("doc_id")
    curve = (
        parted.withColumn("_ct", F.sum("n_toks").over(w_local))
        .withColumn("_cv", F.sum("n_new").over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .select(
            (F.col("_ct") + F.col("_t_off")).alias("cum_toks"),
            (F.col("_cv") + F.col("_v_off")).alias("cum_vocab"),
        )
    )
    pts = curve.where(F.col("cum_vocab") > 0).select(
        F.expr(
            "CAST(floor(ln(CAST(cum_toks AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(floor(ln(CAST(cum_vocab AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("y"),
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * y)").alias("sxy"),
        F.expr("SUM(CAST(x AS DECIMAL(38,0)) * x)").alias("sxx"),
    )
    return m.select(
        F.col("n").cast("bigint").alias("n_points"),
        F.expr(
            "CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            " / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
        ).alias("heaps_beta"),
        F.expr(
            "(CAST(sy AS DOUBLE)"
            " - CAST(n * sxy - CAST(sx AS DECIMAL(38,0)) * sy AS DOUBLE)"
            "   / CAST(n * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS DOUBLE)"
            "   * CAST(sx AS DOUBLE))"
            " / (n * CAST(1000000 AS DOUBLE))"
        ).alias("ln_k"),
    )


# ---------------------------------------------------------------------------
# Simpson diversity index — per-source language diversity
# D = 1 - sum(n_l*(n_l-1)) / (N*(N-1)): the probability two random
# docs from a source differ in language. Exact integer numerator and
# denominator, one IEEE division. The corpus-mix companion of
# q_entropy_profile (which measures the same thing in bits).
# ---------------------------------------------------------------------------

@query(
    "q_simpson_diversity",
    """
    WITH sl AS (
        SELECT source, lang, COUNT(*) AS n_l
        FROM documents GROUP BY source, lang),
    per_src AS (
        SELECT source,
               CAST(SUM(n_l) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_langs,
               CAST(SUM(n_l * (n_l - 1)) AS BIGINT) AS same_pairs
        FROM sl GROUP BY source)
    SELECT source, n_docs, n_langs, same_pairs,
           1.0 - CAST(same_pairs AS DOUBLE)
               / (n_docs * (n_docs - 1)) AS simpson_d
    FROM per_src WHERE n_docs > 1 ORDER BY source
    """,
)
def q_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of languages within each source: two nested
    hash rollups (source×lang, then source), exact integer pair
    counts, and a single exact-operand division for the index — the
    1-in-(1-D) effective-language readout a mixture designer checks
    before setting per-source sampling temperatures. No windows, no
    joins; linear at any scale."""
    docs = table(spark, sf_dir, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n_l"))
    per_src = sl.groupBy("source").agg(
        F.sum("n_l").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.expr("CAST(SUM(n_l * (n_l - 1)) AS BIGINT)").alias("same_pairs"),
    )
    return (
        per_src.where(F.col("n_docs") > 1)
        .select(
            "source",
            "n_docs",
            "n_langs",
            "same_pairs",
            F.expr(
                "1.0 - CAST(same_pairs AS DOUBLE)"
                " / (n_docs * (n_docs - 1))"
            ).alias("simpson_d"),
        )
        .transform(sort_bounded, "source")
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion — combine two retrieval rankings (raw term
# frequency and integer-idf TF-IDF) for the shared probe query with
# RRF(60): score = 1/(60+r1) + 1/(60+r2). The standard hybrid-search
# merge (BM25 + dense retrieval in production); ranks are
# deterministic, per-term idf is 1e-6 fixed-point so both component
# scores are exact integers, and the fused score's two divisions are
# exact-operand IEEE — hash-stable cross-engine.
# ---------------------------------------------------------------------------

_RRF_K = 60
_RRF_TOP = 10


@query(
    "q_rrf_fusion",
    f"""
    WITH toks AS (
        SELECT doc_id, UNNEST({{toks}}) AS w FROM documents),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
        SELECT doc_id, w, COUNT(*) AS tf
        FROM toks WHERE w IN ('table', 'spark', 'data')
        GROUP BY doc_id, w),
    idf AS (
        SELECT w,
               CAST(floor(ln(CAST(n.n AS DOUBLE) / COUNT(DISTINCT doc_id))
                          * 1000000) AS BIGINT) AS idf_fp
        FROM tf CROSS JOIN n_docs n GROUP BY w, n.n),
    scored AS (
        SELECT t.doc_id,
               CAST(SUM(t.tf) AS BIGINT) AS s1,
               CAST(SUM(t.tf * i.idf_fp) AS BIGINT) AS s2
        FROM tf t JOIN idf i ON t.w = i.w
        GROUP BY t.doc_id),
    ranked AS (
        SELECT doc_id, s1, s2,
               ROW_NUMBER() OVER (ORDER BY s1 DESC, doc_id) AS r1,
               ROW_NUMBER() OVER (ORDER BY s2 DESC, doc_id) AS r2
        FROM scored),
    fused AS (
        SELECT doc_id, r1, r2,
               CAST(floor((1.0 / ({_RRF_K} + r1) + 1.0 / ({_RRF_K} + r2))
                          * 1000000000) AS BIGINT) AS rrf_nano
        FROM ranked)
    SELECT doc_id, CAST(r1 AS BIGINT) AS r1, CAST(r2 AS BIGINT) AS r2,
           rrf_nano,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_nano DESC, doc_id)
                AS BIGINT) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {_RRF_TOP}
    ORDER BY fused_rank
    """.replace("{toks}", _TOKS_SQL),
)
def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF(k=60) fusion of two rankers over the probe query
    ('table','spark','data'): raw term-frequency and fixed-point-idf
    TF-IDF. Candidate set is postings-bounded (docs hitting >=1 probe
    term); both component scores are exact BIGINTs so the rank windows
    are deterministic; the fused 1/(k+r) sum floors to nano fixed
    point before the final top-{_RRF_TOP} rank. At scale the rank
    windows run over the candidate list, not the corpus — the same
    contract as q_bm25_topdocs."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        toks.where(F.col("w").isin("table", "spark", "data"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.crossJoin(F.broadcast(n_docs))
        .groupBy("w", "n")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "w",
            F.expr(
                "CAST(floor(ln(CAST(n AS DOUBLE) / df) * 1000000)"
                " AS BIGINT)"
            ).alias("idf_fp"),
        )
    )
    scored = (
        tf.join(idf, "w")
        .groupBy("doc_id")
        .agg(
            F.sum("tf").cast("bigint").alias("s1"),
            F.expr("CAST(SUM(tf * idf_fp) AS BIGINT)").alias("s2"),
        )
    )
    ranked = scored.select(
        "doc_id",
        "s1",
        "s2",
        F.row_number().over(Window.orderBy(F.desc("s1"), "doc_id")).alias("r1"),
        F.row_number().over(Window.orderBy(F.desc("s2"), "doc_id")).alias("r2"),
    )
    fused = ranked.select(
        "doc_id",
        F.col("r1").cast("bigint").alias("r1"),
        F.col("r2").cast("bigint").alias("r2"),
        F.expr(
            f"CAST(floor((1.0 / ({_RRF_K} + r1) + 1.0 / ({_RRF_K} + r2))"
            " * 1000000000) AS BIGINT)"
        ).alias("rrf_nano"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number()
            .over(Window.orderBy(F.desc("rrf_nano"), "doc_id"))
            .cast("bigint"),
        )
        .where(F.col("fused_rank") <= _RRF_TOP)
        .orderBy("fused_rank")
    )


# ---------------------------------------------------------------------------
# Language-ID confusion matrix — the classifier-eval closing of the
# q_lang_id loop: heuristic bigram predictions vs the labeled lang
# column, full (actual, predicted) matrix with per-actual share in
# integer ppm. Docs with no profile hit fall to 'und'.
# ---------------------------------------------------------------------------

@query(
    "q_lang_confusion",
    f"""
    WITH {LANG_PROFILE_CTE.strip()},
    {_CHAR_GRAMS_SQL.strip().format(k=2, km2=0)},
    scores AS (
        SELECT g.doc_id, p.cand_lang, CAST(SUM(p.weight) AS BIGINT) AS score
        FROM grams g JOIN lang_profile p ON g.gram = p.gram
        GROUP BY g.doc_id, p.cand_lang),
    pred AS (
        SELECT doc_id, cand_lang AS pred_lang
        FROM (SELECT doc_id, cand_lang,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, cand_lang)
                         AS rk
              FROM scores) WHERE rk = 1),
    cm AS (
        SELECT d.lang, COALESCE(p.pred_lang, 'und') AS pred_lang,
               COUNT(*) AS n
        FROM documents d LEFT JOIN pred p ON d.doc_id = p.doc_id
        GROUP BY d.lang, COALESCE(p.pred_lang, 'und'))
    SELECT lang, pred_lang, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY lang) AS BIGINT)
               AS share_ppm
    FROM cm ORDER BY lang, pred_lang
    """,
)
def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the bigram lang-ID heuristic against the
    labeled lang column: predictions from the shared
    lang_scores→predict_lang pipeline (profile-join, argmax with
    alphabetical tie-break), LEFT JOIN back to documents so no-hit
    docs surface as 'und', one rollup to the (actual, predicted)
    matrix plus per-actual row shares in ppm (DIV). The matrix is at
    most |langs|² rows — every window runs post-agg."""
    docs = table(spark, sf_dir, "documents")
    pred = predict_lang(lang_scores(docs)).select("doc_id", "pred_lang")
    cm = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id", "left")
        .select(
            "lang",
            F.coalesce(F.col("pred_lang"), F.lit("und")).alias("pred_lang"),
        )
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return cm.select(
        "lang",
        "pred_lang",
        F.col("n").cast("bigint").alias("n"),
        F.expr(
            "CAST(n * 1000000 DIV SUM(n) OVER (PARTITION BY lang)"
            " AS BIGINT)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# Source vocabulary Jaccard matrix — which sources share wording?
# Exact |A∩B|/|A∪B| over per-source vocabularies via a term-keyed
# self-join (each term meets only the sources containing it — never a
# source × source × corpus expansion), shares in integer ppm.
# The pairwise companion of q_js_divergence_sources.
# ---------------------------------------------------------------------------

@query(
    "q_source_vocab_jaccard",
    f"""
    WITH sv AS (
        SELECT DISTINCT source, w FROM (
            SELECT source, UNNEST({_TOKS_SQL}) AS w FROM documents)),
    sizes AS (
        SELECT source, COUNT(*) AS v FROM sv GROUP BY source),
    inter AS (
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_inter
        FROM sv a JOIN sv b ON a.w = b.w AND a.source < b.source
        GROUP BY a.source, b.source)
    SELECT i.source_a, i.source_b,
           CAST(i.n_inter AS BIGINT) AS n_inter,
           CAST(sa.v + sb.v - i.n_inter AS BIGINT) AS n_union,
           CAST(i.n_inter * 1000000 // (sa.v + sb.v - i.n_inter)
                AS BIGINT) AS jaccard_ppm
    FROM inter i
    JOIN sizes sa ON i.source_a = sa.source
    JOIN sizes sb ON i.source_b = sb.source
    ORDER BY source_a, source_b
    """,
)
def q_source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources: distinct
    (source, term) pairs once, intersection counts from a term-keyed
    self-join (per-term fan-out is bounded by the source count, so
    the join never goes quadratic in the corpus), union by
    inclusion-exclusion from broadcast per-source vocab sizes,
    similarity in integer ppm. High off-diagonal values flag shared
    templates/mirrors between sources before near-dup dedup runs."""
    docs = table(spark, sf_dir, "documents")
    sv = docs.select(
        "source", F.explode(F.expr(_TOKS)).alias("w")
    ).distinct()
    sizes = sv.groupBy("source").agg(F.count(F.lit(1)).alias("v"))
    a = sv.select(F.col("source").alias("source_a"), "w")
    b = sv.select(F.col("source").alias("source_b"), "w")
    inter = (
        a.join(b, "w")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("v").alias("va"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("v").alias("vb"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_inter").cast("bigint").alias("n_inter"),
            F.expr("CAST(va + vb - n_inter AS BIGINT)").alias("n_union"),
            F.expr(
                "CAST(n_inter * 1000000 DIV (va + vb - n_inter)"
                " AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Bigram-LM perplexity filter — the conditional upgrade of
# q_unigram_perplexity: add-one-smoothed P(w2|w1) trained on the
# corpus itself, per-document cross-entropy over its bigram stream,
# worst 20 surfaced. Catches shuffled/concatenated text that unigram
# frequencies score as normal.
# ---------------------------------------------------------------------------

_BLM_TOP = 20


@query(
    "q_bigram_perplexity",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    bigrams AS (
        SELECT doc_id,
               UNNEST(list_transform(range(1, len(ts)),
                      i -> ts[i] || ' ' || ts[i + 1])) AS bg
        FROM toks WHERE len(ts) >= 2),
    uni AS (
        SELECT w1, COUNT(*) AS c1 FROM (
            SELECT doc_id, UNNEST(ts) AS w1 FROM toks) GROUP BY w1),
    vsize AS (SELECT COUNT(*) AS v FROM uni),
    bg_counts AS (
        SELECT bg, COUNT(*) AS c12 FROM bigrams GROUP BY bg),
    scored AS (
        SELECT b.doc_id,
               ln(CAST(bc.c12 + 1 AS DOUBLE)
                  / (u.c1 + vs.v)) AS lnp
        FROM bigrams b
        JOIN bg_counts bc ON b.bg = bc.bg
        JOIN uni u ON split_part(b.bg, ' ', 1) = u.w1
        CROSS JOIN vsize vs),
    per_doc AS (
        SELECT doc_id, COUNT(*) AS n_bigrams,
               CAST(SUM(CAST(lnp AS DECIMAL(20,10))) AS DOUBLE) AS s
        FROM scored GROUP BY doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           -s / n_bigrams AS cross_entropy
    FROM per_doc
    ORDER BY cross_entropy DESC, doc_id LIMIT {_BLM_TOP}
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_BLM_TOP} documents by bigram-LM cross-entropy: bigrams
    built row-locally from the token array (one flatMap, no
    positional self-join), counts trained on the corpus itself,
    add-one smoothing over the unigram vocabulary V, per-token
    ln P(w2|w1) = ln((c12+1)/(c1+V)) — exact-operand division then
    ln, both bit-stable cross-engine — and the per-doc sum routed
    through DECIMAL(20,10) so partial-aggregation order cannot
    drift. At scale the bigram and unigram count joins shuffle on
    their natural keys with map-side partials; nothing is
    broadcast-unbounded."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS).alias("ts"))
    bigrams = toks.where(F.expr("size(ts) >= 2")).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2),"
                " i -> concat(ts[i], ' ', ts[i + 1]))"
            )
        ).alias("bg"),
    )
    uni = (
        toks.select(F.explode("ts").alias("w1"))
        .groupBy("w1")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    vsize = uni.agg(F.count(F.lit(1)).alias("v"))
    bg_counts = bigrams.groupBy("bg").agg(F.count(F.lit(1)).alias("c12"))
    scored = (
        bigrams.join(bg_counts, "bg")
        .join(
            uni,
            F.expr("split_part(bg, ' ', 1)") == F.col("w1"),
        )
        .crossJoin(F.broadcast(vsize))
        .select(
            "doc_id",
            F.expr(
                "ln(CAST(c12 + 1 AS DOUBLE) / (c1 + v))"
            ).alias("lnp"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("CAST(SUM(CAST(lnp AS DECIMAL(20,10))) AS DOUBLE)").alias(
            "s"
        ),
    )
    return (
        per_doc.select(
            "doc_id",
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.expr("-s / n_bigrams").alias("cross_entropy"),
        )
        .orderBy(F.desc("cross_entropy"), "doc_id")
        .limit(_BLM_TOP)
    )


# ---------------------------------------------------------------------------
# Head-coverage N50 — per source, how few documents carry half the
# character mass? The assembly-stats N50 applied to corpus curation:
# a tiny N50 means a handful of giant documents dominate the source.
# Ranked cumulative windows run per source partition.
# ---------------------------------------------------------------------------

@query(
    "q_head_coverage",
    """
    WITH ranked AS (
        SELECT source, n_chars,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS rk,
               SUM(n_chars) OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id) AS cum,
               SUM(n_chars) OVER (PARTITION BY source) AS total,
               COUNT(*) OVER (PARTITION BY source) AS n_docs
        FROM documents)
    SELECT source,
           CAST(MIN(n_docs) AS BIGINT) AS n_docs,
           CAST(MIN(total) AS BIGINT) AS total_chars,
           CAST(MIN(CASE WHEN cum * 2 >= total THEN rk END) AS BIGINT)
               AS n50_docs,
           CAST(MIN(CASE WHEN cum * 2 >= total THEN rk END) * 1000000
                // MIN(n_docs) AS BIGINT) AS n50_share_ppm
    FROM ranked GROUP BY source ORDER BY source
    """,
)
def q_head_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N50 per source: rank docs by size (deterministic tie-break),
    cumulative character mass per source partition, and the first
    rank whose cumulative doubles past the total — plus that rank as
    a ppm share of the source's docs. Partitioned windows only (per-
    source, never global); at 100 TB each source's window sorts its
    own shard. Low n50_share_ppm = head-heavy source that will
    dominate any naive token budget."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), "doc_id")
    wp = Window.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(w).alias("rk"),
        F.sum("n_chars").over(w).alias("cum"),
        F.sum("n_chars").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("n_docs"),
    )
    return (
        ranked.groupBy("source")
        .agg(
            F.min("n_docs").cast("bigint").alias("n_docs"),
            F.min("total").cast("bigint").alias("total_chars"),
            F.expr(
                "CAST(MIN(CASE WHEN cum * 2 >= total THEN rk END)"
                " AS BIGINT)"
            ).alias("n50_docs"),
            F.expr(
                "CAST(MIN(CASE WHEN cum * 2 >= total THEN rk END)"
                " * 1000000 DIV MIN(n_docs) AS BIGINT)"
            ).alias("n50_share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction — stopword-delimited candidate phrases,
# word degree/frequency statistics over the whole corpus, phrase
# score = sum(deg(w)/freq(w)) in integer milli units (DIV per term,
# identical truncation both engines). The unsupervised keyphrase
# extractor (Rose et al. 2010) as two rollups and a join — no NLP
# runtime anywhere.
# ---------------------------------------------------------------------------

_RAKE_TOP = 15

# stopword-delimited phrase list, space-normalized — shared stopword
# set with token_stats (_STOPWORDS)
_RAKE_PHRASES = (
    "filter(transform(split(regexp_replace(lower(text),"
    " '\\\\b(the|a|of|and|in)\\\\b', '|'), '[|]'),"
    " p -> trim(regexp_replace(regexp_replace(p, '[^a-z0-9 ]', ' '),"
    " ' +', ' '))), p -> p != '')"
)
_RAKE_PHRASES_SQL = (
    "list_filter(list_transform(string_split_regex("
    "regexp_replace(lower(text), '\\b(the|a|of|and|in)\\b', '|', 'g'),"
    " '[|]'), p -> trim(regexp_replace(regexp_replace(p,"
    " '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))), p -> p <> '')"
)


@query(
    "q_rake_keywords",
    f"""
    WITH phrases AS (
        SELECT UNNEST({_RAKE_PHRASES_SQL}) AS phrase FROM documents),
    pw AS (
        SELECT phrase, UNNEST(string_split(phrase, ' ')) AS w,
               len(string_split(phrase, ' ')) AS plen
        FROM phrases),
    stats AS (
        SELECT w, COUNT(*) AS freq, CAST(SUM(plen) AS BIGINT) AS deg
        FROM pw GROUP BY w),
    distinct_p AS (
        SELECT phrase, COUNT(*) AS n_occ FROM phrases GROUP BY phrase),
    scored AS (
        SELECT d.phrase, d.n_occ,
               CAST(SUM(s.deg * 1000 // s.freq) AS BIGINT) AS score_milli
        FROM (SELECT phrase, UNNEST(string_split(phrase, ' ')) AS w
              FROM distinct_p) t
        JOIN distinct_p d ON t.phrase = d.phrase
        JOIN stats s ON t.w = s.w
        GROUP BY d.phrase, d.n_occ)
    SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ, score_milli
    FROM scored
    ORDER BY score_milli DESC, phrase LIMIT {_RAKE_TOP}
    """,
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{_RAKE_TOP} RAKE keyphrases: candidate phrases are the
    stopword/punctuation-delimited runs (row-local regex split, no
    NLP library), word degree = sum of host-phrase lengths and word
    frequency come from one rollup, and each distinct phrase scores
    sum(deg·1000 DIV freq) through a word-keyed join. Longer
    multi-word phrases win by construction — the RAKE property. At
    100 TB the word-stats table is vocabulary-sized (Heaps-law
    growth, NOT bounded) — the join is threshold-elected, never
    hint-forced (r10 sweep completion);
    phrases never pairwise-join."""
    docs = table(spark, sf_dir, "documents")
    phrases = docs.select(
        F.explode(F.expr(_RAKE_PHRASES)).alias("phrase")
    )
    pw = phrases.select(
        "phrase",
        F.explode(F.split("phrase", " ")).alias("w"),
        F.size(F.split("phrase", " ")).alias("plen"),
    )
    stats = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    distinct_p = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).alias("n_occ")
    )
    scored = (
        distinct_p.select(
            "phrase",
            "n_occ",
            F.explode(F.split("phrase", " ")).alias("w"),
        )
        .join(stats, "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.expr("CAST(SUM(deg * 1000 DIV freq) AS BIGINT)").alias(
                "score_milli"
            )
        )
    )
    return (
        scored.select(
            "phrase",
            F.col("n_occ").cast("bigint").alias("n_occ"),
            "score_milli",
        )
        .orderBy(F.desc("score_milli"), "phrase")
        .limit(_RAKE_TOP)
    )


# ---------------------------------------------------------------------------
# Batch multi-query retrieval — score MANY queries in one plan: a
# broadcast (qid, term) query table joins the postings once, per-
# (qid, doc) integer tf·idf scores, top-3 per query from a qid-
# partitioned window. The multi-tenant serving shape: query count
# scales the broadcast, never the corpus scans.
# ---------------------------------------------------------------------------

_BATCHQ = [
    (1, "table"), (1, "spark"),
    (2, "data"), (2, "query"),
    (3, "join"), (3, "group"),
]
_BATCHQ_SQL = ", ".join(f"({q}, '{t}')" for q, t in _BATCHQ)


@query(
    "q_batch_retrieval",
    f"""
    WITH qt AS (
        SELECT * FROM (VALUES {_BATCHQ_SQL}) AS v(qid, term)),
    toks AS (
        SELECT doc_id, UNNEST({{toks}}) AS w FROM documents),
    n_docs AS (SELECT COUNT(*) AS n FROM documents),
    tf AS (
        SELECT t.doc_id, t.w, COUNT(*) AS tf
        FROM toks t JOIN (SELECT DISTINCT term FROM qt) q ON t.w = q.term
        GROUP BY t.doc_id, t.w),
    idf AS (
        SELECT w, CAST(floor(ln(CAST(n.n AS DOUBLE)
                                / COUNT(DISTINCT doc_id)) * 1000000)
                       AS BIGINT) AS idf_fp
        FROM tf CROSS JOIN n_docs n GROUP BY w, n.n),
    scored AS (
        SELECT q.qid, t.doc_id,
               CAST(SUM(t.tf * i.idf_fp) AS BIGINT) AS score_fp,
               COUNT(*) AS n_terms_hit
        FROM tf t JOIN idf i ON t.w = i.w JOIN qt q ON t.w = q.term
        GROUP BY q.qid, t.doc_id)
    SELECT CAST(qid AS INT) AS qid, doc_id,
           CAST(n_terms_hit AS BIGINT) AS n_terms_hit, score_fp,
           CAST(rk AS INT) AS rk
    FROM (SELECT qid, doc_id, n_terms_hit, score_fp,
                 ROW_NUMBER() OVER (PARTITION BY qid
                                    ORDER BY score_fp DESC, doc_id) AS rk
          FROM scored)
    WHERE rk <= 3 ORDER BY qid, rk
    """.replace("{toks}", _TOKS_SQL),
)
def q_batch_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three queries scored in ONE pass: the (qid, term) table is a
    plan-time broadcast literal, postings are filtered to the union
    of all query terms before any aggregation, scores are integer
    tf·idf_fp (the q_rrf_fusion fixed-point idf), and each query's
    top-3 comes from a qid-partitioned window — never a global sort.
    Adding the 4th..1000th query changes only the broadcast; the
    corpus is still scanned once. The batch-serving counterpart of
    the single-probe q_bm25_topdocs."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    qt = docs.sparkSession.createDataFrame(
        _BATCHQ, "qid int, term string"
    )
    terms = sorted({t for _, t in _BATCHQ})
    toks = docs.select("doc_id", F.explode(F.expr(_TOKS)).alias("w"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    tf = (
        toks.where(F.col("w").isin(*terms))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    idf = (
        tf.crossJoin(F.broadcast(n_docs))
        .groupBy("w", "n")
        .agg(F.countDistinct("doc_id").alias("df"))
        .select(
            "w",
            F.expr(
                "CAST(floor(ln(CAST(n AS DOUBLE) / df) * 1000000)"
                " AS BIGINT)"
            ).alias("idf_fp"),
        )
    )
    scored = (
        tf.join(idf, "w")
        .join(F.broadcast(qt), F.col("w") == F.col("term"))
        .groupBy("qid", "doc_id")
        .agg(
            F.expr("CAST(SUM(tf * idf_fp) AS BIGINT)").alias("score_fp"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.desc("score_fp"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("qid").cast("int").alias("qid"),
            "doc_id",
            F.col("n_terms_hit").cast("bigint").alias("n_terms_hit"),
            "score_fp",
            F.col("rk").cast("int").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language — subwords per word, the number
# that decides how much compute each language really costs: a lang
# with fertility 2.1 burns 2.1x the sequence length per word of a
# fertility-1.0 lang, and equal-token mixtures must correct for it.
# Reuses token_stats' BPE-ish ceil(len/4) subword estimate.
# ---------------------------------------------------------------------------

@query(
    "q_tokenizer_fertility",
    f"""
    WITH per_doc AS (
        SELECT lang,
               len(string_split(text, ' ')) AS n_words,
               CAST(list_sum(list_transform(string_split(text, ' '),
                    w -> CAST(ceil(length(w) / {_BPE_CHUNK}.0) AS BIGINT)))
                    AS BIGINT) AS n_sub
        FROM documents)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           CAST(SUM(n_sub) * 1000000 // SUM(n_words) AS BIGINT)
               AS fertility_ppm
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword fertility per language: corpus-level subwords/words in
    integer ppm from the shared ceil(len/{_BPE_CHUNK}) BPE-ish
    estimator (token_stats). One row-local pass + one rollup. The
    correction factor equal-token mixture budgeting
    (q_mixture_resample / q_temperature_mixture) should divide by —
    high-fertility languages get fewer WORDS per token of budget."""
    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.expr("size(split(text, ' '))").alias("n_words"),
        F.expr(
            f"CAST(aggregate(split(text, ' '), CAST(0 AS BIGINT),"
            f" (acc, w) -> acc + CAST(ceil(length(w) / {_BPE_CHUNK}.0)"
            f" AS BIGINT)) AS BIGINT)"
        ).alias("n_sub"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
            F.expr(
                "CAST(SUM(n_sub) * 1000000 DIV SUM(n_words) AS BIGINT)"
            ).alias("fertility_ppm"),
        )
        .transform(sort_bounded, "lang")
    )


# ---------------------------------------------------------------------------
# Span-corruption plan (T5-style) — deterministic 15% span masking
# over each doc's token stream: block-aligned spans (~3 tokens) drawn
# from a seeded hash, with per-doc mask/span counts. The denoising-
# objective sampler as a row-local plan: no RNG state, re-runnable,
# auditable before any sequence pair is materialized.
# ---------------------------------------------------------------------------

_SPAN_BLOCK = 3    # tokens per maskable block
_SPAN_PCT = 15     # percent of blocks masked


def _span_mask(doc: str, i: str) -> str:
    """Shared Spark-side mask predicate for block i of doc."""
    return (
        f"CAST(conv(substr(md5(concat(CAST({doc} AS STRING), '|',"
        f" CAST({i} DIV {_SPAN_BLOCK} AS STRING))), 1, 8), 16, 10)"
        f" AS BIGINT) % 100 < {_SPAN_PCT}"
    )


@query(
    "q_span_corruption_plan",
    f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS_SQL} AS ts FROM documents),
    planned AS (
        SELECT doc_id, len(ts) AS n_tokens,
               len(list_filter(range(0, len(ts)), i ->
                   (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
                      CAST(i // {_SPAN_BLOCK} AS VARCHAR)), 1, 8))::BIGINT)
                   % 100 < {_SPAN_PCT})) AS n_masked,
               len(list_filter(range(0, len(ts)), i ->
                   ((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
                      CAST(i // {_SPAN_BLOCK} AS VARCHAR)), 1, 8))::BIGINT)
                    % 100 < {_SPAN_PCT})
                   AND (i % {_SPAN_BLOCK} = 0 OR i = 0))) AS n_spans
        FROM toks WHERE len(ts) > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_masked) AS BIGINT) AS n_masked,
           CAST(SUM(n_spans) AS BIGINT) AS n_spans,
           CAST(SUM(n_masked) * 1000000 // SUM(n_tokens) AS BIGINT)
               AS masked_ppm
    FROM planned
    """,
)
def q_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style denoising plan: each ~{_SPAN_BLOCK}-token block masks
    iff a seeded hash of (doc_id, block) lands under {_SPAN_PCT}% —
    append-stable, engine-independent, no RNG. Reports corpus totals
    and the realized mask rate in ppm (should sit near
    {_SPAN_PCT}0000); span starts are block boundaries inside masked
    blocks. Everything is row-local HOFs over the token array — the
    expensive step (emitting input/target pairs) consumes exactly
    this plan, so auditing it first is free."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.expr(_TOKS).alias("ts"))
    mask = _span_mask("doc_id", "i")
    planned = toks.where(F.expr("size(ts) > 0")).select(
        "doc_id",
        F.expr("size(ts)").alias("n_tokens"),
        F.expr(
            f"size(filter(sequence(0, size(ts) - 1), i -> {mask}))"
        ).alias("n_masked"),
        F.expr(
            f"size(filter(sequence(0, size(ts) - 1), i -> ({mask})"
            f" AND (i % {_SPAN_BLOCK} = 0 OR i = 0)))"
        ).alias("n_spans"),
    )
    return planned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_masked").cast("bigint").alias("n_masked"),
        F.sum("n_spans").cast("bigint").alias("n_spans"),
        F.expr(
            "CAST(SUM(n_masked) * 1000000 DIV SUM(n_tokens) AS BIGINT)"
        ).alias("masked_ppm"),
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling — Data Selection via Importance
# Resampling (Xie et al. 2023): score every candidate document by
# the log-likelihood ratio of a hashed-unigram model trained on a
# target domain vs the raw pool, then keep the top of the ranking.
# The hashed feature space (1024 md5 buckets) is what makes this the
# 100 TB shape: the model is a fixed-size broadcast table no matter
# how large the corpus grows.
# ---------------------------------------------------------------------------

_DSIR_B = 1024
_DSIR_TOPK = 25


@query(
    "q_dsir_resample",
    f"""
    WITH toks AS (
        SELECT doc_id, source,
               (('0x' || substr(md5('dsir|' || w), 1, 8))::BIGINT)
                   % {_DSIR_B} AS b
        FROM (SELECT doc_id, source, unnest({_TOKS_SQL}) AS w
              FROM documents)),
    raw AS (
        SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
    tgt AS (
        SELECT b, COUNT(*) AS ct FROM toks
        WHERE source = 'src0' GROUP BY b),
    tot AS (
        SELECT (SELECT COUNT(*) FROM toks) AS nr,
               (SELECT COUNT(*) FROM toks WHERE source = 'src0') AS nt),
    model AS (
        SELECT r.b,
               CAST(floor((ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE))
                           - ln(CAST(nt + {_DSIR_B} AS DOUBLE))
                           - ln(CAST(r.cr + 1 AS DOUBLE))
                           + ln(CAST(nr + {_DSIR_B} AS DOUBLE)))
                          * 1000000) AS BIGINT) AS lr_fix
        FROM raw r LEFT JOIN tgt t ON r.b = t.b, tot),
    scored AS (
        SELECT k.doc_id, k.source, COUNT(*) AS n_tokens,
               SUM(m.lr_fix) AS llr_fix
        FROM toks k JOIN model m ON k.b = m.b
        WHERE k.source <> 'src0'
        GROUP BY k.doc_id, k.source)
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(llr_fix AS BIGINT) AS llr_fix,
           CAST(floor(CAST(llr_fix AS DOUBLE) / n_tokens) AS BIGINT)
               AS llr_per_tok_micro
    FROM scored
    ORDER BY CAST(llr_fix AS DOUBLE) / n_tokens DESC, doc_id
    LIMIT {_DSIR_TOPK}
    """,
)
def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: add-one-smoothed hashed-unigram LMs for
    the target domain (source 'src0') and the raw pool, per-bucket
    log ratios floored to micro-nat fixed point (order-safe integer
    sums from there on), candidates ranked by per-token LLR (one
    exact-operand division — cross-engine stable) with doc_id
    tie-break, top-25 kept. 100 TB: token counts roll up into a
    1024-row model that broadcasts; no shuffle is wider than the
    doc-grain rollup."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "source",
        F.explode(F.expr(_TOKS)).alias("w"),
    ).select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(conv(substr(md5(concat('dsir|', w)), 1, 8), 16, 10)"
            f" AS BIGINT) % {_DSIR_B}"
        ).alias("b"),
    ).localCheckpoint(eager=True)
    raw = toks.groupBy("b").agg(F.count(F.lit(1)).alias("cr"))
    tgt = (
        toks.where(F.col("source") == "src0")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    tot = toks.agg(
        F.count(F.lit(1)).alias("nr"),
        F.expr(
            "SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)"
        ).alias("nt"),
    )
    model = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.expr(
                f"CAST(floor((ln(CAST(COALESCE(ct, CAST(0 AS BIGINT))"
                f" + 1 AS DOUBLE))"
                f" - ln(CAST(nt + {_DSIR_B} AS DOUBLE))"
                f" - ln(CAST(cr + 1 AS DOUBLE))"
                f" + ln(CAST(nr + {_DSIR_B} AS DOUBLE)))"
                f" * 1000000) AS BIGINT)"
            ).alias("lr_fix"),
        )
    )
    scored = (
        toks.where(F.col("source") != "src0")
        .join(F.broadcast(model), "b")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_fix").alias("llr_fix"),
        )
    )
    return (
        scored.select(
            "doc_id",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.col("llr_fix").cast("bigint").alias("llr_fix"),
            F.expr(
                "CAST(floor(CAST(llr_fix AS DOUBLE) / n_tokens)"
                " AS BIGINT)"
            ).alias("llr_per_tok_micro"),
        )
        .orderBy(
            F.expr("CAST(llr_fix AS DOUBLE) / n_tokens").desc(),
            "doc_id",
        )
        .limit(_DSIR_TOPK)
    )


# ---------------------------------------------------------------------------
# Curriculum plan — stage training data easy→hard: score every doc
# (type-token ratio as the difficulty proxy), rank, and cut into
# three phases of equal TOKEN budget (not doc count — budgets are
# what the trainer consumes). Cumulative-sum windows over the
# doc-grain rollup; cuts are exact integer comparisons cum·3 vs T.
# ---------------------------------------------------------------------------

@query(
    "q_curriculum_plan",
    f"""
    WITH scored AS (
        SELECT doc_id,
               len({_TOKS_SQL}) AS n_tokens,
               len(list_distinct({_TOKS_SQL})) * 1000000
                   // len({_TOKS_SQL}) AS ttr_ppm
        FROM documents
        WHERE len({_TOKS_SQL}) > 0),
    ranked AS (
        SELECT doc_id, n_tokens, ttr_ppm,
               SUM(n_tokens) OVER (ORDER BY ttr_ppm, doc_id) AS cum,
               SUM(n_tokens) OVER () AS t
        FROM scored),
    phased AS (
        SELECT CASE WHEN cum * 3 <= t THEN 1
                    WHEN cum * 3 <= 2 * t THEN 2
                    ELSE 3 END AS phase,
               n_tokens, ttr_ppm
        FROM ranked)
    SELECT CAST(phase AS INT) AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens,
           CAST(MIN(ttr_ppm) AS BIGINT) AS min_ttr_ppm,
           CAST(MAX(ttr_ppm) AS BIGINT) AS max_ttr_ppm,
           CAST(SUM(ttr_ppm) // COUNT(*) AS BIGINT) AS avg_ttr_ppm
    FROM phased GROUP BY phase ORDER BY phase
    """,
)
def q_curriculum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Easy→hard curriculum over the corpus: type-token ratio in ppm
    (low TTR = repetitive = easy) orders the docs, a running token
    cumsum cuts three phases of equal token budget via the exact
    integer test cum·3 ≤ T. Each phase row reports its doc count,
    token mass, and TTR envelope — the manifest a staged training
    run consumes. 100 TB: scoring is row-local array algebra; the
    running cumsum is the TWO-PASS prefix-sum form (r7 — previously
    only documented): range-repartition the doc-grain rollup on
    (ttr_ppm, doc_id), cumulate within each partition, add broadcast
    per-partition offsets (q_global_rownum idiom), and the corpus
    token total is a broadcast scalar instead of a partition-less
    SUM() OVER () window."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.expr(f"size({_TOKS})").alias("n_tokens"),
        F.expr(
            f"size(array_distinct({_TOKS})) * 1000000"
            f" DIV size({_TOKS})"
        ).alias("ttr_ppm"),
    ).where(F.col("n_tokens") > 0)
    tot = scored.agg(F.sum("n_tokens").alias("t"))
    parted = scored.repartitionByRange(
        range_parts(scored), "ttr_ppm", "doc_id"
    ).withColumn(
        "_pid", F.spark_partition_id()
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(F.sum("n_tokens").alias("_n"))
        .select(
            "_pid",
            F.expr(
                "COALESCE(SUM(_n) OVER (ORDER BY _pid ROWS BETWEEN"
                " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
            ).alias("_off"),
        )
    )
    w_local = Window.partitionBy("_pid").orderBy("ttr_ppm", "doc_id")
    ranked = (
        parted.withColumn("_c", F.sum("n_tokens").over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            "ttr_ppm",
            (F.col("_c") + F.col("_off")).alias("cum"),
            "t",
        )
    )
    phased = ranked.select(
        F.expr(
            "CASE WHEN cum * 3 <= t THEN 1"
            " WHEN cum * 3 <= 2 * t THEN 2 ELSE 3 END"
        ).alias("phase"),
        "n_tokens",
        "ttr_ppm",
    )
    return (
        phased.groupBy("phase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("tokens"),
            F.min("ttr_ppm").cast("bigint").alias("min_ttr_ppm"),
            F.max("ttr_ppm").cast("bigint").alias("max_ttr_ppm"),
            F.expr(
                "CAST(SUM(ttr_ppm) DIV COUNT(*) AS BIGINT)"
            ).alias("avg_ttr_ppm"),
        )
        .select(
            F.col("phase").cast("int").alias("phase"),
            "n_docs",
            "tokens",
            "min_ttr_ppm",
            "max_ttr_ppm",
            "avg_ttr_ppm",
        )
    )


# ---------------------------------------------------------------------------
# McNemar paired filter comparison — do two quality filters disagree
# more than chance? The right test when both filters judge the SAME
# documents (a two-proportion z on the marginals is wrong there);
# only the discordant cells carry information. All-integer chi².
# ---------------------------------------------------------------------------

@query(
    "q_mcnemar_filters",
    f"""
    WITH flags AS (
        SELECT CASE WHEN len({_TOKS_SQL}) >= 30 THEN 1 ELSE 0 END
                   AS f_len,
               CASE WHEN len(list_distinct({_TOKS_SQL})) * 1000000
                         >= 500000 * len({_TOKS_SQL})
                    THEN 1 ELSE 0 END AS f_ttr
        FROM documents
        WHERE len({_TOKS_SQL}) > 0),
    cells AS (
        SELECT COUNT(*) AS n,
               SUM(f_len * f_ttr) AS both_pass,
               SUM(f_len * (1 - f_ttr)) AS only_len,
               SUM((1 - f_len) * f_ttr) AS only_ttr,
               SUM((1 - f_len) * (1 - f_ttr)) AS neither
        FROM flags)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(both_pass AS BIGINT) AS both_pass,
           CAST(only_len AS BIGINT) AS only_len,
           CAST(only_ttr AS BIGINT) AS only_ttr,
           CAST(neither AS BIGINT) AS neither,
           CAST((only_len - only_ttr) * (only_len - only_ttr) * 1000
                // (only_len + only_ttr) AS BIGINT) AS chi2_milli,
           CAST((abs(only_len - only_ttr) - 1)
                * (abs(only_len - only_ttr) - 1) * 1000
                // (only_len + only_ttr) AS BIGINT) AS chi2_cc_milli
    FROM cells
    """,
)
def q_mcnemar_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test between a length filter (>= 30 tokens) and a
    lexical-diversity filter (TTR >= 0.5, evaluated as the integer
    cross-multiplication distinct·1e6 >= 0.5e6·total — no division
    at all) over the same documents. chi² = (b−c)²/(b+c) and its
    continuity-corrected form are pure-integer milli values. The
    discordant cells also tell you WHICH filter is stricter, not
    just that they differ. 100 TB: row-local flags, one 1-row
    rollup — embarrassingly map-side."""
    docs = table(spark, sf_dir, "documents")
    flags = docs.select(
        F.expr(
            f"CASE WHEN size({_TOKS}) >= 30 THEN 1 ELSE 0 END"
        ).alias("f_len"),
        F.expr(
            f"CASE WHEN size(array_distinct({_TOKS})) * 1000000"
            f" >= 500000 * size({_TOKS}) THEN 1 ELSE 0 END"
        ).alias("f_ttr"),
    ).where(F.expr(f"size({_TOKS}) > 0"))
    cells = flags.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("SUM(f_len * f_ttr)").alias("both_pass"),
        F.expr("SUM(f_len * (1 - f_ttr))").alias("only_len"),
        F.expr("SUM((1 - f_len) * f_ttr)").alias("only_ttr"),
        F.expr("SUM((1 - f_len) * (1 - f_ttr))").alias("neither"),
    )
    return cells.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("both_pass").cast("bigint").alias("both_pass"),
        F.col("only_len").cast("bigint").alias("only_len"),
        F.col("only_ttr").cast("bigint").alias("only_ttr"),
        F.col("neither").cast("bigint").alias("neither"),
        F.expr(
            "CAST((only_len - only_ttr) * (only_len - only_ttr) * 1000"
            " DIV (only_len + only_ttr) AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST((abs(only_len - only_ttr) - 1)"
            " * (abs(only_len - only_ttr) - 1) * 1000"
            " DIV (only_len + only_ttr) AS BIGINT)"
        ).alias("chi2_cc_milli"),
    )


# ---------------------------------------------------------------------------
# Burrows' Delta — computational stylometry's standard authorship
# distance: per-source relative frequencies of the corpus's top-30
# words, standardized per word across sources, pairwise mean
# absolute difference. The classic "same author/pipeline?" signal —
# here it answers "which sources share a generator".
# ---------------------------------------------------------------------------

_BD_TOPW = 30
_BD_TOPPAIRS = 10


@query(
    "q_burrows_delta",
    f"""
    WITH toks AS (
        SELECT source, unnest({_TOKS_SQL}) AS w FROM documents),
    topw AS (
        SELECT w FROM toks GROUP BY w
        ORDER BY COUNT(*) DESC, w LIMIT {_BD_TOPW}),
    src_tot AS (
        SELECT source, COUNT(*) AS nt FROM toks GROUP BY source),
    freq AS (
        SELECT s.source, t.w,
               COALESCE(cnt.c, 0) * 1000000 // s.nt AS f_ppm
        FROM src_tot s
        CROSS JOIN topw t
        LEFT JOIN (SELECT source, w, COUNT(*) AS c FROM toks
                   JOIN topw USING (w) GROUP BY source, w) cnt
             ON cnt.source = s.source AND cnt.w = t.w),
    stats AS (
        SELECT w, COUNT(*) AS ns, SUM(f_ppm) AS s1,
               SUM(f_ppm * f_ppm) AS s2
        FROM freq GROUP BY w),
    pairs AS (
        SELECT a.source AS src_a, b.source AS src_b, a.w,
               CAST(floor(abs(a.f_ppm - b.f_ppm)
                    / sqrt((CAST(st.s2 AS DOUBLE)
                            - CAST(st.s1 AS DOUBLE) / st.ns * st.s1)
                           / (st.ns - 1)) * 1000) AS BIGINT) AS t
        FROM freq a JOIN freq b ON a.w = b.w AND a.source < b.source
        JOIN stats st ON st.w = a.w),
    delta AS (
        SELECT src_a, src_b,
               SUM(t) // COUNT(*) AS delta_milli
        FROM pairs GROUP BY src_a, src_b)
    SELECT src_a, src_b, CAST(delta_milli AS BIGINT) AS delta_milli
    FROM delta
    ORDER BY delta_milli, src_a, src_b
    LIMIT {_BD_TOPPAIRS}
    """,
)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta over the 20 sources: top-30 corpus words
    (TakeOrdered), dense per-source frequency matrix in integer ppm
    (the source×word spine is a broadcast nested loop over 20×30 —
    never a shuffled cartesian), per-word cross-source sd from exact
    moments, pairwise |Δf|/sd terms floored to milli before the
    integer mean. Ten closest pairs emitted — at 100 TB the
    pairwise stage is still sources² × 30 rows, independent of
    corpus size."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.expr(_TOKS)).alias("w")
    ).localCheckpoint(eager=True)
    topw = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(_BD_TOPW)
        .select("w")
    )
    src_tot = toks.groupBy("source").agg(F.count(F.lit(1)).alias("nt"))
    cnt = (
        toks.join(F.broadcast(topw), "w")
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    freq = (
        src_tot.crossJoin(F.broadcast(topw))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "w",
            F.expr(
                "COALESCE(c, CAST(0 AS BIGINT)) * 1000000 DIV nt"
            ).alias("f_ppm"),
        )
    )
    stats = freq.groupBy("w").agg(
        F.count(F.lit(1)).alias("ns"),
        F.sum("f_ppm").alias("s1"),
        F.expr("SUM(f_ppm * f_ppm)").alias("s2"),
    )
    a = freq.select(
        F.col("source").alias("src_a"), "w", F.col("f_ppm").alias("fa")
    )
    b = freq.select(
        F.col("source").alias("src_b"), "w", F.col("f_ppm").alias("fb")
    )
    pairs = (
        a.join(b, "w")
        .where(F.col("src_a") < F.col("src_b"))
        .join(F.broadcast(stats), "w")
        .select(
            "src_a",
            "src_b",
            F.expr(
                "CAST(floor(abs(fa - fb)"
                " / sqrt((CAST(s2 AS DOUBLE)"
                " - CAST(s1 AS DOUBLE) / ns * s1) / (ns - 1))"
                " * 1000) AS BIGINT)"
            ).alias("t"),
        )
    )
    return (
        pairs.groupBy("src_a", "src_b")
        .agg(F.expr("CAST(SUM(t) DIV COUNT(*) AS BIGINT)").alias(
            "delta_milli"
        ))
        .orderBy("delta_milli", "src_a", "src_b")
        .limit(_BD_TOPPAIRS)
    )


# ---------------------------------------------------------------------------
# Split-half reliability — is the TTR quality score measuring a
# stable property of a document or sampling noise? Score each doc's
# odd- and even-position token halves separately, correlate across
# the corpus, and Spearman-Brown-correct to full length. The
# measurement-theory check every learned-or-heuristic quality
# filter should publish.
# ---------------------------------------------------------------------------

@query(
    "q_split_half_reliability",
    f"""
    WITH halves AS (
        SELECT doc_id,
               list_filter({_TOKS_SQL},
                           (w, i) -> i % 2 = 1) AS odd_t,
               list_filter({_TOKS_SQL},
                           (w, i) -> i % 2 = 0) AS even_t
        FROM documents),
    scored AS (
        SELECT doc_id,
               len(list_distinct(odd_t)) * 1000000 // len(odd_t) AS x,
               len(list_distinct(even_t)) * 1000000 // len(even_t)
                   AS y
        FROM halves
        WHERE len(odd_t) > 0 AND len(even_t) > 0),
    mom AS (
        SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy,
               SUM(x * y) AS sxy
        FROM scored),
    r AS (
        SELECT n,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / n * sy)
               / sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) / n * sx)
               / sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy)
                   AS rho
        FROM mom)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(floor(rho * 1000000) AS BIGINT) AS half_corr_micro,
           CAST(floor(2 * rho / (1 + rho) * 1000000) AS BIGINT)
               AS spearman_brown_micro
    FROM r
    """,
)
def q_split_half_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half reliability of the TTR quality score: odd/even
    token positions score independently (integer ppm), Pearson r
    between halves from exact moments, Spearman-Brown 2r/(1+r)
    projects to full-document reliability. Low reliability means
    the filter is re-rolling dice per document — a curation
    threshold on it would be noise, not signal. 100 TB: the halves
    are row-local lambda filters; one 1-row moment rollup."""
    docs = table(spark, sf_dir, "documents")
    halves = docs.select(
        "doc_id",
        F.expr(
            f"filter({_TOKS}, (w, i) -> i % 2 = 0)"
        ).alias("odd_t"),
        F.expr(
            f"filter({_TOKS}, (w, i) -> i % 2 = 1)"
        ).alias("even_t"),
    )
    scored = halves.where(
        (F.expr("size(odd_t)") > 0) & (F.expr("size(even_t)") > 0)
    ).select(
        F.expr(
            "size(array_distinct(odd_t)) * 1000000 DIV size(odd_t)"
        ).alias("x"),
        F.expr(
            "size(array_distinct(even_t)) * 1000000 DIV size(even_t)"
        ).alias("y"),
    )
    mom = scored.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.expr("SUM(x * x)").alias("sxx"),
        F.expr("SUM(y * y)").alias("syy"),
        F.expr("SUM(x * y)").alias("sxy"),
    )
    r = mom.select(
        "n",
        F.expr(
            "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) / n * sy)"
            " / sqrt(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) / n * sx)"
            " / sqrt(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) / n * sy)"
        ).alias("rho"),
    )
    return r.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.expr("CAST(floor(rho * 1000000) AS BIGINT)").alias(
            "half_corr_micro"
        ),
        F.expr(
            "CAST(floor(2 * rho / (1 + rho) * 1000000) AS BIGINT)"
        ).alias("spearman_brown_micro"),
    )


# ---------------------------------------------------------------------------
# Data-constrained epoch budget — Muennighoff-style planning: given a
# token budget of 2x the corpus and an equal per-source allocation,
# how many epochs does each source repeat, capped at 4 (the point
# where repeated data stops helping)? The allocator every
# data-constrained training run needs, in exact integer arithmetic.
# ---------------------------------------------------------------------------

_EPOCH_BUDGET_X = 2
_EPOCH_CAP_MILLI = 4000


@query(
    "q_mixture_epoch_budget",
    f"""
    WITH src AS (
        SELECT source, SUM(len({_TOKS_SQL})) AS toks
        FROM documents GROUP BY source),
    tot AS (
        SELECT COUNT(*) AS ns, SUM(toks) * {_EPOCH_BUDGET_X} AS budget
        FROM src),
    plan AS (
        SELECT s.source, s.toks,
               t.budget // t.ns AS share,
               LEAST(CAST({_EPOCH_CAP_MILLI} AS BIGINT),
                     (t.budget // t.ns) * 1000 // s.toks)
                   AS epochs_milli
        FROM src s, tot t)
    SELECT source,
           CAST(toks AS BIGINT) AS unique_tokens,
           CAST(share AS BIGINT) AS budget_share,
           CAST(epochs_milli AS BIGINT) AS epochs_milli,
           CAST(toks * epochs_milli // 1000 AS BIGINT)
               AS served_tokens,
           CAST(CASE WHEN epochs_milli = {_EPOCH_CAP_MILLI}
                THEN share - toks * {_EPOCH_CAP_MILLI} // 1000
                ELSE 0 END AS BIGINT) AS stranded_budget
    FROM plan ORDER BY source
    """,
)
def q_mixture_epoch_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch allocation under a 2x-corpus token budget with equal
    per-source shares: epochs (milli) = min(4.0, share/tokens), the
    served token mass, and the budget stranded by the 4-epoch
    repetition cap (signal to re-allocate toward data-rich sources).
    All integer DIV over positive operands. 100 TB: the plan table
    is one row per source — the scan is the only cost."""
    docs = table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.expr(f"SUM(size({_TOKS}))").alias("toks")
    )
    tot = src.agg(
        F.count(F.lit(1)).alias("ns"),
        F.expr(f"SUM(toks) * {_EPOCH_BUDGET_X}").alias("budget"),
    )
    plan = src.join(F.broadcast(tot)).select(
        "source",
        "toks",
        F.expr("budget DIV ns").alias("share"),
        F.expr(
            f"LEAST(CAST({_EPOCH_CAP_MILLI} AS BIGINT),"
            f" (budget DIV ns) * 1000 DIV toks)"
        ).alias("epochs_milli"),
    )
    return plan.select(
        "source",
        F.col("toks").cast("bigint").alias("unique_tokens"),
        F.col("share").cast("bigint").alias("budget_share"),
        F.col("epochs_milli").cast("bigint").alias("epochs_milli"),
        F.expr("CAST(toks * epochs_milli DIV 1000 AS BIGINT)").alias(
            "served_tokens"
        ),
        F.expr(
            f"CAST(CASE WHEN epochs_milli = {_EPOCH_CAP_MILLI}"
            f" THEN share - toks * {_EPOCH_CAP_MILLI} DIV 1000"
            f" ELSE 0 END AS BIGINT)"
        ).alias("stranded_budget"),
    ).transform(sort_bounded, "source")


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — the tokenizer-sizing analysis: what
# share of all token OCCURRENCES does a top-k vocabulary cover, for
# a ladder of k? The knee of this curve is where vocab growth stops
# paying; everything below it becomes <UNK>/byte-fallback traffic.
# ---------------------------------------------------------------------------

_VCC_LADDER = (5, 10, 20, 30)


@query(
    "q_vocab_coverage_curve",
    f"""
    WITH toks AS (
        SELECT unnest({_TOKS_SQL}) AS w FROM documents),
    vocab AS (
        SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    ranked AS (
        SELECT c,
               ROW_NUMBER() OVER (ORDER BY c DESC, w) AS rk,
               SUM(c) OVER (ORDER BY c DESC, w) AS cum,
               SUM(c) OVER () AS total,
               COUNT(*) OVER () AS v
        FROM vocab)
    SELECT CAST(rk AS BIGINT) AS vocab_size,
           CAST(cum AS BIGINT) AS covered_tokens,
           CAST(cum * 1000000 // total AS BIGINT) AS coverage_ppm,
           CAST(v AS BIGINT) AS full_vocab,
           CAST(total AS BIGINT) AS total_tokens
    FROM ranked
    WHERE rk IN ({", ".join(str(k) for k in _VCC_LADDER)})
    ORDER BY vocab_size
    """,
)
def q_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Occurrence coverage of the top-k word vocabulary at k ∈
    {5, 10, 20, 30} (sized to this corpus's 31-word synthetic
    vocabulary; a real corpus would ladder 1e3..1e6): frequency-
    ranked cumsum over the vocab
    rollup (ties broken by word so the curve is deterministic),
    read off at the ladder points. Zipfian corpora saturate early —
    the emitted curve quantifies exactly how early, which is the
    input to choosing a BPE vocab size (q_bpe_merges builds the
    merges; this decides how many are worth building).

    r7 scale fix (previously only documented): the rank and running
    coverage both come from ONE two-pass range-partition pass over
    the vocab rollup — local row_number + local cumsum within each
    (c DESC, w) range partition, plus broadcast per-partition count
    and mass offsets — and the totals are a broadcast scalar, not
    COUNT()/SUM() OVER () windows. A web-corpus vocab (1e8+ distinct
    tokens) never funnels one partition."""
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.expr(_TOKS)).alias("w"))
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    tots = vocab.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("v")
    )
    parted = vocab.repartitionByRange(
        range_parts(vocab), F.desc("c"), F.asc("w")
    ).withColumn(
        "_pid", F.spark_partition_id()
    )
    _off = (
        "COALESCE(SUM({m}) OVER (ORDER BY _pid ROWS BETWEEN"
        " UNBOUNDED PRECEDING AND 1 PRECEDING), 0)"
    )
    offsets = (
        parted.groupBy("_pid")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum("c").alias("_m"),
        )
        .select(
            "_pid",
            F.expr(_off.format(m="_n")).alias("_rk_off"),
            F.expr(_off.format(m="_m")).alias("_cum_off"),
        )
    )
    w_local = Window.partitionBy("_pid").orderBy(F.desc("c"), F.asc("w"))
    ranked = (
        parted.withColumn("_lrk", F.row_number().over(w_local))
        .withColumn("_lcum", F.sum("c").over(w_local))
        .join(F.broadcast(offsets), "_pid")
        .crossJoin(F.broadcast(tots))
        .select(
            "c",
            (F.col("_lrk") + F.col("_rk_off")).alias("rk"),
            (F.col("_lcum") + F.col("_cum_off")).alias("cum"),
            "total",
            "v",
        )
    )
    ladder = ", ".join(str(k) for k in _VCC_LADDER)
    return (
        ranked.where(F.expr(f"rk IN ({ladder})"))
        .select(
            F.col("rk").cast("bigint").alias("vocab_size"),
            F.col("cum").cast("bigint").alias("covered_tokens"),
            F.expr("CAST(cum * 1000000 DIV total AS BIGINT)").alias(
                "coverage_ppm"
            ),
            F.col("v").cast("bigint").alias("full_vocab"),
            F.col("total").cast("bigint").alias("total_tokens"),
        )
    )
