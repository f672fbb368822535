"""Text analysis operators for training-data pipelines.

Beyond-reference operator family (no moosestack counterpart) — SURVEY.md §8
maps each gate query here to its check type.

- token counting (whitespace + a BPE-ish word/punct regex)
- quality scoring (length / punctuation / stopword ratios)
- language ID (stopword-profile heuristic, argmax over per-language hits)
- document fingerprinting (md5 of normalized text; rolling-hash variant)

All computed with built-in Spark SQL functions — no Python UDFs — so the
whole pipeline stays in whole-stage codegen and scales linearly: each
operator is a narrow map over `documents`, no shuffle at all except where an
explicit groupBy is documented.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from moosestack_spark.registry import query
from moosestack_spark.tables import t

# Tiny per-language stopword profiles (subset-of-vocabulary heuristic).
# The driver's synthetic documents use an English-ish systems vocabulary, so
# profiles here are only exercised structurally; real profiles plug in the
# same shape.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
}

_WS = r"\s+"


def tokens(c: Column) -> Column:
    return F.split(F.trim(c), _WS)


def word_ngram_array(
    c: Column, n: int, lowercase: bool = False, distinct: bool = False
) -> Column:
    """Space-joined word n-grams as array<string>; empty when the doc has
    fewer than n words.  The guard matters: Spark's sequence(1, 0) counts
    DOWN to [1, 0] and slice() aborts the whole job on start=0, so one
    short doc would kill the pipeline.  Shared by dedup shingling and
    decontamination so the guard lives in exactly one place."""
    toks = tokens(F.lower(c) if lowercase else c)
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(toks, i, n), " "))
    return F.array_distinct(grams) if distinct else grams


def token_count(c: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
        F.size(tokens(c))
    ).cast("bigint")


def stopword_ratio(c: Column, stopwords: tuple[str, ...]) -> Column:
    toks = tokens(F.lower(c))
    hits = F.size(F.filter(toks, lambda w: w.isin(*stopwords)))
    return hits.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def punct_ratio(c: Column) -> Column:
    n_punct = F.length(F.regexp_replace(c, r"[^.,;:!?'\"]", ""))
    return n_punct.cast("double") / F.greatest(F.length(c), F.lit(1)).cast("double")


def quality_score(c: Column) -> Column:
    """Composite quality heuristic in [0,1]: long enough, low punctuation
    noise, sane mean token length.  Deterministic double arithmetic."""
    n_tok = token_count(c).cast("double")
    mean_tok_len = F.length(c).cast("double") / F.greatest(n_tok, F.lit(1.0))
    len_ok = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 10.0, F.lit(1.0))
    tok_len_ok = F.when((mean_tok_len >= 2.0) & (mean_tok_len <= 12.0), 1.0).otherwise(0.5)
    return (len_ok * 0.4 + punct_ok * 0.3 + tok_len_ok * 0.3).cast("double")


def fingerprint_md5(c: Column) -> Column:
    """Content fingerprint: md5 over whitespace-normalized lowercase text."""
    norm = F.regexp_replace(F.lower(F.trim(c)), _WS, " ")
    return F.md5(norm.cast("binary"))


def lang_id(c: Column) -> Column:
    """Stopword-profile language ID: argmax of per-language hit counts with
    deterministic tiebreak on language code; 'und' when no profile hits."""
    toks = tokens(F.lower(c))

    def in_profile(code: str):
        # closure factory — a 2-param lambda would receive the array index
        words = LANG_PROFILES[code]
        return lambda w: w.isin(*words)

    entries = []
    for code in sorted(LANG_PROFILES):
        hits = F.size(F.filter(toks, in_profile(code)))
        entries.append(F.struct(hits.alias("hits"), F.lit(code).alias("code")))
    # max over (hits, -code) with lexicographically-first code on ties:
    # array_max compares structs field-by-field; to prefer smaller code on
    # equal hits we sort desc by hits then asc by code via aggregate.
    arr = F.array(*entries)
    best = F.aggregate(
        arr,
        F.struct(F.lit(-1).alias("hits"), F.lit("zz").alias("code")),
        lambda acc, x: F.when(
            (x["hits"] > acc["hits"])
            | ((x["hits"] == acc["hits"]) & (x["code"] < acc["code"])),
            x,
        ).otherwise(acc),
    )
    return F.when(best["hits"] <= 0, F.lit("und")).otherwise(best["code"])


# --------------------------------------------------------------------------
# Gate queries
# --------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=r"""
SELECT
  doc_id,
  LEN(string_split_regex(TRIM(text), '\s+')) AS n_tokens,
  LENGTH(text) AS n_chars_measured,
  CAST(LENGTH(text) AS DOUBLE) / GREATEST(LEN(string_split_regex(TRIM(text), '\s+')), 1) AS mean_token_len
FROM documents
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        (F.length("text").cast("double") / F.greatest(n_tok, F.lit(1)).cast("double")).alias(
            "mean_token_len"
        ),
    )


@query(
    "text_stopword_ratio",
    oracle=r"""
SELECT
  doc_id,
  CAST(LEN(LIST_FILTER(string_split_regex(TRIM(LOWER(text)), '\s+'),
        w -> w IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
    / GREATEST(LEN(string_split_regex(TRIM(LOWER(text)), '\s+')), 1) AS sw_ratio
FROM documents
""",
)
def text_stopword_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        stopword_ratio(F.col("text"), LANG_PROFILES["en"]).alias("sw_ratio"),
    )


@query(
    "text_fingerprint",
    oracle=r"""
SELECT
  doc_id,
  MD5(regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g')) AS fp
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))


@query(
    "text_quality_bucket",
    oracle=r"""
SELECT quality_bucket, COUNT(*) AS n FROM (
  SELECT CASE
    WHEN LEN(string_split_regex(TRIM(text), '\s+')) >= 64 THEN 'long'
    WHEN LEN(string_split_regex(TRIM(text), '\s+')) >= 16 THEN 'medium'
    ELSE 'short'
  END AS quality_bucket
  FROM documents
)
GROUP BY quality_bucket
""",
)
def text_quality_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = token_count(F.col("text"))
    bucket = (
        F.when(n_tok >= 64, "long").when(n_tok >= 16, "medium").otherwise("short")
    )
    return d.select(bucket.alias("quality_bucket")).groupBy("quality_bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "text_lang_id",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, lang AS lang_actual,
         string_split_regex(TRIM(LOWER(text)), '\s+') AS tk
  FROM documents
), hits AS (
  SELECT doc_id, lang_actual,
    len(list_filter(tk, x -> x IN ('the','a','of','and','to')))    AS h_en,
    len(list_filter(tk, x -> x IN ('der','die','das','und','ist'))) AS h_de,
    len(list_filter(tk, x -> x IN ('le','la','les','et','est')))    AS h_fr,
    len(list_filter(tk, x -> x IN ('el','la','los','y','es')))      AS h_es
  FROM toks
)
SELECT doc_id, lang_actual,
  CASE WHEN GREATEST(h_en, h_de, h_fr, h_es) <= 0 THEN 'und'
       WHEN h_de = GREATEST(h_en, h_de, h_fr, h_es) THEN 'de'
       WHEN h_en = GREATEST(h_en, h_de, h_fr, h_es) THEN 'en'
       WHEN h_es = GREATEST(h_en, h_de, h_fr, h_es) THEN 'es'
       ELSE 'fr' END AS lang_pred
FROM hits
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document language ID (stopword-profile argmax, deterministic
    alphabetical tiebreak — the oracle's CASE order de<en<es<fr mirrors it).
    Narrow map, no shuffle; at 100 TB this is a pure scan-side projection."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_actual"),
        lang_id(F.col("text")).alias("lang_pred"),
    )


# Rolling-hash fingerprint: portable across engines because every step is
# exact 64-bit integer arithmetic — token value from code points (no string
# hash function shared by Spark and DuckDB exists), then a seeded
# polynomial fold mod 2^31-1.  acc < 2^31 and value < 2^25 keep acc*31+v
# far from 64-bit overflow (ANSI mode would throw; nothing wraps).
_RH_MOD = 2_147_483_647  # 2^31 - 1


def rolling_fingerprint(c: Column) -> Column:
    toks = F.filter(tokens(F.lower(c)), lambda w: F.length(w) > 0)
    vals = F.transform(
        toks,
        lambda w: (
            F.ascii(w).cast("bigint") * 65536
            + F.ascii(F.reverse(w)).cast("bigint") * 256
            + F.length(w).cast("bigint") % 256
        ),
    )
    return F.aggregate(
        vals,
        F.lit(0).cast("bigint"),
        lambda acc, v: (acc * 31 + v) % _RH_MOD,
    )


@query(
    "text_rolling_fingerprint",
    oracle=r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                     w -> LENGTH(w) > 0) AS tk
  FROM documents
), vals AS (
  SELECT doc_id,
         LIST_TRANSFORM(tk, w ->
           CAST(ascii(w) AS BIGINT) * 65536
           + CAST(ascii(reverse(w)) AS BIGINT) * 256
           + CAST(LENGTH(w) AS BIGINT) % 256) AS vs
  FROM toks
)
SELECT doc_id,
       list_reduce(list_concat([CAST(0 AS BIGINT)], vs),
                   (a, b) -> (a * 31 + b) % 2147483647) AS fp
FROM vals
""",
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling fingerprint per document (content-defined
    identity that, unlike the md5 fingerprint, supports incremental
    extension and window-based chunking at 100 TB)."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", rolling_fingerprint(F.col("text")).alias("fp"))


# --------------------------------------------------------------------------
# C4-style quality filter (Raffel et al. 2020, "Exploring the Limits of
# Transfer Learning" §2.2 public heuristics, adapted to signals the
# synthetic corpus exercises): keep a doc iff it is long enough, lexically
# diverse, and its words are plausibly shaped.  Pure JVM expressions — a
# narrow map, zero exchange, linear at 100 TB.
# --------------------------------------------------------------------------


@query(
    "text_c4_quality_filter",
    oracle=r"""
WITH s AS (
  SELECT
    doc_id,
    text,
    string_split_regex(TRIM(text), '\s+') AS w,
    LENGTH(regexp_replace(text, '\s+', '', 'g')) AS n_nonws
  FROM documents
)
SELECT
  doc_id,
  LEN(w) AS n_words,
  CAST(LEN(list_distinct(w)) AS DOUBLE) / GREATEST(LEN(w), 1) AS uniq_ratio,
  CAST(n_nonws AS DOUBLE) / GREATEST(LEN(w), 1) AS mean_word_len,
  (LEN(w) >= 20
   AND CAST(LEN(list_distinct(w)) AS DOUBLE) / GREATEST(LEN(w), 1) >= 0.25
   AND CAST(n_nonws AS DOUBLE) / GREATEST(LEN(w), 1) BETWEEN 2 AND 12
   AND NOT contains(LOWER(text), 'lorem ipsum')
   AND NOT contains(text, '{')) AS keep
FROM s
""",
)
def text_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_words = F.size(toks)
    uniq_ratio = F.size(F.array_distinct(toks)).cast("double") / F.greatest(
        n_words, F.lit(1)
    ).cast("double")
    mean_word_len = F.length(
        F.regexp_replace("text", r"\s+", "")
    ).cast("double") / F.greatest(n_words, F.lit(1)).cast("double")
    keep = (
        (n_words >= 20)
        & (uniq_ratio >= 0.25)
        & mean_word_len.between(2, 12)
        & ~F.lower(F.col("text")).contains("lorem ipsum")
        & ~F.col("text").contains("{")
    )
    return d.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        uniq_ratio.alias("uniq_ratio"),
        mean_word_len.alias("mean_word_len"),
        keep.alias("keep"),
    )


# --------------------------------------------------------------------------
# PII redaction.  The synthetic corpus carries no PII, so the gate query
# first APPENDS deterministic doc-derived PII (email / IPv4 / phone built
# from doc_id — the oracle replays the same construction), then redacts.
# Patterns stay in the Java-regex ∩ RE2 dialect intersection so Spark and
# DuckDB agree byte-for-byte.  Narrow map, zero exchange.
# --------------------------------------------------------------------------

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b555-\d{4}\b"


def redact_pii(c: Column) -> Column:
    """email -> <EMAIL>, IPv4 -> <IP>, 555-exchange phone -> <PHONE>.
    Order matters: emails first (an IP-like domain must not be half-eaten
    by the IP pass)."""
    out = F.regexp_replace(c, _PII_EMAIL, "<EMAIL>")
    out = F.regexp_replace(out, _PII_IPV4, "<IP>")
    return F.regexp_replace(out, _PII_PHONE, "<PHONE>")


@query(
    "text_pii_redact",
    oracle=r"""
WITH aug AS (
  SELECT
    doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
         || '@example.com from 10.' || CAST(doc_id % 250 AS VARCHAR)
         || '.0.1 call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      AS augmented
  FROM documents
)
SELECT
  doc_id,
  LEN(regexp_extract_all(augmented, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
  LEN(regexp_extract_all(augmented, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
  LEN(regexp_extract_all(augmented, '\b555-\d{4}\b')) AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(augmented,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        '\b555-\d{4}\b', '<PHONE>', 'g')) AS redacted_md5
FROM aug
""",
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com from 10."),
        (F.col("doc_id") % 250).cast("string"),
        F.lit(".0.1 call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    return d.select(
        "doc_id",
        F.regexp_count(aug, F.lit(_PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(aug, F.lit(_PII_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_count(aug, F.lit(_PII_PHONE)).cast("bigint").alias("n_phones"),
        F.md5(redact_pii(aug)).alias("redacted_md5"),
    )


# --------------------------------------------------------------------------
# Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
# Models" table A1 public heuristics): fraction of duplicate lines and
# fraction of characters inside duplicate lines, per document.  High values
# mark boilerplate/spam for removal.  Narrow map, zero exchange.
# --------------------------------------------------------------------------


@query(
    "text_repetition_signals",
    oracle=r"""
WITH s AS (
  SELECT
    doc_id,
    string_split(regexp_replace(text, '((\w+ ){2})', '\1|', 'g'), '|') AS lines
  FROM documents
),
x AS (
  SELECT
    doc_id,
    LEN(lines) AS n_lines,
    LEN(list_distinct(lines)) AS n_uniq,
    LENGTH(array_to_string(lines, '')) AS n_chars_all,
    LENGTH(array_to_string(list_distinct(lines), '')) AS n_chars_uniq
  FROM s
)
SELECT
  doc_id,
  CAST(n_lines - n_uniq AS DOUBLE) / GREATEST(n_lines, 1) AS dup_line_frac,
  CAST(n_chars_all - n_chars_uniq AS DOUBLE) / GREATEST(n_chars_all, 1) AS dup_char_frac,
  (CAST(n_lines - n_uniq AS DOUBLE) / GREATEST(n_lines, 1)) <= 0.30 AS keep
FROM x
""",
)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-'line' fraction per doc (Gopher repetition rules).  The
    synthetic corpus has no newlines, so a 'line' is a 2-word chunk —
    real corpora pass the natural split('\\n').  Both engines segment with
    the identical regex so results hash-match."""
    d = t(spark, sf_dir, "documents")
    lines = F.split(
        F.regexp_replace("text", r"((\w+ ){2})", r"$1|"), r"\|", -1
    )
    # DuckDB backrefs use \1; Spark uses $1 — same captured text.
    n_lines = F.size(lines)
    uniq = F.array_distinct(lines)
    n_uniq = F.size(uniq)
    chars_all = F.length(F.array_join(lines, ""))
    chars_uniq = F.length(F.array_join(uniq, ""))
    dup_line_frac = (n_lines - n_uniq).cast("double") / F.greatest(
        n_lines, F.lit(1)
    ).cast("double")
    dup_char_frac = (chars_all - chars_uniq).cast("double") / F.greatest(
        chars_all, F.lit(1)
    ).cast("double")
    return d.select(
        "doc_id",
        dup_line_frac.alias("dup_line_frac"),
        dup_char_frac.alias("dup_char_frac"),
        (dup_line_frac <= 0.30).alias("keep"),
    )


# --------------------------------------------------------------------------
# Deterministic train/val/test split: hash-mod assignment so the split is
# stable across runs, engines, and re-partitioning — the property a 100 TB
# pipeline needs (no sampling state, no ordering dependence).  Zero
# exchange except the final per-split count.
# --------------------------------------------------------------------------


def split_assign(c: Column, val_pct: int = 5, test_pct: int = 5) -> Column:
    """'train' / 'val' / 'test' from a stable 64-bit hash of the id."""
    bucket = F.pmod(F.xxhash64(c), F.lit(100))
    return (
        F.when(bucket < val_pct, F.lit("val"))
        .when(bucket < val_pct + test_pct, F.lit("test"))
        .otherwise(F.lit("train"))
    )


@query(
    "text_train_val_test_split",
    oracle=r"""
WITH a AS (
  SELECT CASE
    WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 5 THEN 'val'
    WHEN ((doc_id % 2147483648) * 2654435761) % 4294967296 % 100 < 10 THEN 'test'
    ELSE 'train'
  END AS split
  FROM documents
)
SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM a GROUP BY split
""",
)
def text_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split sizes.  The gate uses a Knuth
    multiplicative hash (portable integer arithmetic both engines compute
    identically); the library path `split_assign` uses xxhash64, which has
    no DuckDB twin — its run-to-run/partitioning stability is pytest-pinned
    instead."""
    d = t(spark, sf_dir, "documents")
    # doc_id reduced to 31 bits BEFORE the multiply: 2^31 * 2654435761
    # stays under 2^63, so neither engine can overflow int64 (ANSI Spark
    # and DuckDB both error on BIGINT overflow rather than wrapping)
    bucket = F.pmod(
        F.pmod(F.col("doc_id"), F.lit(2147483648)) * F.lit(2654435761),
        F.lit(4294967296),
    ) % 100
    split = (
        F.when(bucket < 5, F.lit("val"))
        .when(bucket < 10, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return d.select(split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n")
    )


# --------------------------------------------------------------------------
# Per-source document caps: the web-pipeline rule that no single domain may
# dominate the corpus.  Deterministic survivor set (first K by doc_id per
# source); the count shuffle and the cap window share one partitioning on
# source, so this is a single exchange at any scale.  Skewed sources (one
# domain with billions of docs) are exactly the case the cap EXISTS for —
# the window sorts only within a source, and if even that is too large the
# top-k partial-prune pattern from operators/aggregates.top_k applies.
# --------------------------------------------------------------------------


def cap_per_source(
    df: DataFrame,
    cap: int,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep at most `cap` docs per source (lowest ids survive), plus the
    source's pre-cap count for reporting."""
    from pyspark.sql import Window

    w = Window.partitionBy(source_col).orderBy(F.col(id_col).asc())
    wc = Window.partitionBy(source_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .withColumn("n_source_docs", F.count(F.lit(1)).over(wc).cast("bigint"))
        .filter(F.col("__rk") <= cap)
        .drop("__rk")
    )


@query(
    "text_domain_cap",
    oracle="""
WITH ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id ASC) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n_source_docs
  FROM documents
)
SELECT doc_id, source, CAST(n_source_docs AS BIGINT) AS n_source_docs
FROM ranked WHERE rk <= 10
""",
)
def text_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at 10 documents (deterministic survivors by
    doc_id) — the anti-domination filter of web-scale corpus curation."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_source(d, cap=10)


# --------------------------------------------------------------------------
# Per-document duplicated-n-gram fraction (the Lee et al. 2022
# "Deduplicating Training Data Makes Language Models Better" memorization
# signal): how much of a document's distinct 5-gram mass also appears in
# OTHER documents.  Curation pipelines threshold on this next to the
# repetition signals — a doc can be globally unique yet assembled from
# boilerplate.  Plan: one distinct-shingle explode, one shingle groupBy for
# document frequency (map-side combined), join back, per-doc conditional
# count — two shuffles on vocabulary-/doc-sized keys, no pair space at all.
# --------------------------------------------------------------------------


@query(
    "text_dup_ngram_fraction",
    oracle=r"""
WITH sh AS (
  SELECT DISTINCT doc_id AS doc, shingle FROM (
    SELECT doc_id,
           array_to_string(toks[i : i + 4], ' ') AS shingle
    FROM (
      SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS toks
      FROM documents
    ), LATERAL (SELECT UNNEST(generate_series(1, GREATEST(LEN(toks) - 4, 0))) AS i)
  )
),
df AS (
  SELECT shingle, COUNT(*) AS n_docs FROM sh GROUP BY shingle
)
SELECT sh.doc AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       CAST(SUM(CASE WHEN df.n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS dup_fraction
FROM sh JOIN df ON sh.shingle = df.shingle
GROUP BY sh.doc
""",
)
def text_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's distinct 5-gram shingles that occur in at
    least one OTHER document.  Exact integer counts with a single IEEE
    division — hash-exact DOUBLE.  Docs shorter than 5 tokens emit no
    shingles and are absent (matching the oracle's inner join)."""
    from moosestack_spark.ops.dedup import exploded_shingles

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    sh = exploded_shingles(d, "doc_id", "text", 5)
    df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    shared = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0)).cast("bigint")
    return (
        sh.join(df_counts, "shingle")
        .groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            shared.alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            (F.col("n_shared").cast("double") / F.col("n_shingles")).alias(
                "dup_fraction"
            ),
        )
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, "Scaling Language Models" A1.1
# public heuristics), adapted to signals the synthetic corpus exercises:
# word-count bounds, mean word length band, alphabetic-word ratio,
# non-alphabetic character ratio, and stopword presence.  Line-based rules
# (bullet/ellipsis ratios) don't apply to the single-line corpus and are
# documented out.  Pure JVM expressions — zero exchange, linear at 100 TB.
# --------------------------------------------------------------------------

GOPHER_STOPWORDS = ("the", "a", "of", "and")


@query(
    "text_gopher_rules",
    oracle=r"""
WITH s AS (
  SELECT doc_id,
         string_split_regex(TRIM(text), '\s+') AS w,
         LENGTH(regexp_replace(text, '\s+', '', 'g')) AS n_chars,
         LENGTH(regexp_replace(text, '[^a-z]', '', 'g')) AS n_alpha
  FROM documents
), m AS (
  SELECT doc_id,
    LEN(w) AS n_words,
    CAST(n_chars AS DOUBLE) / GREATEST(LEN(w), 1) AS mean_word_len,
    CAST(LEN(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
      / GREATEST(LEN(w), 1) AS alpha_word_ratio,
    CAST(n_chars - n_alpha AS DOUBLE) / GREATEST(n_chars, 1)
      AS non_alpha_char_ratio,
    CAST(LEN(list_filter(['the', 'a', 'of', 'and'],
                         s -> list_contains(w, s))) AS BIGINT) AS stop_hits
  FROM s
)
SELECT doc_id, n_words, mean_word_len, alpha_word_ratio,
       non_alpha_char_ratio, stop_hits,
       (n_words BETWEEN 30 AND 100000
        AND mean_word_len BETWEEN 2 AND 10
        AND alpha_word_ratio >= 0.8
        AND non_alpha_char_ratio <= 0.2
        AND stop_hits >= 1) AS keep
FROM m
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality gate per document: exact integer counts, each ratio
    a single division of exact values — hash-matches the SQL restatement.
    keep = word count in [30, 100k], mean word length in [2, 10], >=80%
    of words alphabetic, <=20% non-alphabetic characters, and at least
    one common stopword present."""
    d = t(spark, sf_dir, "documents")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(w)
    n_chars = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    n_alpha = F.length(F.regexp_replace(F.col("text"), r"[^a-z]", ""))
    denom_w = F.greatest(n_words, F.lit(1))
    alpha_words = F.size(F.filter(w, lambda x: x.rlike("[a-z]")))
    stop_arr = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_hits = F.size(
        F.filter(stop_arr, lambda s: F.array_contains(w, s))
    ).cast("bigint")
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        (n_chars.cast("double") / denom_w).alias("mean_word_len"),
        (alpha_words.cast("double") / denom_w).alias("alpha_word_ratio"),
        (
            (n_chars - n_alpha).cast("double")
            / F.greatest(n_chars, F.lit(1))
        ).alias("non_alpha_char_ratio"),
        stop_hits.alias("stop_hits"),
    )
    return m.select(
        "*",
        (
            F.col("n_words").between(30, 100_000)
            & F.col("mean_word_len").between(2, 10)
            & (F.col("alpha_word_ratio") >= 0.8)
            & (F.col("non_alpha_char_ratio") <= 0.2)
            & (F.col("stop_hits") >= 1)
        ).alias("keep"),
    )


# --------------------------------------------------------------------------
# Corpus n-gram diversity: distinct word-3-grams / total word-3-grams per
# source — the self-repetition metric curation pipelines track next to the
# dup-n-gram fraction (a LOW ratio flags template/boilerplate sources).
# One explode + one groupBy(source) with countDistinct; the canonical
# two-shuffle shape (explode is map-side, distinct adds the second
# exchange).  Ratio is ONE division of exact counts.
# --------------------------------------------------------------------------


@query(
    "text_ngram_diversity",
    oracle="""
WITH w AS (
  SELECT source, string_split(text, ' ') AS ws FROM documents
), g AS (
  SELECT source,
         ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] AS gram
  FROM w, UNNEST(range(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 3
)
SELECT source,
       CAST(COUNT(DISTINCT gram) AS BIGINT) AS distinct_grams,
       CAST(COUNT(*) AS BIGINT) AS total_grams,
       CAST(COUNT(DISTINCT gram) AS DOUBLE) / COUNT(*) AS diversity
FROM g GROUP BY source
""",
)
def text_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, distinct word-3-grams, total, ratio) — single-space
    tokenization matching the corpus text format."""
    d = t(spark, sf_dir, "documents")
    w = d.select("source", F.split("text", " ").alias("ws"))
    g = (
        w.filter(F.size("ws") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 2), i -> "
                    "concat_ws(' ', element_at(ws, i), "
                    "element_at(ws, i + 1), element_at(ws, i + 2)))"
                )
            ).alias("gram"),
        )
    )
    return g.groupBy("source").agg(
        F.countDistinct("gram").cast("bigint").alias("distinct_grams"),
        F.count(F.lit(1)).cast("bigint").alias("total_grams"),
        (F.countDistinct("gram").cast("double") / F.count(F.lit(1))).alias(
            "diversity"
        ),
    )
