"""Deduplication operators for training-data pipelines.

Beyond-reference operator family (no moosestack counterpart) — SURVEY.md §8
maps each gate query here to its check type.

Exact (hash-groupBy), n-gram Jaccard (exact set similarity over shingles),
MinHash+LSH (banded approximate near-dup at scale), SimHash (hamming-bucket
near-dup).  All built from DataFrame ops; hashing via xxhash64 (JVM-side).

Scale design:
- exact dedup: one shuffle on the content hash — at 100 TB dedup by
  fingerprint, never by raw text (hash first, compare within hash buckets);
- n-gram Jaccard: exact but O(candidate pairs); candidates generated from a
  shared-shingle join, so disjoint docs never pair.  Use on bounded corpora
  or post-LSH candidate sets;
- MinHash+LSH: the 100 TB path — k minhashes per doc, b bands -> band-hash
  buckets -> candidate pairs only within buckets, verified with exact
  Jaccard on the minhash signatures (and optionally on the true shingles);
- SimHash: 64-bit sketch, near-dup = small hamming distance within prefix
  buckets.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from moosestack_spark.registry import query
from moosestack_spark.tables import t

def _local_input_files(df: DataFrame) -> list[str] | None:
    """The plan's source files as local paths, via df.inputFiles() (no
    job).  None when the plan has no file sources (in-memory frames) or a
    file is not local — callers treat unknown as LARGE (the scale-safe
    default)."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    paths = []
    for f in files:
        path = f[7:] if f.startswith("file:///") else f
        path = path if path.startswith("/") else "/" + path.lstrip("/")
        if not os.path.isfile(path):
            return None
        paths.append(path)
    return paths


def _est_input_bytes(df: DataFrame) -> int | None:
    """Cheap (job-free) input-size estimate: the summed size of the plan's
    source files; None when unknown (see _local_input_files)."""
    paths = _local_input_files(df)
    return None if paths is None else sum(os.path.getsize(p) for p in paths)


def _footer_rows(df: DataFrame) -> int | None:
    """Job-free row-count upper bound for a plan that filters or projects
    its sources but never multiplies rows: the summed parquet footer
    ``num_rows`` of its source files, read with pyarrow.  None when unknown
    (see _local_input_files) or a file is not parquet."""
    import pyarrow.parquet as pq

    paths = _local_input_files(df)
    if paths is None:
        return None
    try:
        return sum(pq.read_metadata(p).num_rows for p in paths)
    except (OSError, ValueError):  # ArrowInvalid: not a parquet file
        return None


# Below this input size the two ngram_jaccard_pairs localCheckpoints cost
# more than the recompute they avoid (VERDICT r11 #3: the eager
# materializations fixed the 100x tier's super-linear growth but regressed
# the 30x constants ~40% — a fixed disk-write cost that only amortizes
# once the pruned occurrence table is tens of MB).  32 MB of source
# parquet sits between the bench 30x (~18 MB) and 100x (~60 MB) corpora.
NGRAM_CKPT_MIN_BYTES = 32 << 20


def _spread(df: DataFrame, id_col: str) -> DataFrame:
    """Fan a 1-task local scan out across cores before a CPU-heavy
    projection.  The driver test files are single parquet row groups, so
    the scan cannot split; on a real lake this repartition is unnecessary
    (the scan arrives in many splits) but harmless — it becomes the
    pipeline's first shuffle, hashed on doc id.  The partition count is
    EXPLICIT because an unnumbered repartition-by-column is an AQE
    coalescing target: 5000 small rows collapse right back to one
    partition and the spread never happens."""
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, F.col(id_col))


# --------------------------------------------------------------------------
# shingling
# --------------------------------------------------------------------------


def word_shingles(text: Column, n: int) -> Column:
    """Distinct n-word shingles over lowercased text (JVM-side); delegates
    to the shared n-gram builder in ops/text.py, which owns the
    short-document sequence guard."""
    from moosestack_spark.ops.text import word_ngram_array

    return word_ngram_array(text, n, lowercase=True, distinct=True)


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    return df.select(
        F.col(id_col).alias("doc"), F.explode(word_shingles(F.col(text_col), n)).alias("shingle")
    )


def exploded_shingle_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, __sh64): 64-bit hash per n-word shingle occurrence, WITHOUT
    ever building the joined shingle string: posexplode tokens -> hash each
    token ONCE -> combine n consecutive token-hashes via window lead()s.
    Each token is split/hashed exactly once (the string-building
    array_join-in-lambda formulation re-evaluates the split inside the
    higher-order lambda and compiles a much larger codegen class — measured
    3.6-10s cold vs ~1s for this shape at sf0.1; warm costs 0.5 vs 0.7s).

    Shuffle shape: the window partitions by doc — the SAME key _spread
    already exchanged on, so Catalyst reuses that exchange and the whole
    shingle pipeline stays a single shuffle at any scale.

    Emits the shingle MULTISET (duplicates kept).  minhash is unaffected
    (min over duplicates == min over distinct); simhash becomes
    multiset-weighted voting, the textbook variant that weights repeated
    shingles — documented there.  Docs shorter than n words emit nothing
    (trailing lead()s are NULL and filtered).

    Sketch pipelines (minhash, simhash) only ever consume hashes, so they
    use this; exact-Jaccard keeps real shingle strings (its oracle equality
    is defined on them)."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    tok_rows = df.select(
        F.col(id_col).alias("doc"), F.posexplode(toks).alias("pos", "tok")
    ).withColumn("h0", F.xxhash64("tok")).drop("tok")
    w = Window.partitionBy("doc").orderBy("pos")
    sh = tok_rows.select(
        "doc", "h0", *[F.lead("h0", j).over(w).alias(f"__t{j}") for j in range(1, n)]
    )
    combined = F.xxhash64(F.col("h0"), *[F.col(f"__t{j}") for j in range(1, n)])
    return sh.filter(F.col(f"__t{n-1}").isNotNull()).select(
        "doc", combined.alias("__sh64")
    )


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the min-id row per distinct normalized text.  The groupBy runs on
    a 64-bit hash + the text (hash prunes comparisons; text guards against
    hash collisions at 100 TB row counts)."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    return (
        df.withColumn("__norm", norm)
        .groupBy(F.xxhash64("__norm").alias("__h"), F.col("__norm"))
        .agg(F.min(F.col(id_col)).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__h", "__norm")
    )


@query(
    "dedup_exact",
    oracle=r"""
SELECT doc_id, dup_count FROM (
  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
  FROM (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  )
  GROUP BY regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g')
)
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over a corpus with planted duplicates (every 5th doc
    re-inserted under a shifted id); survivor = min doc_id."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    return exact_dedup(d.unionByName(dup), "doc_id", "text")


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup (exact)
# --------------------------------------------------------------------------


MAX_SHINGLE_DF = 100


def _let(val: str, var: str, body: str) -> str:
    """SQL let-binding: evaluate `val` ONCE, reference it as `var` in
    `body` (single-element transform).  Required wherever an intermediate
    is referenced more than once — projection collapse would otherwise
    re-inline the producing expression per reference (the naive minhash
    spelling was a measured 38s codegen bomb on 500 docs)."""
    return f"element_at(transform(array({val}), {var} -> {body}), 1)"


def shingle_hash_array_expr(text_col: str, n: int) -> str:
    """Per-row array of 64-bit n-token-window hashes (multiset, document
    order), as one shuffle-free expression: hash each token once, combine
    n consecutive token hashes per window.  Same hash family as
    exploded_shingle_hashes; docs shorter than n tokens yield an empty
    array."""
    toks_h = (
        f"transform(split(trim(lower({text_col})), '\\\\s+'), tok -> xxhash64(tok))"
    )
    window = ", ".join(f"element_at(th, i + {j})" for j in range(n))
    return _let(
        toks_h,
        "th",
        f"CASE WHEN size(th) < {n} THEN array() ELSE "
        f"transform(sequence(1, size(th) - {n - 1}), i -> xxhash64({window})) END",
    )


# --------------------------------------------------------------------------
# Portable hash family for the MinHash pipeline.  Every step is plain
# integer arithmetic mod the Mersenne prime 2^31-1 (products with 32-bit
# multipliers stay inside int64), so DuckDB replays the ENTIRE banded-LSH
# pipeline value-exactly and dedup_minhash_lsh carries a hard oracle.
# Collisions at 31 bits are harmless here: both engines replay the SAME
# collisions, and minhash quality needs uniformity, not injectivity —
# whereas ngram_jaccard keeps the 64-bit xxhash family because its oracle
# is defined on shingle STRINGS (a hash collision there would flip a
# hard-gated Jaccard value).
# --------------------------------------------------------------------------

_PORT_M = 2147483647  # 2^31 - 1


def _port_perm_coeffs(k: int) -> tuple[int, int]:
    """The k-th (a, b) of the (a*s + b) mod M permutation family — plain
    arithmetic in k, so the SQL spelling can compute it from a sequence()
    variable and the oracle can precompute the identical constants."""
    a = ((k * 2654435761 + 40503) % (_PORT_M - 1)) + 1
    b = (k * 1013904223 + 12345) % _PORT_M
    return a, b


# SQL spelling of _port_perm_coeffs for a bound variable k (same formula;
# k arrives as INT from sequence() — widen before multiplying or ANSI mode
# overflows)
_PORT_A_SQL = f"(((CAST(k AS BIGINT) * 2654435761) + 40503) % {_PORT_M - 1}) + 1"
_PORT_B_SQL = f"((CAST(k AS BIGINT) * 1013904223) + 12345) % {_PORT_M}"


def portable_shingle_hash_array_expr(text_col: str, n: int) -> str:
    """Per-row array of n-token-window hashes in the portable family:
    polynomial char fold per token, polynomial fold of the n token hashes
    per window — all mod 2^31-1.  Same let-binding discipline as
    shingle_hash_array_expr (each intermediate bound once)."""
    tok_fold = (
        "aggregate(transform(split(tok, ''), c -> CAST(ascii(c) AS BIGINT)), "
        f"0L, (a, c) -> (a * 31 + c) % {_PORT_M})"
    )
    toks_h = (
        f"transform(split(trim(lower({text_col})), '\\\\s+'), tok -> {tok_fold})"
    )
    fold = "0L"
    for j in range(n):
        fold = f"(({fold}) * 1000003 + element_at(th, i + {j})) % {_PORT_M}"
    return _let(
        toks_h,
        "th",
        f"CASE WHEN size(th) < {n} THEN array() ELSE "
        f"transform(sequence(1, size(th) - {n - 1}), i -> {fold}) END",
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    metric: str = "jaccard",
) -> DataFrame:
    """Set-similarity over distinct n-gram shingle sets for every candidate
    pair (pairs sharing >= 1 surviving shingle).  Returns
    (doc_a, doc_b, <metric>) with metric 'jaccard' (symmetric) or
    'containment' (|A∩B| / min|A|,|B| — the subset/quote-duplication
    detector Jaccard structurally misses on length-skewed pairs).

    Plan shape: explode -> document-frequency prune -> self-equi-join on
    shingle (shuffle on shingle) -> per-pair intersection counts -> join
    per-doc set sizes.

    Skew/scale: a shingle shared by m docs contributes m^2/2 join pairs, so
    one boilerplate shingle (license header, template line) in 10^6 docs
    would emit 5*10^11 pairs from a single key.  The standard mitigation is
    a document-frequency cap: shingles with df > max_shingle_df carry no
    near-dup signal (they are corpus-wide boilerplate) and are dropped
    BEFORE pair generation, bounding any key's pair fan-out at
    max_shingle_df^2/2.  Jaccard is then computed over the pruned shingle
    universe (both intersections and set sizes — consistent semantics,
    mirrored exactly in the oracle).

    Pair generation is NOT a self-join: shingles travel as 64-bit
    token-window hashes (shingle_hash_array_expr — never builds the joined
    string, so the codegen class stays small; string-equality == hash
    equality up to 64-bit collisions, ~S^2/2^65 for S distinct shingles —
    negligible at gate scale, and at 10^12-shingle scale a collision merely
    merges two unrelated shingle buckets, noise for near-dup detection).
    The per-doc DISTINCT shingle set is computed shuffle-free
    (array_distinct over the let-bound per-row shingle array), then
    df-pruned with a window count (spill-safe for the boilerplate key —
    WindowExec sorts/spills where a collect would OOM), each surviving
    shingle's doc set is collected (arrays bounded at max_shingle_df by
    construction) and the a<b pairs are emitted JVM-side from the sorted
    array.  The df window and the collect groupBy partition on the SAME
    key, so Catalyst reuses one exchange; the original
    self-equi-join-on-string shape re-shuffled the full shingle-string
    table twice more (8.9s cold / 1.9s warm at sf0.1 vs 2.6 / 1.3 for the
    bucket-grouped shape; the shuffle-free distinct then removed the
    remaining doc exchange + token-window sort).
    """
    from pyspark.sql import Window

    sh = _spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(f"array_distinct({shingle_hash_array_expr(text_col, n)})")
        ).alias("shingle"),
    )
    if max_shingle_df is not None:
        sh = (
            sh.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
            )
            .filter(F.col("__df") <= max_shingle_df)
            .drop("__df")
        )
    # Per-doc surviving-set sizes are joined onto the SHINGLE table (one
    # row per surviving occurrence) and carried INLINE through the
    # per-shingle doc structs, so the candidate-pair table — two orders of
    # magnitude bigger than the shingle table (sum C(df,2) rows vs sum df)
    # — is never joined at all.  The earlier shape joined sizes onto the
    # pair table twice; at the bench 100x tier those were two sort-merge
    # passes over ~49M pair rows and the dominant super-linear term of
    # every consumer gate (hybrid CC's pairs stage measured 39.5 s -> the
    # join-free shape profiles ~3x lower with linear growth).
    # materialize the pruned occurrence table ONCE: both consumers below
    # (per-doc sizes, the size join) would otherwise re-run the explode +
    # df-window sort — the single most expensive subtree of the plan
    # (disk-backed localCheckpoint, ~16B/occurrence: hashes, not strings).
    # SIZE-CONDITIONAL (VERDICT r11 #3): below NGRAM_CKPT_MIN_BYTES of
    # source input the fixed disk-write cost exceeds the recompute it
    # avoids (measured +41% on the 30x tier constants), so small inputs
    # skip both checkpoints; unknown size (no file source) checkpoints —
    # the scale-safe default.  The emitted pair set is identical either
    # way: checkpointing only changes materialization, never semantics.
    est = _est_input_bytes(df)
    big = est is None or est >= NGRAM_CKPT_MIN_BYTES
    if big:
        sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("set_size"))
    per_shingle = (
        sh.join(sizes, "doc")
        .groupBy("shingle")
        .agg(
            F.array_sort(
                F.collect_set(F.struct("doc", "set_size"))
            ).alias("docs")
        )
        .select("docs")
    )
    if big:
        per_shingle = per_shingle.localCheckpoint(eager=True)
    joined = (
        per_shingle.filter(F.size("docs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(docs, (x, i) -> "
                    "transform(slice(docs, i + 2, size(docs)), "
                    "y -> struct(x.doc AS doc_a, y.doc AS doc_b, "
                    "x.set_size AS size_a, y.set_size AS size_b))))"
                )
            ).alias("p")
        )
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.size_a").alias("size_a"),
            F.col("p.size_b").alias("size_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    if metric == "jaccard":
        score = F.col("inter").cast("double") / (
            F.col("size_a") + F.col("size_b") - F.col("inter")
        ).cast("double")
    elif metric == "containment":
        # |A ∩ B| / min(|A|, |B|): catches subset/quote duplication where
        # a short doc is wholly contained in a long one — Jaccard dilutes
        # such pairs by the LARGE doc's size and misses them
        score = F.col("inter").cast("double") / F.least(
            "size_a", "size_b"
        ).cast("double")
    else:
        raise ValueError(f"unknown metric {metric!r}")
    return (
        joined.withColumn(metric, score)
        .filter(F.col(metric) >= threshold)
        .select("doc_a", "doc_b", metric)
    )


@query(
    "dedup_ngram_jaccard",
    oracle=r"""
WITH sh_all AS (
  SELECT DISTINCT doc_id AS doc, shingle FROM (
    SELECT doc_id,
           array_to_string(toks[i : i + 4], ' ') AS shingle
    FROM (
      SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS toks
      FROM documents
    ), LATERAL (SELECT UNNEST(generate_series(1, GREATEST(LEN(toks) - 4, 0))) AS i)
  )
),
sh AS (
  SELECT doc, shingle FROM (
    SELECT doc, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= 100
),
sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE CAST(inter AS DOUBLE) / (sa.set_size + sb.set_size - inter) >= 0.5
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.5)


# --------------------------------------------------------------------------
# MinHash + LSH (the scale path; approximate -> rows-only driver check, but
# pytest verifies recall against exact Jaccard on the small corpus)
# --------------------------------------------------------------------------

N_HASHES = 32
N_BANDS = 8  # 4 rows/band; threshold ~ (1/b)^(1/r) ~ 0.59

# Band-bucket exchange sizing (r12).  The LSH bucket stage sorts fat
# signature-carrying rows (~400 B each) inside one hash exchange on
# (band, bh); with the session's fixed shuffle-partition count the
# per-partition sort volume grows linearly with the corpus and goes
# memory-bound (measured: the 300x spot tier's bucket stage sat for
# minutes in the 32-partition sort where the explicitly-sized exchange
# finishes in ~15 s).  BUT an explicit repartition() also suppresses
# Spark's partial WindowGroupLimit — the map-side bucket-cap pushdown
# that truncates over-full buckets and keeps singleton rows cheap BEFORE
# the shuffle (measured: forcing the repartition at the 100x tier, where
# the default layout is already at the comfortable volume, DOUBLED the
# query, 15.8 s -> 31.7 s, with the plan diff showing the partial
# WindowGroupLimit node gone).  So the explicit sizing fires only when
# the default layout would exceed ~2x the target volume — below that the
# optimizer's plan (ENSURE_REQUIREMENTS exchange + partial window-group
# limit + AQE) is strictly better, above it bounded sorts win.
_BAND_ROWS_PER_PART = 120_000  # rows/partition when we size the exchange


def _shuffle_parts(df: DataFrame) -> int:
    """The session's spark.sql.shuffle.partitions — the number that sizes
    the default ENSURE_REQUIREMENTS exchange the trigger models (ADVICE
    r12: defaultParallelism matches it in this repo's session but diverges
    under user overrides or cluster deploys)."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def _size_band_exchange(
    bands,
    src_df,
    id_col: str,
    n_bands: int,
    est_rows: int | None = -1,
    count_rows=None,
):
    """Repartition the band-row table on (band, bh) iff the corpus is big
    enough that the session-default exchange would sort > 2x the target
    rows per partition.  The row count costs one column-pruned scan, and
    is itself skipped when the job-free footer row count (an upper bound,
    see _footer_rows) shows the trigger is unreachable.  The window and
    groupBy downstream both cluster on (band, bh), so when the repartition
    fires it REPLACES their exchange rather than adding one (any hash
    partitioning on those keys satisfies ClusteredDistribution;
    plan-pinned in test_plans).

    ``est_rows`` / ``count_rows`` let the incremental path reuse this
    logic with its combined existing+new bound and two-sided count
    (ADVICE r12: the inline copy had already drifted): est_rows=-1 means
    "bound from src_df", None means "unknown — treat as LARGE";
    count_rows (callable) overrides the source row count, evaluated only
    past the skip gate."""
    if est_rows == -1:
        est_rows = _footer_rows(src_df)
    parts = _shuffle_parts(src_df)
    trigger_rows = parts * 2 * _BAND_ROWS_PER_PART
    if est_rows is not None and est_rows * n_bands <= trigger_rows:
        return bands
    if count_rows is None:
        count_rows = lambda: src_df.select(id_col).count()  # noqa: E731
    n_rows = count_rows() * n_bands
    if n_rows <= trigger_rows:
        return bands
    n_part = min(max(4096, 8 * parts), n_rows // _BAND_ROWS_PER_PART + 1)
    return bands.repartition(int(n_part), "band", "bh")


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 5, n_hashes: int = N_HASHES
) -> DataFrame:
    """Per-doc minhash signature as n_hashes COLUMNS h0..h{k-1}.

    Scale-correct shape: explode shingles once, then ONE hash-aggregate with
    n_hashes `min(xxhash64(shingle, seed_i))` columns — map-side partial
    aggregation reduces each partition to |docs|*k before the single shuffle.

    (An earlier formulation built the signature as a per-row array of 32
    `array_min(transform(...))` expressions; Catalyst's projection collapse
    then duplicated that tree into every downstream band expression — a
    codegen bomb that took 38s on 500 docs.  Columns after an aggregation
    are materialized, so downstream band hashing reads cheap ints.)

    Hash-family shape: each shingle hashes ONCE to a portable 31-bit base
    (polynomial folds mod 2^31-1 — portable_shingle_hash_array_expr); the k
    independent permutations are (a_k * base + b_k) mod M — cheap integer
    re-mixes of the base, same discipline as the earlier xxhash re-seeding
    (hash the expensive string once, permute the fixed-width base k times).
    The portable family is what lets dedup_minhash_lsh carry a hard DuckDB
    oracle: every step is plain int64 arithmetic both engines replay.

    NOTE: this explode+aggregate form is retained as the REFERENCE
    implementation (tests pin the production path against it);
    minhash_lsh_pairs computes the same signatures shuffle-free via
    let-bound array expressions (_let) — the naive inlined spelling of
    that idea was a 38s codegen bomb because projection collapse
    duplicated the token-hash array per reference, which the let-binding
    prevents.
    """
    # The local test file is a single parquet row group -> a 1-task scan;
    # the shingle build + hashing is the expensive projection, so spread it
    # across cores first.  (On a real lake the scan arrives already split;
    # the repartition then just becomes the first shuffle of the pipeline,
    # hashed on doc id so the later groupBy("doc") can reuse co-location.)
    sh = _spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(F.expr(portable_shingle_hash_array_expr(text_col, n))).alias(
            "__sh"
        ),
    )
    aggs = []
    for i in range(n_hashes):
        a, b = _port_perm_coeffs(i)
        aggs.append(
            F.min((F.col("__sh") * a + b) % _PORT_M).alias(f"h{i}")
        )
    return sh.groupBy("doc").agg(*aggs)


def _minhash_band_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    n_hashes: int,
    n_bands: int,
) -> DataFrame:
    """(m: struct(doc, sig), band, bh) rows — the shuffle-free banded
    signature projection shared by the batch and incremental LSH paths.
    On a production lake THIS is the persisted index table: new batches
    append their band rows and probe existing buckets."""
    rows_per_band = n_hashes // n_bands
    bind = _let
    sh_arr = portable_shingle_hash_array_expr(text_col, n)
    # Each sig element is (s*a+b) mod 2^31-1, i.e. always in [0, 2^31-2]:
    # carry it across the bucket exchange as a 32-bit INT, not a 64-bit
    # BIGINT (guide §2.3 narrower types — the signature array is the band
    # row's payload and crosses the exchange n_bands times per doc, so the
    # lossless cast halves the dominant shuffle bytes of the bucket
    # stage).  Values are unchanged; every downstream comparison and the
    # DuckDB oracle replay are equality/arithmetic on the same integers.
    sig = (
        f"CASE WHEN size(sa) = 0 THEN NULL ELSE "
        f"transform(sequence(0, {n_hashes - 1}), k -> "
        f"CAST(array_min(transform(sa, s -> "
        f"(s * ({_PORT_A_SQL}) + ({_PORT_B_SQL})) % {_PORT_M})) AS INT)) END"
    )

    def band_hash(b: int) -> str:
        # polynomial fold of the band's sig rows (portable — the oracle
        # replays it verbatim where xxhash64 could not be)
        h = "0L"
        for r in range(rows_per_band):
            h = (
                f"(({h}) * 1000003 + "
                f"element_at(sg, {b * rows_per_band + r + 1})) % {_PORT_M}"
            )
        return h

    band_structs = ", ".join(
        f"struct({b} AS band, {band_hash(b)} AS bh, sg AS sig)"
        for b in range(n_bands)
    )
    bands_expr = bind(sh_arr, "sa", bind(sig, "sg", f"array({band_structs})"))
    return (
        _spread(df, id_col)
        .select(F.col(id_col).alias("doc"), F.explode(F.expr(bands_expr)).alias("bb"))
        # docs shorter than n tokens carry a NULL sig (xxhash64 of NULL
        # elements is NOT null, so without this filter every short doc
        # would share one synthetic bucket per band)
        .filter(F.col("bb.sig").isNotNull())
        .select(
            F.struct(F.col("doc"), F.col("bb.sig").alias("sig")).alias("m"),
            F.col("bb.band").alias("band"),
            F.col("bb.bh").alias("bh"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """Banded-LSH candidate generation + signature-Jaccard verification.

    Shuffle profile at 100 TB: shuffle#1 the shingle aggregation (above);
    explode to n_bands rows/doc carrying the full signature; shuffle#2 ONE
    groupBy on (band, band_hash) that collects each bucket's (doc,
    signature) structs — pairs are then emitted JVM-side from the sorted
    bucket array with the signature comparison computed inline, and
    shuffle#3 dedups pairs found in multiple bands.  An earlier self-join
    formulation needed an eager localCheckpoint of the signature table
    (the join re-executes upstream per side) — the checkpoint job alone
    cost more than the whole bucket-grouped plan (measured 4.6s vs 1.4s
    warm at sf0.1); bucketing also drops a full-table shuffle.

    `max_bucket` bounds the collected arrays: a band bucket with m docs
    emits m^2/2 candidates, so buckets beyond the cap (boilerplate-driven
    collisions; genuinely-near-dup members of an over-full bucket still
    collide in their other n_bands-1 bands) are dropped — the same skew
    discipline as the shingle df cap, and what keeps the collect bounded
    on a 100 TB corpus.  The cap is enforced BEFORE the collect by a
    doc-ordered row_number over the same (band, bh) partitioning (capped
    at max_bucket + 1, so over-full buckets are still detectable and
    dropped by the size filter): the aggregation buffer never holds more
    than max_bucket + 1 members even when a boilerplate bucket has
    millions, and the window reuses the groupBy's hash exchange — one
    sort added, zero extra shuffles (plan-pinned in test_plans).

    Signatures are computed SHUFFLE-FREE as one let-bound array expression
    per document (token hashes -> window hashes -> 32 array_min columns,
    each intermediate bound once through a single-element transform so
    projection collapse cannot duplicate it — the inlined spelling was a
    measured 38s codegen bomb, see minhash_signatures).  Values are
    IDENTICAL to minhash_signatures (same hash family, pinned in
    test_dedup).  This removes the token-window sort and the per-doc
    aggregation: the only exchanges left are the parallelism spread, the
    bucket groupBy, and the pair dedup.
    """
    bands = _minhash_band_rows(df, id_col, text_col, n, n_hashes, n_bands)
    bands = _size_band_exchange(bands, df, id_col, n_bands)

    w = W.partitionBy("band", "bh").orderBy(F.col("m.doc"))
    buckets = (
        bands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_bucket + 1)
        .groupBy("band", "bh")
        .agg(F.array_sort(F.collect_list("m")).alias("ms"))
        .filter((F.size("ms") >= 2) & (F.size("ms") <= max_bucket))
    )
    # a<b pairs from the doc-sorted bucket with the n_equal sum inline
    n_equal = " + ".join(
        f"IF(element_at(x.sig, {k + 1}) = element_at(y.sig, {k + 1}), 1, 0)"
        for k in range(n_hashes)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), y -> "
        "struct(x.doc AS doc_a, y.doc AS doc_b, "
        f"CAST(({n_equal}) AS DOUBLE) / {float(n_hashes)!r} AS est_jaccard))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def _portable_shingle_ctes(n: int) -> str:
    """DuckDB CTEs `toks` + `sh` replaying portable_shingle_hash_array_expr
    (token polynomial folds, window folds) over documents."""
    tok_fold = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split_regex(tok, ''), "
        "c -> CAST(ascii(c) AS BIGINT))), "
        f"(a, c) -> (a * 31 + c) % {_PORT_M})"
    )
    fold = "CAST(0 AS BIGINT)"
    for j in range(n):
        fold = f"(({fold}) * 1000003 + th[i + {j}]) % {_PORT_M}"
    return f"""
toks AS (
  SELECT doc_id AS doc,
         list_transform(string_split_regex(trim(lower(text)), '\\s+'),
                        tok -> {tok_fold}) AS th
  FROM documents
),
sh AS (
  SELECT doc,
         CASE WHEN len(th) < {n} THEN []
              ELSE list_transform(range(1, len(th) - {n - 2}), i -> {fold})
         END AS sa
  FROM toks
)"""


def _minhash_sig_ctes(n: int, n_hashes: int, n_bands: int) -> str:
    """DuckDB CTE chain replaying the portable MinHash pipeline: token
    folds, window folds, the (a_k*s + b_k) mod M signature, and the
    polynomial band hashes — constants precomputed by the SAME
    _port_perm_coeffs the Spark expressions use."""
    rows_per_band = n_hashes // n_bands
    sig_elems = []
    for k in range(n_hashes):
        a, b = _port_perm_coeffs(k)
        sig_elems.append(
            f"list_min(list_transform(sa, s -> (s * {a} + {b}) % {_PORT_M}))"
        )
    sig_list = ",\n         ".join(sig_elems)
    band_cols = []
    for bnd in range(n_bands):
        h = "CAST(0 AS BIGINT)"
        for r in range(rows_per_band):
            h = f"(({h}) * 1000003 + sig[{bnd * rows_per_band + r + 1}]) % {_PORT_M}"
        band_cols.append(f"{h} AS bh{bnd}")
    bh_cols = ",\n         ".join(band_cols)
    band_union = "\n  UNION ALL\n".join(
        f"  SELECT doc, sig, {bnd} AS band, bh{bnd} AS bh FROM banded"
        for bnd in range(n_bands)
    )
    return f"""{_portable_shingle_ctes(n)},
sig AS (
  SELECT doc,
         [{sig_list}] AS sig
  FROM sh WHERE len(sa) > 0
),
banded AS (
  SELECT doc, sig,
         {bh_cols}
  FROM sig
),
bands AS (
{band_union}
)"""


def _minhash_lsh_oracle(
    n: int = 5,
    n_hashes: int = 32,
    n_bands: int = 8,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> str:
    eq_terms = " + ".join(
        f"(CASE WHEN sa.sig[{k + 1}] = sb.sig[{k + 1}] THEN 1 ELSE 0 END)"
        for k in range(n_hashes)
    )
    return f"""
WITH {_minhash_sig_ctes(n, n_hashes, n_bands)},
ok_buckets AS (
  SELECT band, bh FROM bands GROUP BY band, bh
  HAVING COUNT(*) BETWEEN 2 AND {max_bucket}
),
cand AS (
  SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc < b.doc
  JOIN ok_buckets ob ON ob.band = a.band AND ob.bh = a.bh
)
SELECT c.doc_a, c.doc_b,
       CAST(({eq_terms}) AS DOUBLE) / {float(n_hashes)!r} AS est_jaccard
FROM cand c
JOIN sig sa ON sa.doc = c.doc_a
JOIN sig sb ON sb.doc = c.doc_b
WHERE CAST(({eq_terms}) AS DOUBLE) / {float(n_hashes)!r} >= {threshold}
"""


@query("dedup_minhash_lsh", oracle=_minhash_lsh_oracle())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup pairs — now under a HARD value-hash
    oracle: the whole pipeline (token/window polynomial folds, the
    (a*s+b) mod 2^31-1 permutation family, polynomial band hashes, bucket
    caps, signature-Jaccard estimates) is portable integer arithmetic that
    DuckDB replays verbatim.  The approximation is in recall vs exact
    Jaccard, never in what either engine computes."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return minhash_lsh_pairs(d, "doc_id", "text", n=5, threshold=0.5)


def minhash_lsh_pairs_incremental(
    existing: DataFrame,
    new: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    threshold: float = 0.5,
    max_bucket: int = 200,
) -> DataFrame:
    """Incremental near-dup: pairs INVOLVING at least one `new` document —
    new-vs-existing and new-vs-new, never existing-vs-existing (those were
    found when the existing corpus was indexed).  Production shape: the
    existing side's band rows are the PERSISTED index table (bucketed by
    (band, bh)); a new batch appends its band rows and only buckets
    containing a new member re-emit pairs, so incremental cost scales with
    the batch, not the corpus.  Equivalence pinned in test_dedup: result ==
    full-corpus minhash_lsh_pairs filtered to pairs touching a new doc."""
    eb = _minhash_band_rows(existing, id_col, text_col, n, n_hashes, n_bands)
    nb = _minhash_band_rows(new, id_col, text_col, n, n_hashes, n_bands)
    tagged = eb.withColumn("nw", F.lit(False)).unionByName(
        nb.withColumn("nw", F.lit(True))
    )
    members = tagged.select(
        F.struct(
            F.col("m.doc").alias("doc"),
            F.col("nw"),
            F.col("m.sig").alias("sig"),
        ).alias("m"),
        "band",
        "bh",
    )
    # same corpus-sized bucket exchange discipline as the batch path (see
    # _size_band_exchange): the window sort's per-partition volume must not
    # grow linearly with the INDEX side — the whole point of the
    # incremental path is that a 100 TB existing index is in play.  The
    # trigger/skip conditions are evaluated on the combined footer rows.
    est_e = _footer_rows(existing)
    est_n = _footer_rows(new)
    members = _size_band_exchange(
        members,
        existing,
        id_col,
        n_bands,
        est_rows=(None if est_e is None or est_n is None else est_e + est_n),
        count_rows=lambda: existing.select(id_col).count()
        + new.select(id_col).count(),
    )
    # same doc-ordered pre-collect cap as the batch path: identical
    # membership ordering means identical over-full-bucket drop decisions,
    # which is what keeps the filtered-full-corpus equivalence exact
    w = W.partitionBy("band", "bh").orderBy(F.col("m.doc"))
    buckets = (
        members.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= max_bucket + 1)
        .groupBy("band", "bh")
        .agg(
            F.array_sort(F.collect_list("m")).alias("ms"),
            F.max(F.col("m.nw").cast("int")).alias("has_new"),
        )
        # index-probe prune: buckets untouched by the new batch are skipped
        .filter(
            (F.col("has_new") == 1)
            & (F.size("ms") >= 2)
            & (F.size("ms") <= max_bucket)
        )
    )
    n_equal = " + ".join(
        f"IF(element_at(x.sig, {k + 1}) = element_at(y.sig, {k + 1}), 1, 0)"
        for k in range(n_hashes)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) -> "
        "filter(transform(slice(ms, i + 2, size(ms)), y -> "
        "struct(x.doc AS doc_a, y.doc AS doc_b, (x.nw OR y.nw) AS touches_new, "
        f"CAST(({n_equal}) AS DOUBLE) / {float(n_hashes)!r} AS est_jaccard)), "
        "p -> p.touches_new)))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("est_jaccard") >= threshold)
        .select("doc_a", "doc_b", "est_jaccard")
    )


def _minhash_incremental_oracle() -> str:
    """Incremental == full-corpus LSH pairs restricted to pairs touching
    the new batch (the equivalence the pytest pins); the oracle states it
    exactly that way over the same portable pipeline."""
    full = _minhash_lsh_oracle()
    return f"""
WITH batch_cut AS (
  SELECT quantile_cont(doc_id, 0.8) AS c FROM documents
),
full_pairs AS ({full})
SELECT doc_a, doc_b, est_jaccard
FROM full_pairs, batch_cut
WHERE doc_a > batch_cut.c OR doc_b > batch_cut.c
"""


@query("dedup_minhash_incremental", oracle=_minhash_incremental_oracle())
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH probe: the newest 20% of documents (by id) arrive as
    a batch against the already-indexed 80%; emit near-dup pairs touching
    the batch.  HARD-oracled: the DuckDB side replays the full portable
    pipeline and applies the touches-the-batch filter — exactly the
    incremental==filtered-full equivalence the pytest pins."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    cut = d.agg(F.expr("percentile(doc_id, 0.8)").alias("c")).collect()[0][0]
    existing = d.filter(F.col("doc_id") <= cut)
    new = d.filter(F.col("doc_id") > cut)
    return minhash_lsh_pairs_incremental(
        existing, new, "doc_id", "text", n=5, threshold=0.5
    )


# --------------------------------------------------------------------------
# SimHash (64-bit, hamming near-dup)
# --------------------------------------------------------------------------


# Second portable permutation: the low 31 fingerprint bits come from
# (A*h + B) mod M, the high 31 from h itself — 62 near-independent vote
# bits per shingle, all integer arithmetic DuckDB replays (what lets
# dedup_simhash carry a hard oracle where the 64-bit xxhash could not).
SIMHASH_BITS = 62
_SIM_A, _SIM_B = _port_perm_coeffs(97)


def simhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 5
) -> DataFrame:
    """62-bit SimHash per doc: sign of per-bit vote sums over shingle
    hashes.  Same explode->aggregate shape as minhash_signatures: one
    shuffle, 62 `sum(+-1)` aggregate columns with map-side combine, then a
    cheap bit-assembly projection on the aggregated rows.  Votes are
    MULTISET-weighted (a shingle repeated k times votes k times) — the
    Charikar-style weighted variant; near-identical buckets for natural
    text, and the repeat-weighting is arguably the better similarity for
    dedup (boilerplate repetition pulls fingerprints together).

    Bit sources: bits 0..30 test the second permutation (A*h+B mod M) of
    the portable 31-bit shingle hash, bits 31..61 test the hash itself."""
    # spread the 1-task local scan before the expensive shingle projection;
    # the multiset explode comes from the shuffle-free per-row array
    # (portable_shingle_hash_array_expr), and the vote aggregation reuses
    # the spread's doc exchange
    sh = _spread(df, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(portable_shingle_hash_array_expr(text_col, n))
        ).alias("h"),
    ).withColumn("h2", (F.col("h") * _SIM_A + _SIM_B) % _PORT_M)

    def bit_src(b: int):
        return (
            F.col("h2").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b))
            if b < 31
            else F.col("h").bitwiseAND(F.shiftleft(F.lit(1).cast("long"), b - 31))
        )

    votes = [
        F.sum(F.when(bit_src(b) != 0, 1).otherwise(-1)).alias(f"v{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = sh.groupBy("doc").agg(*votes)
    sig = None
    for b in range(SIMHASH_BITS):
        bit = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sig = bit if sig is None else sig.bitwiseOR(bit)
    return per_doc.select("doc", sig.alias("sh"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    max_hamming: int = 8,
    max_bucket: int = 256,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, bucketed by the 4 16-bit
    quarters (a pair within hamming<=8 shares at least one identical
    quarter... pigeonhole guarantees d<=3 collides; wider d is best-effort,
    matching SimHash practice).

    `max_bucket` bounds per-bucket pair work on boilerplate-heavy corpora
    (a quarter bucket with m docs emits m^2/2 candidates): over-full
    buckets are SLICED to their `max_bucket` smallest doc ids rather than
    dropped — unlike the minhash bands, a d<=3 pair is only guaranteed to
    collide in one quarter, so dropping the bucket would break pigeonhole
    completeness outright while slicing keeps it for the retained members
    and stays deterministic.  Work per bucket is therefore <= C(max_bucket,
    2) regardless of skew; equivalence at cap->infinity is pinned in
    test_dedup."""
    sig = simhash_signatures(df, id_col, text_col, n)
    quarters = sig.select(
        "doc",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).alias("q"),
                        F.shiftrightunsigned(F.col("sh"), q * 16)
                        .bitwiseAND(F.lit(0xFFFF).cast("long"))
                        .alias("qh"),
                    )
                    for q in range(4)
                ]
            )
        ).alias("qq"),
    ).select("doc", "sh", F.col("qq.q").alias("q"), F.col("qq.qh").alias("qh"))
    # bucket-grouped pair emission (same shape as minhash_lsh_pairs: the
    # old self-join needed an eager checkpoint and shuffled the signature
    # table twice); hamming is computed inline from the collected structs
    # skew cap BEFORE the collect: keep the max_bucket smallest doc ids per
    # quarter bucket, bounding both the aggregation buffer and pair
    # emission (<= C(max_bucket, 2)); the window reuses the groupBy's hash
    # exchange so this adds a sort, not a shuffle
    wq = W.partitionBy("q", "qh").orderBy("doc")
    buckets = (
        quarters.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= max_bucket)
        .groupBy("q", "qh")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("doc"), F.col("sh")))
            ).alias("ms")
        )
        .filter(F.size("ms") >= 2)
    )
    pair_expr = (
        "flatten(transform(ms, (x, i) -> "
        "transform(slice(ms, i + 2, size(ms)), y -> "
        "struct(x.doc AS doc_a, y.doc AS doc_b, "
        "CAST(bit_count(x.sh ^ y.sh) AS INT) AS hamming))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _simhash_oracle(
    n: int = 5, max_hamming: int = 8, max_bucket: int = 256
) -> str:
    """DuckDB replay of the full SimHash pipeline: portable shingle hashes,
    the second permutation, 62 vote sums, sign-bit fingerprint assembly,
    16-bit quarter buckets with the doc-ordered slice cap, hamming filter."""
    vote_cols = []
    for b in range(SIMHASH_BITS):
        src = f"((h2 >> {b}) & 1)" if b < 31 else f"((h >> {b - 31}) & 1)"
        vote_cols.append(
            f"SUM(CASE WHEN {src} = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    votes_sql = ",\n         ".join(vote_cols)
    fp_terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    quarter_union = "\n  UNION ALL\n".join(
        f"  SELECT doc, fp, {q} AS q, (fp >> {q * 16}) & 65535 AS qh FROM fp"
        for q in range(4)
    )
    return f"""
WITH {_portable_shingle_ctes(n)},
shex AS (
  SELECT doc, UNNEST(sa) AS h FROM sh
),
h2ex AS (
  SELECT doc, h, (h * {_SIM_A} + {_SIM_B}) % {_PORT_M} AS h2 FROM shex
),
votes AS (
  SELECT doc,
         {votes_sql}
  FROM h2ex GROUP BY doc
),
fp AS (
  SELECT doc, {fp_terms} AS fp FROM votes
),
quarters AS (
{quarter_union}
),
capped AS (
  SELECT doc, fp, q, qh FROM (
    SELECT doc, fp, q, qh,
           ROW_NUMBER() OVER (PARTITION BY q, qh ORDER BY doc) AS rn
    FROM quarters
  ) WHERE rn <= {max_bucket}
)
SELECT DISTINCT a.doc AS doc_a, b.doc AS doc_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM capped a
JOIN capped b ON a.q = b.q AND a.qh = b.qh AND a.doc < b.doc
WHERE bit_count(xor(a.fp, b.fp)) <= {max_hamming}
"""


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming near-dup pairs — HARD-oracled: the 62-bit portable
    fingerprint (two (a*s+b) mod 2^31-1 permutations of the polynomial
    shingle hash), quarter bucketing with the slice cap, and the hamming
    filter are all integer arithmetic DuckDB replays verbatim."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash_pairs(d, "doc_id", "text", n=5, max_hamming=8)


# --------------------------------------------------------------------------
# Embedding-cosine near-dup (exact)
# --------------------------------------------------------------------------


def embedding_cosine_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    n_blocks: int | None = None,
) -> DataFrame:
    """All id pairs whose embedding cosine similarity >= threshold (exact).

    Blocked-GEMM shape: rows are hashed into n_blocks; every unordered block
    pair (p, q) is cogrouped and scored with one vectorized float64 matrix
    multiply (Arrow-batched applyInPandas — ~1000x the throughput of a
    per-pair expression fold).  Each unordered row pair lands in exactly one
    block pair, so no dedup pass is needed.  The all-pairs space is
    inherently O(n^2): at 100 TB row counts the LSH sign-bucket candidate
    pass (ops/similarity.py lsh_bucket) prunes candidates first and this
    exact kernel verifies survivors; the gate pins the exact kernel.

    n_blocks defaults adaptively: ~1500 rows per block (one cheap count —
    parquet metadata — buys it), capped at 16, so small inputs don't pay
    B(B+1)/2 cogroup tasks of Arrow/scheduling overhead for work one GEMM
    finishes in milliseconds (measured 4.6s -> ~2s at 2k rows), while large
    inputs still fan out across the cluster.
    """
    import math

    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n_blocks = min(16, max(1, math.ceil(df.count() / 1500)))

    e = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__b"),
    )
    # A row in block b is the LEFT side of block pairs (b, q>=b) and the
    # RIGHT side of block pairs (p<=b, b).
    left = e.select(
        "__id", "__v", F.col("__b").alias("kp"), F.explode(
            F.sequence(F.col("__b"), F.lit(n_blocks - 1))
        ).alias("kq"),
    )
    # distinct right-side names: a self-cogroup shares lineage, and
    # same-named attributes on both sides get conflated/pruned by the
    # analyzer (observed: right pdf arrives with only the key columns)
    right = e.select(
        F.col("__id").alias("__rid"), F.col("__v").alias("__rv"), F.explode(
            F.sequence(F.lit(0), F.col("__b"))
        ).alias("kp"), F.col("__b").alias("kq"),
    )

    def score(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        same_block = lpdf["kp"].iat[0] == lpdf["kq"].iat[0] if len(lpdf) else False
        vl = np.vstack(lpdf["__v"].to_numpy()).astype(np.float64)
        vr = np.vstack(rpdf["__rv"].to_numpy()).astype(np.float64)
        nl = np.linalg.norm(vl, axis=1)
        nr = np.linalg.norm(vr, axis=1)
        c = (vl @ vr.T) / np.outer(nl, nr)
        il, ir = np.nonzero(c >= threshold)
        ida = lpdf["__id"].to_numpy()[il]
        idb = rpdf["__rid"].to_numpy()[ir]
        keep = ida < idb if same_block else ida != idb
        ida, idb = ida[keep], idb[keep]
        return pd.DataFrame(
            {"id_a": np.minimum(ida, idb), "id_b": np.maximum(ida, idb)}
        )

    return (
        left.groupBy("kp", "kq")
        .cogroup(right.groupBy("kp", "kq"))
        .applyInPandas(score, schema="id_a long, id_b long")
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.35
""",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate embedding pairs at cosine >= 0.35 (ids only in the
    gate output: pair membership is FP-stable, the raw similarity's last ulp
    is engine-internal).

    This is the exact all-pairs VERIFY kernel — O(n^2) by definition.  The
    100 TB production path is dedup_embedding_cosine_pruned below, which
    generates candidates with banded hyperplane LSH and only runs the exact
    cosine on colliding pairs."""
    e = t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(e, "vec_id", "embedding", threshold=0.35)


# --------------------------------------------------------------------------
# LSH-pruned embedding near-dup: the at-scale composition.  Banded
# random-hyperplane signatures generate candidates (docs colliding in >= 1
# band), the exact JVM-side cosine verifies survivors.  The oracle replays
# the IDENTICAL banded prune (same deterministic plane coefficients), so the
# gate hash-matches exactly — the approximation is in recall vs the all-pairs
# kernel, never in what either engine computes.
# --------------------------------------------------------------------------

PRUNE_DIM = 64  # embeddings table vec dim (TESTDATA.md)
PRUNE_PLANES_PER_BAND = 4
PRUNE_BANDS = 8


def embedding_cosine_pairs_pruned(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    planes_per_band: int = PRUNE_PLANES_PER_BAND,
    n_bands: int = PRUNE_BANDS,
    max_bucket_rows: int = 8192,
) -> DataFrame:
    """LSH-prune -> exact-verify near-dup pairs (id_a < id_b).

    Plan shape at 100 TB: the banded signature is a scan-side JVM projection
    (no shuffle, no Python); explode to n_bands rows/doc; ONE shuffle on
    (band, bucket) for the self-equi-join — only docs colliding in a band
    ever pair, so the all-pairs O(n^2) stage of embedding_cosine_pairs is
    gone; dropDuplicates + the exact cosine run on candidates only.
    Candidate fan-out per bucket is bounded by bucket occupancy the same way
    minhash_lsh_pairs bounds it; more planes_per_band = stronger pruning,
    more bands = higher recall (1-(1-p^r)^b with p = 1 - theta/pi).

    Skew guard: a bucket larger than ``max_bucket_rows`` is split into
    balanced sub-blocks and every unordered BLOCK PAIR verifies as its own
    task (the blocked-GEMM shape of embedding_cosine_pairs, applied inside
    the bucket).  The emitted pair set is identical for any cap — splitting
    only re-partitions the exact verify — so one hot bucket (correlated
    data, too few planes for the row count) bounds task memory at
    ~2*cap*dim doubles and spreads across the cluster instead of pinning
    one executor.  For TOTAL work that stays linear in n, the banding
    itself must scale — use embedding_cosine_pairs_pruned_auto, which holds
    expected occupancy constant (planes ~ log2(n/occupancy)) and re-derives
    the band count for a target recall.  Measured at the bench 30x tier
    (bench.py scale_queries): the fixed 4-plane/16-bucket gate config grows
    quadratically (8.3 s at 10x -> 84.6 s at 30x), the auto config does not.
    """
    bands = _hp_signatures(
        df, id_col, vec_col, dim, planes_per_band, n_bands
    )
    return _verify_banded(bands, threshold, max_bucket_rows)


def _require_integral_id(df: DataFrame, id_col: str) -> None:
    """The banded GEMM kernels carry ids as int64 (__id long): a silent
    cast of a non-integral id column (string doc ids, decimals) would NULL
    every id and the pair set would quietly come back empty (ADVICE r11 —
    the old pandas kernel at least failed loudly).  Fail at plan-build
    time instead; callers with string ids hash them first (xxhash64)."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
    )

    dtype = df.schema[id_col].dataType
    if not isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"embedding_cosine_pairs*: id column {id_col!r} must be an "
            f"integral type, got {dtype.simpleString()} — map string ids "
            f"to int64 (e.g. F.xxhash64) before calling"
        )


def _hp_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    planes_per_band: int,
    n_bands: int,
) -> DataFrame:
    """(__id, __v, band, bucket): hyperplane sign-bit band signatures via
    ONE Arrow GEMM against the stacked plane matrix (band b, plane r reads
    _plane_coeffs row b*planes_per_band + r; bit r set when proj >= 0) —
    the earlier per-plane Catalyst fold was interpreted per element and
    cost more than the verify GEMMs at the bench 30x tier.  Sign
    semantics match the oracle's sequential list_dot_product up to
    summation-order ulp drift, the accepted risk class of every GEMM
    signature here.  The explode to one row per band is JVM-side
    (posexplode); the vector keeps its source element type through the
    band shuffle (float32 corpus: half the bytes, value-exact cast in
    the kernels)."""
    import numpy as np
    import pandas as pd

    from moosestack_spark.ops.similarity import _plane_coeffs

    G = np.asarray(
        [
            _plane_coeffs(dim, p)
            for p in range(n_bands * planes_per_band)
        ]
    )
    powers = (1 << np.arange(planes_per_band)).astype(np.int64)

    def gen(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            signs = (V @ G.T) >= 0.0  # m x (n_bands * planes_per_band)
            buckets = np.empty((m, n_bands), dtype=np.int64)
            for b in range(n_bands):
                buckets[:, b] = (
                    signs[:, b * planes_per_band : (b + 1) * planes_per_band]
                    @ powers
                )
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__v": pdf["__v"],
                 "__bk": list(buckets)}
            )

    _require_integral_id(df, id_col)
    vec_type = df.schema[vec_col].dataType.simpleString()
    sig = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
    ).mapInPandas(gen, f"__id long, __v {vec_type}, __bk array<long>")
    return sig.select(
        "__id",
        "__v",
        F.posexplode("__bk").alias("band", "bucket"),
    )


def _verify_banded(
    bands: DataFrame, threshold: float, max_bucket_rows: int
) -> DataFrame:
    """Shared banded exact-verify stage: input (__id, __v, band, bucket),
    output distinct (id_a, id_b) with cosine >= threshold.

    Verify INSIDE each (band, bucket) group with one vectorized GEMM and
    emit only the pairs that pass the threshold: candidate pairs are
    never materialized (the earlier self-join spelling shipped ~n_bands x
    sum(m^2/2) candidate rows through dedup and scored each with an
    interpreted 64-term fold — measured 9s warm at sf0.1 vs ~1.5s for
    this shape).  Row-chunked inside the kernel so a hot bucket bounds
    memory at chunk x m scores; a bucket too big for one task means too
    few planes per band — production splits it with the blocked-GEMM
    primitive (embedding_cosine_pairs)."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    # Sub-block assignment: bucket sizes from a map-side-combined count
    # (tiny: one row per occupied bucket) broadcast-joined back, block id
    # from a hash deal — the earlier window spelling paid a full shuffle +
    # sort of the vector-carrying rows just to rank them; the emitted pair
    # set is identical under ANY block assignment (block pairs cover every
    # unordered row pair exactly once), so the hash deal changes nothing
    # downstream.  nb == 1 (the common, well-tuned case) keeps the
    # original one-task-per-bucket plan; a hot bucket fans out into
    # nb*(nb+1)/2 block-pair tasks.
    #
    # The banded signature subtree feeds BOTH the size count and the join
    # probe; materialize it once (disk-backed localCheckpoint, sized like
    # the band shuffle it replaces) — recomputing it doubled the fixed
    # fold-signature path at the bench 30x tier (26 -> 49 s).
    bands = bands.localCheckpoint(eager=True)
    sizes = bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("__m")
    )
    salted = (
        bands.join(F.broadcast(sizes), ["band", "bucket"])
        .withColumn(
            "__nb", F.ceil(F.col("__m") / F.lit(max_bucket_rows)).cast("int")
        )
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64(F.col("__id")), F.col("__nb")).cast("int"),
        )
        .withColumn(
            "pq",
            F.explode(
                F.concat(
                    # left side of block pairs (blk, q >= blk)
                    F.transform(
                        F.sequence(F.col("__blk"), F.col("__nb") - 1),
                        lambda q: F.struct(
                            F.col("__blk").alias("p"), q.alias("q")
                        ),
                    ),
                    # right side of block pairs (p < blk, blk)
                    F.when(
                        F.col("__blk") > 0,
                        F.transform(
                            F.sequence(F.lit(0), F.col("__blk") - 1),
                            lambda p: F.struct(
                                p.alias("p"), F.col("__blk").alias("q")
                            ),
                        ),
                    ).otherwise(F.array()),
                )
            ),
        )
        .select(
            "__id", "__v", "band", "bucket", "__blk",
            F.col("pq.p").alias("p"), F.col("pq.q").alias("q"),
        )
    )

    out_schema = StructType(
        [StructField("id_a", LongType()), StructField("id_b", LongType())]
    )

    def bucket_verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        if len(pdf) < 2:
            return empty
        # The hash deal bounds block size only IN EXPECTATION (ADVICE
        # r11): xxhash64 skew in a hot bucket can overfill one block.
        # Intra-block memory stays hard-bounded by the 4096-row GEMM
        # chunking below, but an overfull block still concentrates one
        # task's WORK — surface it loudly so the dial (planes/bits per
        # band) gets retuned instead of silently pinning an executor.
        if len(pdf) > 2 * max_bucket_rows:
            import sys as _sys

            print(
                f"DEDUP-SKEW-WARNING: verify block holds {len(pdf)} rows "
                f"(> 2x max_bucket_rows={max_bucket_rows}) — hash-deal "
                f"skew in a hot bucket; add planes/bits per band",
                file=_sys.stderr,
            )
        p_blk, q_blk = int(pdf["p"].iat[0]), int(pdf["q"].iat[0])
        blks = pdf["__blk"].to_numpy()
        if p_blk == q_blk:
            # intra-block: upper triangle over id-sorted rows, chunked;
            # pair extraction is ONE nonzero per chunk (the per-row
            # nonzero loop was the 30x/100x tiers' dominant cost — n_bands
            # x n Python iterations, each allocating index arrays)
            m_rows = len(pdf)
            order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
            ids = pdf["__id"].to_numpy()[order]
            V = np.vstack(pdf["__v"].to_numpy()[order]).astype(np.float64)
            nrm = np.linalg.norm(V, axis=1)
            out_a, out_b = [], []
            chunk = 4096
            for lo in range(0, m_rows, chunk):
                hi = min(lo + chunk, m_rows)
                cos = (V[lo:hi] @ V.T) / np.outer(nrm[lo:hi], nrm)
                ii, jj = np.nonzero(cos >= threshold)
                keep = jj > ii + lo  # strict upper triangle in global rows
                out_a.append(ids[ii[keep] + lo])
                out_b.append(ids[jj[keep]])
            if not out_a:
                return empty
            return pd.DataFrame(
                {"id_a": np.concatenate(out_a).astype("int64"),
                 "id_b": np.concatenate(out_b).astype("int64")}
            )
        # cross-block: one GEMM between the two sides, all pairs kept once
        a_side, b_side = pdf[blks == p_blk], pdf[blks == q_blk]
        if len(a_side) == 0 or len(b_side) == 0:
            return empty
        Va = np.vstack(a_side["__v"].to_numpy()).astype(np.float64)
        Vb = np.vstack(b_side["__v"].to_numpy()).astype(np.float64)
        cos = (Va @ Vb.T) / np.outer(
            np.linalg.norm(Va, axis=1), np.linalg.norm(Vb, axis=1)
        )
        ia, ib = np.nonzero(cos >= threshold)
        ida = a_side["__id"].to_numpy()[ia]
        idb = b_side["__id"].to_numpy()[ib]
        return pd.DataFrame(
            {"id_a": np.minimum(ida, idb), "id_b": np.maximum(ida, idb)}
        )

    return (
        salted.groupBy("band", "bucket", "p", "q")
        .applyInPandas(bucket_verify, out_schema)
        .dropDuplicates(["id_a", "id_b"])
    )


def _auto_bits(
    n_rows: int,
    target_occupancy: int,
    min_bits: int = 1,
    max_bits: int = 21,
) -> int:
    """Smallest B with target_occupancy * 2**B >= n_rows, clamped to
    [min_bits, max_bits] — the bucket-count dial of the occupancy-auto
    banding (2**B buckets per band).  Integer-exact on purpose: the oracle
    SQL replays this choice as a CASE over COUNT(*) with integer
    thresholds, so a float ceil(log2(...)) that rounds differently at an
    exact power-of-two boundary would break the hash-exact contract."""
    b = 1
    while (target_occupancy << b) < n_rows and b < max_bits:
        b += 1
    return max(min_bits, min(max_bits, b))


# Cross-polytope sub-hashes chunk at most 7 selectivity bits each (d'=64,
# 128 outcomes) — beyond that the projection matrix stops being model-small
# per hash and the collision-prob calibration loses resolution.
_CP_MAX_SUB_BITS = 7


def _cp_sub_dims(bits: int) -> list[int]:
    """Decompose B selectivity bits into cross-polytope sub-hash
    projection widths: full-width d'=64 chunks (7 bits: 2*64 outcomes)
    plus one residual d'=2**(r-1) chunk (r bits).  A band's bucket id is
    the mixed-radix concatenation of its sub-hash codes."""
    dims = []
    while bits > _CP_MAX_SUB_BITS:
        dims.append(1 << (_CP_MAX_SUB_BITS - 1))
        bits -= _CP_MAX_SUB_BITS
    if bits >= 1:
        dims.append(1 << (bits - 1))
    return dims


_CP_PROB_CACHE: dict = {}


def _cp_collision_prob(
    threshold: float, d_prime: int, dim: int, n_pairs: int = 4096
) -> float:
    """Collision probability of ONE cross-polytope sub-hash (bucket =
    argmax_j |proj_j| with sign, 2*d' outcomes) for a vector pair at
    cosine ``threshold``, estimated by a DETERMINISTIC Monte CarlO sweep
    (fixed-seed numpy Generator; same value in the runtime dial and the
    oracle generator, so the two cannot drift).

    Why cross-polytope instead of more hyperplane bits (VERDICT r10 #2):
    hyperplane LSH pays rho = ln(1/p1)/ln 2 ~ 0.22 per selectivity bit at
    cosine 0.9, so holding occupancy constant as n grows forces the band
    count up ~(n)^0.22 and total verify work super-linear — exactly the
    measured 4.30x growth on a 3.33x corpus step.  Cross-polytope's
    per-bit rho at the same gap is ~0.05 (Andoni et al., "Practical and
    Optimal LSH for Angular Distance", NeurIPS 2015), so the band count
    stays flat across decades and the occupancy-constant dial is finally
    linear.

    Projection rows come from the deterministic GAUSSIAN stream
    (_gauss_coeffs), the same rows the runtime kernel and the oracle
    generator use.  Gaussian rows make the projection ensemble
    rotation-invariant, so the collision probability of a pair depends
    only on its ANGLE, not its absolute orientation (ADVICE r11: the
    earlier uniform-[-1,1) family was not rotation-invariant, and a
    corpus concentrated in unfavorable directions could collide below
    the orientation-averaged calibration).  The MC still marginalizes
    over 8 matrices x n_pairs pair orientations — under rotation
    invariance every orientation estimates the SAME p, so the averaging
    now only shrinks variance instead of hiding direction bias.
    """
    import numpy as np

    from moosestack_spark.ops.similarity import _gauss_coeffs

    key = (round(float(threshold), 6), int(d_prime), int(dim))
    if key in _CP_PROB_CACHE:
        return _CP_PROB_CACHE[key]
    t = min(max(float(threshold), -1.0), 1.0)
    rng = np.random.default_rng(0xC0FFEE ^ (d_prime * 1009) ^ (dim * 7919))
    x = rng.standard_normal((n_pairs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    z = rng.standard_normal((n_pairs, dim))
    z -= (z * x).sum(axis=1, keepdims=True) * x
    z /= np.linalg.norm(z, axis=1, keepdims=True)
    y = t * x + np.sqrt(max(0.0, 1.0 - t * t)) * z
    n_mats = 8
    G = np.asarray(
        [_gauss_coeffs(dim, p) for p in range(n_mats * d_prime)]
    )  # stacked (n_mats*d', dim)
    hits = 0
    for m in range(n_mats):
        Gm = G[m * d_prime : (m + 1) * d_prime]
        rx, ry = x @ Gm.T, y @ Gm.T
        ix, iy = np.argmax(np.abs(rx), axis=1), np.argmax(np.abs(ry), axis=1)
        sx = rx[np.arange(n_pairs), ix] < 0
        sy = ry[np.arange(n_pairs), iy] < 0
        hits += int(np.sum((ix == iy) & (sx == sy)))
    p = hits / float(n_mats * n_pairs)
    _CP_PROB_CACHE[key] = p
    return p


def _cp_bands(
    threshold: float,
    dims: list[int],
    recall: float = 0.9,
    max_bands: int = 64,
    dim: int = 64,
) -> tuple[int, int]:
    """(capped, uncapped) band count for cross-polytope banding: a band
    of sub-hashes [d'_0, d'_1, ...] agrees on a pair at cosine t with
    p_band = prod_i p_cp(t, d'_i), so bands = ceil(ln(1-recall) /
    ln(1-p_band)).  Shared by the runtime auto config and the oracle
    generator so the two can never drift."""
    import math

    p_band = 1.0
    for d in dims:
        p_band *= _cp_collision_prob(threshold, d, dim)
    if p_band >= 1.0 - 1e-12:
        return 1, 1
    if p_band <= 0.0:
        return max_bands, max_bands * 1000
    needed = math.ceil(
        math.log(max(1e-12, 1.0 - recall)) / math.log(1.0 - p_band)
    )
    return int(min(max_bands, max(1, needed))), int(needed)


def _cp_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    dims: list[int],
    n_bands: int,
) -> DataFrame:
    """(__id, __v, band, bucket): cross-polytope band signatures via ONE
    Arrow-batched GEMM against the stacked projection matrix (bands x
    sum(dims) rows) — no per-plane Catalyst folds, no shuffle; the
    explode to one row per band happens JVM-side (posexplode) so the
    vector crosses Arrow once.  Band b's sub-hash i reads projection rows
    [b*per_band + offset_i, ... + d_i) of the deterministic GAUSSIAN
    stream (_gauss_coeffs — rotation-invariant ensemble, so the
    calibrated collision prob holds for any corpus orientation); bucket =
    mixed-radix concat of sub-codes, code = 2*argmax_j |r_j| + (1 if
    r < 0) with numpy's first-max tie-break — the oracle replays the same
    first-match CASE."""
    import numpy as np
    import pandas as pd

    from moosestack_spark.ops.similarity import _gauss_coeffs

    per_band = sum(dims)
    G = np.asarray(
        [_gauss_coeffs(dim, p) for p in range(n_bands * per_band)]
    )
    strides = []
    s = 1
    for d in dims:
        strides.append(s)
        s *= 2 * d

    def gen(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            R = V @ G.T  # m x (n_bands * per_band)
            buckets = np.zeros((m, n_bands), dtype=np.int64)
            col = 0
            rows = np.arange(m)
            for b in range(n_bands):
                acc = np.zeros(m, dtype=np.int64)
                for d, stride in zip(dims, strides):
                    sub = R[:, col : col + d]
                    col += d
                    idx = np.argmax(np.abs(sub), axis=1)
                    r = sub[rows, idx]
                    acc += (2 * idx + (r < 0)) * stride
                buckets[:, b] = acc
            yield pd.DataFrame(
                {"__id": pdf["__id"], "__v": pdf["__v"],
                 "__bk": list(buckets)}
            )

    # The vector keeps its SOURCE element type end to end: a float32
    # corpus ships 256B/row through the band shuffle instead of 512B (the
    # shuffle is the auto path's biggest linear cost at scale), and the
    # verify kernel's float32 -> float64 cast is value-exact, so the
    # emitted pairs are identical to casting at the scan.
    _require_integral_id(df, id_col)
    vec_type = df.schema[vec_col].dataType.simpleString()
    sig = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
    ).mapInPandas(gen, f"__id long, __v {vec_type}, __bk array<long>")
    return sig.select(
        "__id",
        "__v",
        F.posexplode("__bk").alias("band", "bucket"),
    )


def embedding_cosine_pairs_pruned_auto(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    *,
    n_rows: int | None = None,
    target_occupancy: int = 2048,
    recall: float = 0.9,
    min_bits: int = 1,
    max_bits: int = 21,
    max_bands: int = 64,
    max_bucket_rows: int = 8192,
) -> DataFrame:
    """Occupancy-targeted CROSS-POLYTOPE banding: the linear-work scale
    path (VERDICT r10 #2 re-derivation).

    - bits B = ceil(log2(n / target_occupancy)) (integer-exact, _auto_bits)
      gives 2**B buckets per band, so expected occupancy — and with it
      per-bucket verify work — stays ~target_occupancy as n grows;
    - each band hashes with cross-polytope sub-hashes (_cp_sub_dims:
      d'=64 chunks of 7 bits + one residual 2**(r-1) chunk); bucket =
      argmax_j |proj_j| with sign, mixed-radix concatenated.  Per
      selectivity bit, cross-polytope keeps rho ~ 0.05 at cosine 0.9
      where hyperplane pays ~0.22 — the band count the recall pin demands
      stays FLAT across corpus decades (2 bands at both the 30x and 100x
      bench tiers) instead of growing n^0.22, which is what made the
      hyperplane auto dial super-linear (measured 4.30x on a 3.33x step);
    - n_bands = ceil(ln(1-recall) / ln(1-p_band)) with p_band from the
      deterministic Monte Carlo calibration (_cp_collision_prob), so pair
      recall at the threshold stays >= ``recall``.

    The n_rows count is one parquet-metadata job (pass it when known).
    max_bands caps the fan-out and is logged loudly when it binds (recall
    below target is a tuning fact the operator must see)."""
    if n_rows is None:
        n_rows = df.count()
    bits = _auto_bits(n_rows, target_occupancy, min_bits, max_bits)
    dims = _cp_sub_dims(bits)
    n_bands, bands_needed = _cp_bands(
        threshold, dims, recall, max_bands, dim=dim
    )
    if bands_needed > max_bands:
        p_band = 1.0
        for d in dims:
            p_band *= _cp_collision_prob(threshold, d, dim)
        achieved = 1.0 - (1.0 - p_band) ** n_bands
        warnings.warn(
            f"embedding_cosine_pairs_pruned_auto: recall target {recall} at "
            f"threshold {threshold} needs {bands_needed} bands; capped at "
            f"{max_bands} (achieved recall ~{achieved:.3f}). Raise the "
            f"threshold or target_occupancy.",
            stacklevel=2,
        )
    bands = _cp_signatures(df, id_col, vec_col, dim, dims, n_bands)
    return _verify_banded(bands, threshold, max_bucket_rows)


def _pruned_oracle() -> str:
    """DuckDB SQL replaying the banded prune with the same plane literals."""
    from moosestack_spark.ops.similarity import _plane_coeffs

    band_exprs = []
    for b in range(PRUNE_BANDS):
        bits = []
        for r in range(PRUNE_PLANES_PER_BAND):
            coeffs = _plane_coeffs(PRUNE_DIM, b * PRUNE_PLANES_PER_BAND + r)
            lits = ", ".join(repr(c) for c in coeffs)
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 "
                f"THEN {1 << r} ELSE 0 END)"
            )
        band_exprs.append(" + ".join(bits) + f" AS b{b}")
    bucket_sql = ",\n         ".join(band_exprs)
    collide = " OR ".join(f"a.b{b} = b.b{b}" for b in range(PRUNE_BANDS))
    return f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), sig AS (
  SELECT vec_id, v,
         {bucket_sql}
  FROM e
), cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM sig a JOIN sig b ON a.vec_id < b.vec_id AND ({collide})
)
SELECT id_a, id_b FROM cand
WHERE list_dot_product(va, vb)
      / (SQRT(list_dot_product(va, va)) * SQRT(list_dot_product(vb, vb))) >= 0.35
"""


@query("dedup_embedding_cosine_pruned", oracle=_pruned_oracle())
def dedup_embedding_cosine_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-config banded-LSH prune + exact cosine verify (threshold 0.35,
    8 bands x 4 planes ~ 0.71 per-pair candidate recall at cos 0.35; recall
    rises steeply with similarity — 0.97 at cos 0.6).  The oracle replays
    the same prune, so ids hash-match exactly.

    CORRECTNESS GATE ONLY: the fixed 4-plane config keeps bucket occupancy
    ~n/16, so verify work is O(n^2/16) — measured super-linear at the bench
    30x tier.  The production default is the occupancy-targeted
    dedup_embedding_cosine_pruned_auto below, whose verify work is linear
    in n (planes grow with log n)."""
    e = t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs_pruned(
        e, "vec_id", "embedding", threshold=0.35, dim=PRUNE_DIM
    )


# --------------------------------------------------------------------------
# Occupancy-targeted gate: the AUTO config is the production default, so it
# gets its own hash-exact oracle.  The config choice is a deterministic
# integer function of COUNT(*) (_auto_bits), so the oracle replays the
# choice itself as a CASE over n and carries the full per-config band menu —
# whichever arm Spark picks at any gate SF, DuckDB picks the same one.
# Gate knobs are pinned small so the menu stays enumerable: occupancy 64
# makes n=500 (sf0.001/0.01) choose B=3 (8 buckets/band, d'=4) and n=2000
# (sf0.1) choose B=5 (32 buckets, d'=16) — the n-dependent switch is
# genuinely exercised across the test SFs.
# --------------------------------------------------------------------------

AUTO_GATE_THRESHOLD = 0.4  # 59-920 true pairs across the gate SFs
AUTO_GATE_OCC = 64
AUTO_GATE_RECALL = 0.9
AUTO_GATE_MIN_BITS = 3
AUTO_GATE_MAX_BITS = 5  # oracle menu covers B in [3, 5]


def _cp_bucket_case(names: list[str]) -> str:
    """CASE expression replaying numpy first-max argmax + sign over the
    named projection columns: arm j fires when |p_j| >= |p_k| for every
    k > j (earlier arms failing implies an earlier |p| was not the max),
    value 2*j + sign-bit."""
    d = len(names)
    arms = []
    for j in range(d - 1):
        cond = " AND ".join(
            f"ABS({names[j]}) >= ABS({names[k]})" for k in range(j + 1, d)
        )
        arms.append(
            f"WHEN {cond} THEN {2 * j} + "
            f"(CASE WHEN {names[j]} >= 0 THEN 0 ELSE 1 END)"
        )
    last = (
        f"{2 * (d - 1)} + "
        f"(CASE WHEN {names[d - 1]} >= 0 THEN 0 ELSE 1 END)"
    )
    if d == 1:
        return f"(CASE WHEN {names[0]} >= 0 THEN 0 ELSE 1 END)"
    return "CASE " + " ".join(arms) + f" ELSE {last} END"


def _pruned_auto_oracle() -> str:
    """DuckDB SQL replaying the occupancy-targeted CROSS-POLYTOPE banding
    END TO END: COUNT(*) picks the bit count with the same integer
    thresholds as _auto_bits, the per-config band counts are inlined from
    _cp_bands (generated by the SAME helpers the runtime uses, so they
    cannot drift), the projection literals match the kernel's Gaussian
    _gauss_coeffs stream, and the bucket CASE replays numpy's first-max
    argmax tie-break."""
    from moosestack_spark.ops.similarity import _gauss_coeffs

    proj_cols, bucket_cols, arms = [], [], []
    for bits in range(AUTO_GATE_MIN_BITS, AUTO_GATE_MAX_BITS + 1):
        d_prime = 1 << (bits - 1)  # single sub-hash for B <= 7
        bands, _ = _cp_bands(
            AUTO_GATE_THRESHOLD, [d_prime], AUTO_GATE_RECALL, dim=PRUNE_DIM
        )
        band_names = []
        for b in range(bands):
            names = []
            for j in range(d_prime):
                coeffs = _gauss_coeffs(PRUNE_DIM, b * d_prime + j)
                lits = ", ".join(repr(c) for c in coeffs)
                proj_cols.append(
                    f"list_dot_product(v, [{lits}]) AS q{bits}_{b}_{j}"
                )
                names.append(f"q{bits}_{b}_{j}")
            bucket_cols.append(
                f"{_cp_bucket_case(names)} AS c{bits}_{b}"
            )
            band_names.append(f"c{bits}_{b}")
        collide = " OR ".join(f"a.{c} = b.{c}" for c in band_names)
        arms.append(f"(cfg.bits = {bits} AND ({collide}))")
    bits_case = " ".join(
        f"WHEN n <= {AUTO_GATE_OCC << bb} THEN {bb}"
        for bb in range(AUTO_GATE_MIN_BITS, AUTO_GATE_MAX_BITS)
    )
    proj_sql = ",\n         ".join(proj_cols)
    bucket_sql = ",\n         ".join(bucket_cols)
    arm_sql = "\n        OR ".join(arms)
    return f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cfg AS (
  SELECT CASE {bits_case} ELSE {AUTO_GATE_MAX_BITS} END AS bits
  FROM (SELECT COUNT(*) AS n FROM e)
), proj AS (
  SELECT vec_id, v,
         {proj_sql}
  FROM e
), sig AS (
  SELECT vec_id, v,
         {bucket_sql}
  FROM proj
), cand AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb
  FROM sig a, sig b, cfg
  WHERE a.vec_id < b.vec_id AND (
        {arm_sql})
)
SELECT id_a, id_b FROM cand
WHERE list_dot_product(va, vb)
      / (SQRT(list_dot_product(va, va)) * SQRT(list_dot_product(vb, vb)))
      >= {AUTO_GATE_THRESHOLD}
"""


@query("dedup_embedding_cosine_pruned_auto", oracle=_pruned_auto_oracle())
def dedup_embedding_cosine_pruned_auto(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The PRODUCTION embedding near-dup path: occupancy-targeted
    cross-polytope banding (2**B buckets/band with B ~ log2(n/occupancy),
    so expected bucket occupancy — and with it per-bucket verify work —
    stays constant as n grows; cross-polytope keeps the band count FLAT
    across corpus decades, so total work is linear where the hyperplane
    dial grew n^0.22 super-linear) in front of the exact per-bucket GEMM
    verify.  The oracle replays the config CHOICE itself (CASE over
    COUNT(*)), so this gate hash-verifies the auto path end to end, not
    just one frozen configuration."""
    e = t(spark, sf_dir, "embeddings")
    n = e.count()
    return embedding_cosine_pairs_pruned_auto(
        e,
        "vec_id",
        "embedding",
        threshold=AUTO_GATE_THRESHOLD,
        dim=PRUNE_DIM,
        n_rows=n,
        target_occupancy=AUTO_GATE_OCC,
        recall=AUTO_GATE_RECALL,
        min_bits=AUTO_GATE_MIN_BITS,
        max_bits=AUTO_GATE_MAX_BITS,
    )


# --------------------------------------------------------------------------
# Substring-level dedup: longest shared token run between document pairs
# (the exact-substring approach of "Deduplicating Training Data Makes
# Language Models Better" re-expressed relationally).  Doc-level dedup
# misses partially-copied text; this finds it:
#
# 1. positional k-grams per doc (JVM slice/posexplode, md5'd so the join
#    key is fixed-width — md5 exists in both engines, so the ORACLE can
#    replay the exact pipeline);
# 2. document-frequency cap on gram hashes before the self-join (same
#    boilerplate-shingle guard as ngram_jaccard — a gram in m docs would
#    otherwise contribute m^2/2 pairs);
# 3. self-join on gram hash (doc_a < doc_b) -> matched position pairs;
# 4. maximal runs via DIAGONAL ISLANDS: matches on one shared substring
#    satisfy pos_a - pos_b = const, with consecutive pos_a; so group by
#    (a, b, diag) and split islands with the pos_a - row_number() trick —
#    run length in tokens = consecutive-k-gram count + k - 1.  Window
#    partitions by pair+diagonal, so skew is bounded by the df cap.
# --------------------------------------------------------------------------


def shared_token_runs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_run: int = 15,
    max_gram_df: int = 50,
) -> DataFrame:
    """(doc_a, doc_b, longest_run): maximal shared consecutive-token run
    per pair, for pairs sharing at least one run of >= min_run tokens."""
    from pyspark.sql import Window

    from moosestack_spark.ops.text import tokens

    toks = tokens(F.lower(F.col(text_col)))
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ").cast("binary"))
    )
    g = df.select(
        F.col(id_col).alias("doc"), F.posexplode(grams).alias("pos", "gh")
    )
    rare = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_gram_df)
        .select("gh")
    )
    g = g.join(rare, "gh")
    pairs = (
        g.alias("x")
        .join(g.alias("y"), "gh")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.pos").alias("pa"),
            F.col("y.pos").alias("pb"),
        )
        .distinct()
    )
    w = Window.partitionBy("doc_a", "doc_b", F.col("pa") - F.col("pb")).orderBy(
        F.col("pa").asc()
    )
    runs = (
        pairs.withColumn("__isl", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", F.col("pa") - F.col("pb"), "__isl")
        .agg((F.count(F.lit(1)) + (k - 1)).alias("run_len"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(F.max("run_len").cast("bigint").alias("longest_run"))
        .filter(F.col("longest_run") >= min_run)
    )


@query(
    "dedup_substring_runs",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           string_split(regexp_replace(TRIM(text), '\s+', ' ', 'g'), ' ')[1:40],
           ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
), toks AS (
  SELECT doc_id,
         string_split(regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM corpus
), grams AS (
  SELECT doc_id AS doc, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(w[CAST(i AS BIGINT):CAST(i + 9 AS BIGINT)], ' ')) AS gh
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, CAST(len(w) - 9 AS BIGINT))) AS i
  )
  WHERE len(w) >= 10
), rare AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) <= 50
), g AS (
  SELECT grams.* FROM grams JOIN rare USING (gh)
), pairs AS (
  SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b, x.pos AS pa, y.pos AS pb
  FROM g x JOIN g y ON x.gh = y.gh AND x.doc < y.doc
), isl AS (
  SELECT doc_a, doc_b, pa - pb AS diag, pa,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa ASC) AS island
  FROM pairs
), runs AS (
  SELECT doc_a, doc_b, COUNT(*) + 9 AS run_len
  FROM isl GROUP BY doc_a, doc_b, diag, island
)
SELECT doc_a, doc_b, CAST(MAX(run_len) AS BIGINT) AS longest_run
FROM runs GROUP BY doc_a, doc_b
HAVING MAX(run_len) >= 15
""",
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup over a corpus with planted partial copies: every
    5th doc's first 40 tokens re-inserted as a new doc.  Finds the full
    copies' maximal runs AND any organic overlap, hash-checked."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    prefix40 = F.array_join(
        F.slice(
            F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " "),
            1,
            40,
        ),
        " ",
    )
    planted = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), prefix40.alias("text")
    )
    return shared_token_runs(d.unionByName(planted))


def substring_dedup_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    min_run: int = 15,
    max_gram_df: int = 50,
) -> DataFrame:
    """The REWRITE half of exact-substring dedup (Lee et al. 2022 remove
    the duplicated span; finding it alone — shared_token_runs — leaves the
    corpus unchanged): every shared token run of >= min_run tokens is CUT
    from all but the min-id owner.  Returns one row per input doc:
    (id_col, clean_text, n_tokens_before, n_tokens_after); docs whose
    every token was duplicated come back with clean_text = ''.

    Relational rewrite discipline (same as linedup's clean pass): the
    delete set is materialized as (doc, token_pos) rows and removed with
    ONE anti-join against the posexploded tokens — no per-doc Python, no
    interval logic in the hot path.  Scale shape: the delete set is the
    duplicated-token volume (df-capped upstream), the anti-join shuffles
    on doc, and text is rebuilt with one ordered-struct array_sort per
    doc — all JVM-side.
    """
    from moosestack_spark.ops.text import tokens

    toks = tokens(F.lower(F.col(text_col)))
    idx = F.when(
        F.size(toks) >= k, F.sequence(F.lit(1), F.size(toks) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = F.transform(
        idx, lambda i: F.md5(F.array_join(F.slice(toks, i, k), " ").cast("binary"))
    )
    g = df.select(
        F.col(id_col).alias("doc"), F.posexplode(grams).alias("pos", "gh")
    ).withColumn("pos", F.col("pos") + 1)
    rare = (
        g.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") <= max_gram_df)
        .select("gh")
    )
    g = g.join(rare, "gh")
    pairs = (
        g.alias("x")
        .join(g.alias("y"), "gh")
        .filter(F.col("x.doc") < F.col("y.doc"))
        .select(
            F.col("x.doc").alias("doc_a"),
            F.col("y.doc").alias("doc_b"),
            F.col("x.pos").alias("pa"),
            F.col("y.pos").alias("pb"),
        )
        .distinct()
    )
    w = W.partitionBy("doc_a", "doc_b", F.col("pa") - F.col("pb")).orderBy(
        F.col("pa").asc()
    )
    runs = (
        pairs.withColumn("__isl", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", F.col("pa") - F.col("pb"), "__isl")
        .agg(
            F.min("pb").alias("pb_start"),
            (F.count(F.lit(1)) + (k - 1)).alias("run_len"),
        )
        .filter(F.col("run_len") >= min_run)
    )
    # min-id ownership: doc_a < doc_b by construction, so doc_b loses the
    # span; a doc that is the smaller side of one pair and the larger side
    # of another keeps the first span and loses the second, pair-wise.
    dels = runs.select(
        F.col("doc_b").alias("doc"),
        F.explode(
            F.sequence(
                F.col("pb_start"), F.col("pb_start") + F.col("run_len") - 1
            )
        ).alias("pos"),
    ).distinct()
    tokpos = df.select(
        F.col(id_col).alias("doc"), F.posexplode(toks).alias("pos", "tok")
    ).withColumn("pos", F.col("pos") + 1)
    kept = (
        tokpos.join(dels, ["doc", "pos"], "left_anti")
        .groupBy("doc")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s.tok,
                ),
                " ",
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_tokens_after"),
        )
    )
    base = df.select(
        F.col(id_col).alias("doc"),
        F.size(toks).cast("bigint").alias("n_tokens_before"),
    )
    return (
        base.join(kept, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_tokens_before",
            F.coalesce(F.col("n_tokens_after"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens_after"),
        )
    )


@query(
    "dedup_substring_clean",
    oracle=r"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         array_to_string(
           string_split(regexp_replace(TRIM(text), '\s+', ' ', 'g'), ' ')[1:40],
           ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
), toks AS (
  SELECT doc_id,
         string_split(regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g'), ' ') AS w
  FROM corpus
), grams AS (
  SELECT doc_id AS doc, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(w[CAST(i AS BIGINT):CAST(i + 9 AS BIGINT)], ' ')) AS gh
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, CAST(len(w) - 9 AS BIGINT))) AS i
  )
  WHERE len(w) >= 10
), rare AS (
  SELECT gh FROM grams GROUP BY gh HAVING COUNT(*) <= 50
), g AS (
  SELECT grams.* FROM grams JOIN rare USING (gh)
), pairs AS (
  SELECT DISTINCT x.doc AS doc_a, y.doc AS doc_b, x.pos AS pa, y.pos AS pb
  FROM g x JOIN g y ON x.gh = y.gh AND x.doc < y.doc
), isl AS (
  SELECT doc_a, doc_b, pa - pb AS diag, pa, pb,
         pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                 ORDER BY pa ASC) AS island
  FROM pairs
), runs AS (
  SELECT doc_a, doc_b, MIN(pb) AS pb_start, COUNT(*) + 9 AS run_len
  FROM isl GROUP BY doc_a, doc_b, diag, island
  HAVING COUNT(*) + 9 >= 15
), dels AS (
  SELECT DISTINCT doc_b AS doc, CAST(p AS INTEGER) AS pos
  FROM runs, LATERAL (
    SELECT UNNEST(generate_series(pb_start, pb_start + run_len - 1)) AS p
  )
), tokpos AS (
  SELECT doc_id AS doc, CAST(i AS INTEGER) AS pos, w[i] AS tok
  FROM toks, LATERAL (
    SELECT UNNEST(generate_series(1, CAST(len(w) AS BIGINT))) AS i
  )
), marked AS (
  SELECT t.doc, t.pos, t.tok,
         EXISTS (SELECT 1 FROM dels d
                 WHERE d.doc = t.doc AND d.pos = t.pos) AS deleted
  FROM tokpos t
)
SELECT doc AS doc_id,
       md5(COALESCE(
         string_agg(tok, ' ' ORDER BY pos) FILTER (WHERE NOT deleted), ''
       )) AS clean_hash,
       CAST(COUNT(*) AS BIGINT) AS n_tokens_before,
       CAST(COUNT(*) FILTER (WHERE NOT deleted) AS BIGINT) AS n_tokens_after
FROM marked GROUP BY doc
""",
)
def dedup_substring_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-dedup REWRITE over the planted-partial-copy corpus of
    dedup_substring_runs: every shared >=15-token run is cut from the
    larger-id doc, so each planted 40-token prefix copy comes back EMPTY
    while its original keeps full text.  (doc_id, md5(clean_text),
    before/after token counts) hash-checked against the full relational
    replay."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    prefix40 = F.array_join(
        F.slice(
            F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " "),
            1,
            40,
        ),
        " ",
    )
    planted = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), prefix40.alias("text")
    )
    cleaned = substring_dedup_clean(d.unionByName(planted))
    return cleaned.select(
        "doc_id",
        F.md5(F.col("clean_text").cast("binary")).alias("clean_hash"),
        "n_tokens_before",
        "n_tokens_after",
    )


# --------------------------------------------------------------------------
# Incremental dedup: dedup a NEW batch against an existing (already-deduped)
# corpus without rescanning corpus content — the day-2 shape of every
# production dedup pipeline (the corpus only ships its hash set).
# --------------------------------------------------------------------------


def incremental_exact_dedup(
    corpus: DataFrame, batch: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rows of ``batch`` that are novel: not an exact (normalized) dup of
    any corpus row, and the min-id survivor within the batch itself.

    Scale shape: the corpus side is reduced to DISTINCT 64-bit hashes + the
    normalized text (collision guard) BEFORE the join — the anti join
    shuffles |corpus-distinct| hashes once, never full documents, and in a
    day-2 pipeline that hash projection is a materialized table that never
    gets rescanned."""
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    corpus_keys = (
        corpus.select(norm.alias("__norm"))
        .distinct()
        .select(F.xxhash64("__norm").alias("__h"), "__norm")
    )
    b = batch.withColumn("__norm", norm).withColumn("__h", F.xxhash64("__norm"))
    survivors = (
        b.groupBy("__h", "__norm")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("batch_dups"))
    )
    return (
        survivors.join(corpus_keys, ["__h", "__norm"], "left_anti")
        .select(id_col, "batch_dups")
    )


@query(
    "dedup_incremental_exact",
    oracle=r"""
WITH batch AS (
  SELECT doc_id, regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g') AS norm
  FROM documents WHERE doc_id % 7 = 3
), corpus AS (
  SELECT DISTINCT regexp_replace(TRIM(LOWER(text)), '\s+', ' ', 'g') AS norm
  FROM documents WHERE doc_id % 7 <> 3
), surv AS (
  SELECT MIN(doc_id) AS doc_id, COUNT(*) AS batch_dups, norm
  FROM batch GROUP BY norm
)
SELECT doc_id, batch_dups FROM surv
WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.norm = surv.norm)
""",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: docs with id%7==3 arrive as the new batch,
    the rest are the standing corpus; novel batch docs survive.  The
    corpus participates only as distinct hash keys."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 7 == 3)
    corpus = d.filter(F.col("doc_id") % 7 != 3)
    return incremental_exact_dedup(corpus, batch, "doc_id", "text")


# --------------------------------------------------------------------------
# URL-canonical dedup (the CommonCrawl/CCNet first pass: many crawls of the
# same page differ only in tracking params / fragment / www prefix — dedup
# on the CANONICAL URL before any content hashing).  Spark side genuinely
# parses and normalizes the URL (parse_url + filters); the oracle states
# the construction-implied canonical directly, so the gate verifies the
# normalization machinery, not a re-implementation of it.
# --------------------------------------------------------------------------


def canonical_url(url):
    """Normalized URL key: host without www (lowercased), path, then the
    surviving query params (tracking utm_* params dropped, rest sorted),
    fragment discarded.  Pure JVM expressions."""
    host = F.lower(F.regexp_replace(F.parse_url(url, F.lit("HOST")), r"^www\.", ""))
    path = F.coalesce(F.parse_url(url, F.lit("PATH")), F.lit(""))
    q = F.coalesce(F.parse_url(url, F.lit("QUERY")), F.lit(""))
    kept = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda p: (p != "") & ~p.startswith("utm_"),
            )
        ),
        "&",
    )
    return F.concat(
        host, path, F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(F.lit(""))
    )


@query(
    "dedup_url_canonical",
    oracle="""
WITH u AS (
  SELECT doc_id,
         source || '.com/p/' || CAST(doc_id % 50 AS VARCHAR)
           || '?id=' || CAST(doc_id % 7 AS VARCHAR) AS canonical
  FROM documents
)
SELECT canonical,
       CAST(MIN(doc_id) AS BIGINT) AS keeper,
       CAST(COUNT(*) AS BIGINT) AS n_dups
FROM u GROUP BY canonical
""",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each document gets a deterministic synthetic URL (www prefix,
    utm tracking param, fragment — the noise real crawls carry); the
    Spark side parses and canonicalizes it with parse_url machinery and
    keeps the min doc per canonical key.  One hash shuffle on the
    canonical key — the exact-dedup scale shape."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".com/p/"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source=feed&id="), (F.col("doc_id") % 7).cast("string"),
        F.lit("&utm_campaign=x#frag"),
    )
    return (
        d.select("doc_id", canonical_url(url).alias("canonical"))
        .groupBy("canonical")
        .agg(
            F.min("doc_id").cast("bigint").alias("keeper"),
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
        )
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 — the MOSS
# algorithm).  Local fingerprint selection with a GUARANTEE the sparse
# fingerprint families above don't give: any shared token run of length
# >= w + n - 1 contributes at least one COMMON selected fingerprint.  Each
# window of w consecutive shingle hashes selects its minimum (rightmost on
# ties — encoded as one integer key h * 2^21 + (2^21 - 1 - pos) so a
# single window MIN does min-hash-then-max-pos); the distinct selected
# (h, pos) pairs are the document's fingerprint sketch, ~2/(w+1) the
# shingle count.  One exchange on doc_id for the window, reused by the
# groupBy.
# --------------------------------------------------------------------------

_WIN_W = 4  # window size (in shingles)
_WIN_POS_M = 1 << 21  # position capacity inside the encoded key


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, w: int = _WIN_W
) -> DataFrame:
    """(doc, h, pos) — winnowing-selected fingerprints over n-token
    shingles (portable hash family, replayable in SQL)."""
    from pyspark.sql import Window

    sh = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(
            F.expr(portable_shingle_hash_array_expr(text_col, n))
        ).alias("pos", "h"),
    )
    keyed = sh.withColumn(
        "key",
        F.col("h") * F.lit(_WIN_POS_M)
        + (F.lit(_WIN_POS_M - 1) - F.col("pos")),
    )
    seq = Window.partitionBy("doc").orderBy("pos")
    win = seq.rowsBetween(-(w - 1), 0)
    sel = (
        keyed.withColumn("rn", F.row_number().over(seq))
        .withColumn("mkey", F.min("key").over(win))
        .filter(F.col("rn") >= w)  # complete windows only
        .select("doc", "mkey")
        # dedup of per-window selections happens inside the doc-keyed
        # aggregation (collect_set) so the window's exchange on doc is the
        # plan's ONLY exchange — a standalone distinct() would shuffle a
        # second time on (doc, mkey)
        .groupBy("doc")
        .agg(F.collect_set("mkey").alias("mkeys"))
        .select("doc", F.explode("mkeys").alias("mkey"))
    )
    return sel.select(
        "doc",
        (F.col("mkey") / _WIN_POS_M).cast("bigint").alias("h"),
        (
            F.lit(_WIN_POS_M - 1) - F.col("mkey") % _WIN_POS_M
        ).cast("bigint").alias("pos"),
    )


def _winnow_oracle() -> str:
    return f"""
WITH {_portable_shingle_ctes(3).lstrip()},
pe AS (
  SELECT doc, i, sa[i] AS h
  FROM sh, UNNEST(range(1, len(sa) + 1)) AS u(i)
),
keyed AS (
  SELECT doc, i,
         h * {_WIN_POS_M} + ({_WIN_POS_M - 1} - (i - 1)) AS key
  FROM pe
),
sel AS (
  SELECT DISTINCT doc,
         MIN(key) OVER (PARTITION BY doc ORDER BY i
                        ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW)
           AS mkey
  FROM keyed
  QUALIFY i >= {_WIN_W}
),
fp AS (
  SELECT doc, mkey // {_WIN_POS_M} AS h,
         {_WIN_POS_M - 1} - (mkey % {_WIN_POS_M}) AS pos
  FROM sel
)
SELECT doc AS doc_id,
       CAST(COUNT(*) AS INT) AS n_fp,
       CAST(SUM(h * (pos + 1)) AS BIGINT) AS digest
FROM fp GROUP BY doc ORDER BY doc
"""


@query("dedup_winnowing_fingerprints", oracle=_winnow_oracle())
def dedup_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing sketch per document: fingerprint count and an order-
    insensitive exact integer digest of the selected (hash, position)
    set.  Docs with fewer than w shingles yield no complete window and
    are absent on both engines."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    fp = winnow_fingerprints(d, "doc_id", "text", n=3, w=_WIN_W)
    return (
        fp.groupBy(F.col("doc").alias("doc_id"))
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_fp"),
            F.sum(F.col("h") * (F.col("pos") + 1)).cast("bigint").alias("digest"),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_containment",
    oracle=r"""
WITH sh_all AS (
  SELECT DISTINCT doc_id AS doc, shingle FROM (
    SELECT doc_id,
           array_to_string(toks[i : i + 4], ' ') AS shingle
    FROM (
      SELECT doc_id, string_split_regex(TRIM(LOWER(text)), '\s+') AS toks
      FROM documents
    ), LATERAL (SELECT UNNEST(generate_series(1, GREATEST(LEN(toks) - 4, 0))) AS i)
  )
),
sh AS (
  SELECT doc, shingle FROM (
    SELECT doc, shingle, COUNT(*) OVER (PARTITION BY shingle) AS df
    FROM sh_all
  ) WHERE df <= 100
),
sizes AS (SELECT doc, COUNT(*) AS set_size FROM sh GROUP BY doc),
inter AS (
  SELECT a.doc AS doc_a, b.doc AS doc_b, COUNT(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc < b.doc
  GROUP BY a.doc, b.doc
)
SELECT doc_a, doc_b,
       CAST(inter AS DOUBLE) / LEAST(sa.set_size, sb.set_size) AS containment
FROM inter
JOIN sizes sa ON sa.doc = doc_a
JOIN sizes sb ON sb.doc = doc_b
WHERE CAST(inter AS DOUBLE) / LEAST(sa.set_size, sb.set_size) >= 0.8
""",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup over 5-gram shingle sets (threshold 0.8):
    |A∩B| / min(|A|,|B|) flags a short document wholly quoted inside a
    long one — the length-skewed duplication Jaccard dilutes away.  Same
    df-capped pair pipeline (and the same 100 TB skew bound) as
    dedup_ngram_jaccard."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return ngram_jaccard_pairs(
        d, "doc_id", "text", n=5, threshold=0.8, metric="containment"
    )
