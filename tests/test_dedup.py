"""Dedup operator unit tests: shingle-df skew pruning and the LSH-pruned
embedding pipeline (subset + recall vs the exact all-pairs kernel)."""

from __future__ import annotations

from pyspark.sql import functions as F

from moosestack_spark.ops.dedup import (
    embedding_cosine_pairs,
    embedding_cosine_pairs_pruned,
    ngram_jaccard_pairs,
)


def test_shingle_df_cap_kills_boilerplate_pair_blowup(spark):
    """A shingle shared by m docs emits m^2/2 join pairs; with the df cap the
    planted boilerplate shingle is dropped BEFORE the self-join and the pair
    count collapses from O(m^2) to 0."""
    m = 40
    boiler = "this document is provided under the standard license terms"
    rows = [(i, f"{boiler} unique tail {i} " + " ".join(f"w{i}_{j}" for j in range(6)))
            for i in range(m)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=5, threshold=0.01, max_shingle_df=None
    )
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", n=5, threshold=0.01, max_shingle_df=m - 1
    )
    n_uncapped = uncapped.count()
    n_capped = capped.count()
    # every doc pair shares the boilerplate 5-grams -> full m^2/2 blow-up
    assert n_uncapped == m * (m - 1) // 2
    # the capped run drops the df=m shingles; the unique tails share nothing
    assert n_capped == 0


def test_df_cap_keeps_genuine_near_dups(spark):
    """The cap must only drop corpus-wide boilerplate — a genuinely repeated
    document (df=2 shingles) still pairs."""
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(1, text), (2, text)] + [
        (10 + i, " ".join(f"x{i}_{j}" for j in range(10))) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = ngram_jaccard_pairs(df, "doc_id", "text", n=5, threshold=0.9).collect()
    assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
    assert got[0].jaccard == 1.0


def test_pruned_embedding_pairs_subset_of_exact_with_recall(spark, sf_dir):
    """LSH-prune -> exact-verify returns a subset of the exact all-pairs
    result (the verify stage guarantees no false positives); banded recall
    at 8 bands x 4 planes must be well above the analytic floor."""
    from moosestack_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            e, "vec_id", "embedding", threshold=0.35
        ).collect()
    }
    pruned = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_pruned(
            e, "vec_id", "embedding", threshold=0.35, dim=64
        ).collect()
    }
    assert pruned <= exact
    if exact:
        recall = len(pruned) / len(exact)
        # analytic per-pair recall at cos=0.35 is ~0.71 and rises with
        # similarity; demand a conservative floor
        assert recall >= 0.5, f"recall {recall:.2f} over {len(exact)} pairs"


def test_lsh_band_rows_use_same_hash_family_as_signatures(spark):
    """minhash_lsh_pairs computes signatures via the shuffle-free let-bound
    array expression; pin that its est_jaccard agrees with a direct
    signature comparison from minhash_signatures (same hash family)."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.dedup import minhash_lsh_pairs, minhash_signatures

    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "an entirely different document about spark physical plans"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(df, "doc_id", "text", n=5, threshold=0.0).collect()
    }
    assert (1, 2) in pairs
    sig = {r.doc: [r[f"h{i}"] for i in range(32)] for r in minhash_signatures(
        df, "doc_id", "text", 5, 32).collect()}
    expected = sum(a == b for a, b in zip(sig[1], sig[2])) / 32.0
    assert abs(pairs[(1, 2)] - expected) < 1e-12


def test_lsh_bucket_cap_bounds_mass_duplicate_blowup(spark):
    """Adversarial mass-duplicate corpus: m identical docs collide into ONE
    bucket per band.  With the pre-collect cap the bucket is pruned to
    max_bucket + 1 members BEFORE collect_list (bounded aggregation buffer)
    and then dropped by the size filter — zero pairs, O(cap) work, instead
    of m^2/2 pairs."""
    from moosestack_spark.ops.dedup import minhash_lsh_pairs

    m = 60
    text = "identical boilerplate document body repeated across the corpus"
    df = spark.createDataFrame([(i, text) for i in range(m)], "doc_id long, text string")
    capped = minhash_lsh_pairs(df, "doc_id", "text", n=5, threshold=0.0, max_bucket=16)
    assert capped.count() == 0
    # cap above the bucket size -> full pair set comes back (equivalence at
    # cap -> infinity)
    uncapped = minhash_lsh_pairs(
        df, "doc_id", "text", n=5, threshold=0.0, max_bucket=10**6
    )
    assert uncapped.count() == m * (m - 1) // 2


def test_simhash_bucket_cap_slices_not_drops(spark):
    """SimHash quarter buckets are SLICED to the max_bucket smallest doc ids
    (a d<=3 pair is only guaranteed to collide in one quarter, so dropping
    the bucket would break pigeonhole completeness): m identical docs with
    cap=16 emit exactly C(16,2) pairs among the 16 smallest ids."""
    from moosestack_spark.ops.dedup import simhash_pairs

    m = 48
    text = "identical boilerplate document body repeated across the corpus"
    df = spark.createDataFrame([(i, text) for i in range(m)], "doc_id long, text string")
    got = simhash_pairs(df, "doc_id", "text", n=5, max_hamming=8, max_bucket=16)
    pairs = {(r.doc_a, r.doc_b) for r in got.collect()}
    assert pairs == {(a, b) for a in range(16) for b in range(a + 1, 16)}


def test_lsh_bucket_cap_adds_no_exchange(spark):
    """The pre-collect row_number cap must reuse the bucket groupBy's hash
    exchange: total exchanges stay at 3 (parallelism spread, bucket
    shuffle, pair dedup) for both banded paths."""
    from moosestack_spark.ops.dedup import minhash_lsh_pairs, simhash_pairs

    df = spark.createDataFrame(
        [(i, f"doc body {i} with some shared tokens") for i in range(10)],
        "doc_id long, text string",
    )
    for fn in (minhash_lsh_pairs, simhash_pairs):
        plan = fn(df, "doc_id", "text", n=5)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 3, fn.__name__


def test_portable_minhash_recall_vs_exact_jaccard(spark, sf_dir):
    """The portable (mod 2^31-1) hash family must estimate as well as the
    64-bit xxhash family it replaced: on the testdata corpus the LSH pairs
    at threshold 0.5 recover the exact-Jaccard pair set with high recall
    and precision (the synthetic near-dups sit well above threshold, so
    weak hashing would show up immediately)."""
    from moosestack_spark.ops.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
    from moosestack_spark.tables import t

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    exact = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(d, "doc_id", "text", n=5, threshold=0.5).collect()
    }
    est = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(d, "doc_id", "text", n=5, threshold=0.5).collect()
    }
    assert exact, "fixture corpus must contain near-dups"
    inter = exact & est
    assert len(inter) / len(exact) >= 0.9, "recall collapsed"
    assert len(inter) / max(1, len(est)) >= 0.9, "precision collapsed"


def test_incremental_lsh_equals_filtered_full(spark, sf_dir):
    """Incremental probe == full-corpus LSH pairs restricted to pairs
    touching the new batch (hard equivalence: same buckets, same
    signatures, same caps — the incremental path only prunes buckets the
    batch never touched)."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.dedup import (
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
    )
    from moosestack_spark.tables import t

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    cut = d.agg(F.expr("percentile(doc_id, 0.8)")).collect()[0][0]
    existing = d.filter(F.col("doc_id") <= cut)
    new = d.filter(F.col("doc_id") > cut)
    inc = sorted(
        map(
            str,
            minhash_lsh_pairs_incremental(
                existing, new, "doc_id", "text", n=5, threshold=0.5
            ).collect(),
        )
    )
    full = minhash_lsh_pairs(d, "doc_id", "text", n=5, threshold=0.5)
    expected = sorted(
        map(
            str,
            full.filter(
                (F.col("doc_a") > cut) | (F.col("doc_b") > cut)
            ).collect(),
        )
    )
    assert inc == expected and len(inc) > 0


def test_block_split_cap_preserves_exact_pair_set(spark, sf_dir):
    """The hot-bucket skew guard re-partitions the exact verify: any
    max_bucket_rows cap must emit the identical pair set (here cap=13
    forces multi-block block-pair tasks on every bucket at sf0.001)."""
    from moosestack_spark.tables import t

    e = t(spark, sf_dir, "embeddings")
    base = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_pruned(
            e, "vec_id", "embedding", threshold=0.35, dim=64
        ).collect()
    }
    split = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_pruned(
            e, "vec_id", "embedding", threshold=0.35, dim=64,
            max_bucket_rows=13,
        ).collect()
    }
    assert split == base and len(base) > 0


def test_auto_banding_parameter_model():
    """bits ~ log2(n/occupancy) (2**B buckets/band); bands from the
    Monte-Carlo-calibrated cross-polytope collision model
    1-(1-p_band)^b >= recall.  The scale property VERDICT r10 #2 demands:
    the band count stays FLAT across corpus decades (cross-polytope's
    per-bit rho ~ 0.05 at cosine 0.9), where the old hyperplane dial grew
    n^0.22."""
    from moosestack_spark.ops.dedup import (
        _auto_bits,
        _cp_bands,
        _cp_collision_prob,
        _cp_sub_dims,
    )

    # bench tiers: 30x (60k rows) -> B=5, 100x (200k) -> B=7
    assert _auto_bits(60_000, 2048) == 5
    assert _auto_bits(200_000, 2048) == 7
    b30, _ = _cp_bands(0.9, _cp_sub_dims(5), 0.9)
    b100, _ = _cp_bands(0.9, _cp_sub_dims(7), 0.9)
    # flat-to-one-step band counts across a decade (3 -> 4 as calibrated);
    # the hyperplane dial needed 4 -> 6 over the same step
    assert b30 <= 4 and b100 <= 4 and b100 - b30 <= 1
    # two decades out: 10^9 rows decompose into 64/64/16 sub-hashes and
    # the band count stays bounded (the 100 TB claim)
    dims = _cp_sub_dims(_auto_bits(10**9, 2048))
    assert dims == [64, 64, 16]
    b_huge, _ = _cp_bands(0.9, dims, 0.9)
    assert b_huge <= 32
    # collision probs are deterministic (fixed-seed MC) and monotone down
    # in d' at fixed threshold
    p16 = _cp_collision_prob(0.9, 16, 64)
    p64 = _cp_collision_prob(0.9, 64, 64)
    assert p16 == _cp_collision_prob(0.9, 16, 64)  # cache/seed stable
    assert 0 < p64 < p16 < 1

    # the capped-bands warning fires when the model demands more than max
    import pytest as _pytest

    from moosestack_spark.ops.dedup import embedding_cosine_pairs_pruned_auto

    class _FakeDF:
        def count(self):
            return 2**21

    with _pytest.warns(UserWarning, match="capped"):
        # t=0.35 at high bit counts needs many bands
        try:
            embedding_cosine_pairs_pruned_auto(
                _FakeDF(), "id", "v", threshold=0.35, dim=64, max_bands=2
            )
        except (AttributeError, KeyError):
            pass  # FakeDF has no schema; the warning fired before the plan


def test_auto_pruned_subset_of_exact_and_finds_planted_dups(spark, sf_dir):
    """Auto-sized banding at t=0.9: subset of exact; planted verbatim
    duplicates (cosine 1.0 -> collide in every band) are all recovered."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.dedup import embedding_cosine_pairs_pruned_auto
    from moosestack_spark.tables import t

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    planted = e.limit(20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    u = e.unionByName(planted)
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            u, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_pruned_auto(
            u, "vec_id", "embedding", threshold=0.9, dim=64,
            target_occupancy=64,
        ).collect()
    }
    assert auto <= exact
    must_find = {(i, i + 1_000_000) for (i, j) in exact if j == i + 1_000_000}
    found = {(i, j) for (i, j) in auto if j == i + 1_000_000}
    assert must_find <= auto or found == must_find
    assert len(must_find) >= 20  # every planted copy pairs with its source
    assert must_find <= auto


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """Schleimer et al. theorem: any shared token run of length
    >= w + n - 1 (= 6 tokens at n=3, w=4) produces at least one common
    selected fingerprint HASH, regardless of surrounding text."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.dedup import winnow_fingerprints

    shared = "quick brown foxes jump over lazy"  # 6 tokens = w + n - 1
    rows = [
        (1, "alpha beta " + shared + " gamma delta epsilon"),
        (2, "one two three four " + shared + " five six"),
        (3, "totally different words without any common run here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = winnow_fingerprints(df, "doc_id", "text", n=3, w=4)
    rows = fp.collect()
    h1 = {r["h"] for r in rows if r["doc"] == 1}
    h2 = {r["h"] for r in rows if r["doc"] == 2}
    h3 = {r["h"] for r in rows if r["doc"] == 3}
    assert h1 & h2, "shared 6-token run must share a fingerprint"
    assert not (h1 & h3) and not (h2 & h3)


def test_winnowing_density(spark):
    """Selected fingerprints are a sparse subset: expected density 2/(w+1)
    of windows; sanity-check the sketch is much smaller than the shingle
    count but non-empty."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.dedup import winnow_fingerprints

    text = " ".join(f"tok{(i * 17) % 101}" for i in range(300))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    n_fp = winnow_fingerprints(df, "doc_id", "text", n=3, w=4).count()
    n_shingles = 300 - 2
    assert 0 < n_fp < n_shingles * 0.8


def test_auto_bits_matches_oracle_case_thresholds():
    """The auto gate's oracle replays bit selection as integer CASE
    thresholds (n <= occ<<B); _auto_bits must agree for every n,
    including exact power-of-two boundaries (the reason it is integer
    arithmetic, not float ceil(log2))."""
    from hypothesis import given, strategies as st

    from moosestack_spark.ops.dedup import (
        AUTO_GATE_MAX_BITS,
        AUTO_GATE_MIN_BITS,
        AUTO_GATE_OCC,
        _auto_bits,
    )

    def case_replay(n: int) -> int:
        for b in range(AUTO_GATE_MIN_BITS, AUTO_GATE_MAX_BITS):
            if n <= (AUTO_GATE_OCC << b):
                return b
        return AUTO_GATE_MAX_BITS

    @given(st.integers(min_value=1, max_value=1 << 20))
    def check(n):
        assert _auto_bits(
            n, AUTO_GATE_OCC, AUTO_GATE_MIN_BITS, AUTO_GATE_MAX_BITS
        ) == case_replay(n)

    check()
    # boundary pins: exact powers of two around every threshold
    for b in range(AUTO_GATE_MIN_BITS, AUTO_GATE_MAX_BITS):
        edge = AUTO_GATE_OCC << b
        for n in (edge - 1, edge, edge + 1):
            assert _auto_bits(
                n, AUTO_GATE_OCC, AUTO_GATE_MIN_BITS, AUTO_GATE_MAX_BITS
            ) == case_replay(n)


def test_auto_cp_recall_pin(spark):
    """Empirical recall pin for the cross-polytope auto dial (VERDICT r10
    #2 'keep the recall pin'): a deterministic corpus with 150 planted
    near-dup pairs at cosine ~0.92 must be recovered at >= 0.8 of the
    exact pair set when the dial targets recall 0.9 at threshold 0.9
    (MC calibration error + finite-band variance allow the 0.1 slack)."""
    import numpy as np

    rng = np.random.RandomState(42)
    rows = []
    base = rng.normal(size=(150, 64))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        z = rng.normal(size=64)
        z -= z.dot(v) * v
        z /= np.linalg.norm(z)
        t = 0.92
        w = t * v + np.sqrt(1 - t * t) * z
        rows.append((i + 10_000, [float(x) for x in w]))
    # background noise vectors (no near-dups among themselves w.h.p.)
    for j, v in enumerate(rng.normal(size=(700, 64))):
        rows.append((j + 100_000, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from moosestack_spark.ops.dedup import (
        embedding_cosine_pairs,
        embedding_cosine_pairs_pruned_auto,
    )

    exact = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs(
            df, "vec_id", "embedding", threshold=0.9
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_pairs_pruned_auto(
            df, "vec_id", "embedding", threshold=0.9, dim=64,
            target_occupancy=64, recall=0.9,
        ).collect()
    }
    assert got <= exact  # verify stage: no false positives, ever
    assert len(exact) >= 150
    recall = len(got & exact) / len(exact)
    assert recall >= 0.8, f"recall {recall:.3f} over {len(exact)} pairs"


def test_substring_clean_no_run_survives(spark, sf_dir):
    """The rewrite's whole point (Lee et al. 2022): after one clean pass,
    NO >=min_run token run is shared across docs — verified by re-running
    the finder on the cleaned corpus.  Also pins min-id ownership: every
    planted prefix-copy (larger id) is emptied or shortened, never its
    original."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.dedup import (
        shared_token_runs,
        substring_dedup_clean,
    )
    from moosestack_spark.tables import t

    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    prefix40 = F.array_join(
        F.slice(
            F.split(F.regexp_replace(F.trim(F.col("text")), r"\s+", " "), " "),
            1, 40,
        ),
        " ",
    )
    planted = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), prefix40.alias("text")
    )
    corpus = d.unionByName(planted)
    cleaned = substring_dedup_clean(corpus)
    assert (
        shared_token_runs(
            cleaned.select("doc_id", F.col("clean_text").alias("text"))
        ).count()
        == 0
    )
    rows = {r.doc_id: r for r in cleaned.collect()}
    originals = {i for i in rows if i < 1000000}
    for did, r in rows.items():
        if did >= 1000000:
            assert r.n_tokens_after < r.n_tokens_before or r.n_tokens_before < 15
            assert (did - 1000000) in originals
        else:
            # originals are only ever OWNERS of the planted runs
            pass
    # owners keep their text intact unless they organically duplicate a
    # smaller-id doc: every original that is no pair's larger side is unchanged
    runs = shared_token_runs(corpus).collect()
    losers = {r.doc_b for r in runs}
    for did, r in rows.items():
        if did not in losers:
            assert r.n_tokens_after == r.n_tokens_before, did


def test_size_band_exchange_trigger(spark):
    """The band-bucket exchange sizing (r12) must fire ONLY when the
    session-default layout would sort > 2x the target rows per partition:
    below the trigger an explicit repartition suppresses Spark's partial
    WindowGroupLimit (the map-side bucket-cap pushdown) and measured 2x
    slower at the bench 100x tier; above it the sized exchange bounds the
    reduce-side sort that otherwise goes memory-bound (300x tier)."""
    from moosestack_spark.ops.dedup import (
        _BAND_ROWS_PER_PART,
        _shuffle_parts,
        _size_band_exchange,
    )

    bands = spark.range(10).selectExpr(
        "id AS band", "id AS bh", "named_struct('doc', id, 'sig', array(id)) AS m"
    )
    # the trigger models the DEFAULT exchange, which is sized by
    # spark.sql.shuffle.partitions (ADVICE r12 — defaultParallelism only
    # coincidentally matches it in this repo's session)
    parts = _shuffle_parts(bands)
    assert parts == int(spark.conf.get("spark.sql.shuffle.partitions"))

    # small in-memory source (est None -> count path; count far below the
    # trigger): the band table must come back UNCHANGED (no added exchange)
    small_src = spark.range(100).selectExpr("id AS doc_id")
    out = _size_band_exchange(bands, small_src, "doc_id", 8)
    assert "RepartitionByExpression" not in out._jdf.queryExecution().analyzed().toString()

    # source past the trigger: repartition fires with the row-derived count
    big_n = parts * 2 * _BAND_ROWS_PER_PART // 8 + 10_000
    big_src = spark.range(big_n).selectExpr("id AS doc_id")
    out = _size_band_exchange(bands, big_src, "doc_id", 8)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    want = min(max(4096, 8 * parts), (big_n * 8) // _BAND_ROWS_PER_PART + 1)
    # pin the full node text (ADVICE r12: a bare substring match on the
    # count can hit expression IDs anywhere in the plan string)
    repart_lines = [
        ln for ln in analyzed.splitlines() if "RepartitionByExpression" in ln
    ]
    assert repart_lines, analyzed
    assert any(f", {want}" in ln for ln in repart_lines), (want, repart_lines)

    # precomputed-estimate path (the incremental caller's shape): an
    # unknown combined estimate must be treated as LARGE (count runs),
    # and the count_rows override must feed the partition sizing
    out = _size_band_exchange(
        bands, small_src, "doc_id", 8, est_rows=None, count_rows=lambda: big_n
    )
    analyzed = out._jdf.queryExecution().analyzed().toString()
    repart_lines = [
        ln for ln in analyzed.splitlines() if "RepartitionByExpression" in ln
    ]
    assert repart_lines, analyzed
    assert any(f", {want}" in ln for ln in repart_lines), (want, repart_lines)
    # a small known combined estimate skips both the count and the exchange
    out = _size_band_exchange(
        bands, small_src, "doc_id", 8, est_rows=1024,
        count_rows=lambda: (_ for _ in ()).throw(AssertionError("counted")),
    )
    assert "RepartitionByExpression" not in out._jdf.queryExecution().analyzed().toString()


def test_size_band_exchange_counts_a_well_compressed_corpus(spark, tmp_path):
    """The skip gate bounds the doc count by the parquet footers' num_rows,
    not by a bytes-per-doc floor: a corpus that compresses below 32 B/doc
    yet reaches the row trigger must still be counted and get the sized
    exchange."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from moosestack_spark.ops.dedup import (
        _BAND_ROWS_PER_PART,
        _footer_rows,
        _shuffle_parts,
        _size_band_exchange,
    )

    bands = spark.range(10).selectExpr(
        "id AS band", "id AS bh", "named_struct('doc', id, 'sig', array(id)) AS m"
    )
    trigger_rows = _shuffle_parts(bands) * 2 * _BAND_ROWS_PER_PART
    n = trigger_rows // 8 + 10_000
    path = str(tmp_path / "corpus.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(n))}), path)
    # a 32 B/doc bound would call this corpus too small to count
    assert os.path.getsize(path) // 32 * 8 <= trigger_rows
    src = spark.read.parquet(path)
    assert _footer_rows(src) == n
    counted = []
    out = _size_band_exchange(
        bands, src, "doc_id", 8, count_rows=lambda: counted.append(n) or n
    )
    assert counted == [n]
    assert "RepartitionByExpression" in out._jdf.queryExecution().analyzed().toString()
