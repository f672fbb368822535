"""Round-5 beyond-reference ops: z-order layout, table profiling,
tf-idf retrieval — unit/property coverage beyond the oracle gates."""

from __future__ import annotations


def test_morton_key_interleaves_bits(spark):
    from moosestack_spark.ops.layout import with_zorder

    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (3, 5), (1023, 1023)], ["x", "y"]
    )
    got = {
        (r.x, r.y): r.zorder
        for r in with_zorder(df, "x", "y", bits=10).collect()
    }

    def morton(x, y):
        out = 0
        for i in range(10):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y, z)


def test_cluster_by_zorder_partitions_are_disjoint_ranges(spark):
    """repartitionByRange on the Morton key: every output partition covers
    a z-range disjoint from every other — the min/max file-stat pruning
    property a layout rewrite exists for."""
    from pyspark.sql import functions as F

    from moosestack_spark.ops.layout import cluster_by_zorder

    df = spark.range(4096).selectExpr("id % 64 AS x", "id div 64 AS y")
    z = cluster_by_zorder(df, "x", "y", num_partitions=8, bits=6)
    ranges = (
        z.select(F.spark_partition_id().alias("p"), "zorder")
        .groupBy("p")
        .agg(F.min("zorder").alias("lo"), F.max("zorder").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(ranges) > 1
    for a, b in zip(ranges, ranges[1:]):
        assert a.hi <= b.lo, (a, b)
    # both dimensions benefit: a predicate on x alone prunes most ranges
    # (each partition's x-span is a fraction of the domain)
    spans = (
        z.select(F.spark_partition_id().alias("p"), "x")
        .groupBy("p")
        .agg((F.max("x") - F.min("x")).alias("span"))
        .collect()
    )
    assert sum(r.span for r in spans) / len(spans) < 63  # not all full-domain


def test_profile_counts_nulls_and_distincts(spark):
    from moosestack_spark.ops.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "bb")], ["id", "s"]
    )
    prof = {r.column: r for r in profile_columns(df).collect()}
    assert prof["id"].n_rows == 4 and prof["id"].n_nulls == 0
    assert prof["id"].n_distinct == 4
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_str == "a" and prof["s"].max_str == "bb"
    assert prof["s"].total_len == 4  # a + a + bb, NULL counts 0


def test_profile_is_single_scan_single_aggregate(spark, sf_dir):
    """The whole profile is ONE aggregation over ONE scan (the oracle pays
    one scan per column) — no join, no union of per-column subplans."""
    from moosestack_spark.ops.profile import profile_table_stats

    plan = profile_table_stats(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") <= 1, plan
    assert "Join" not in plan and "Union" not in plan, plan


def test_tfidf_topk_ranking_and_edge_cases(spark):
    from moosestack_spark.ops.retrieval import tfidf_topk

    docs = spark.createDataFrame(
        [
            (1, "scan scan scan"),          # tf=3 on one common term
            (2, "vector"),                  # tf=1 on the rarest term
            (3, "scan merge"),              # two terms
            (4, "other words only"),        # no match -> absent
        ],
        ["doc_id", "text"],
    )
    rows = tfidf_topk(docs, "doc_id", "text", ("scan", "merge", "vector"), k=10).collect()
    got = {r.doc_id: r for r in rows}
    assert 4 not in got
    # df: scan=2, merge=1, vector=1, N=4
    # scores: d1 = 3*4/2 = 6; d2 = 4/1 = 4; d3 = 4/2 + 4/1 = 6
    assert abs(got[1].score - 6.0) < 1e-12
    assert abs(got[2].score - 4.0) < 1e-12
    assert abs(got[3].score - 6.0) < 1e-12
    assert got[3].hits == 2
    # ties break on doc_id asc
    order = [r.doc_id for r in sorted(rows, key=lambda r: (-r.score, r.doc_id))]
    assert order == [1, 3, 2]

    # no query term present at all: empty result, no division blow-up
    none = tfidf_topk(docs, "doc_id", "text", ("absent",), k=5)
    assert none.count() == 0


def test_tfidf_plan_broadcasts_tiny_sides(spark, sf_dir):
    """df/N/D ride as broadcasts; exactly one shuffle family on doc_id plus
    the final top-k window — never a shuffle of the term table."""
    from moosestack_spark.ops.retrieval import text_tfidf_retrieval

    plan = text_tfidf_retrieval(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_optimize_zorder_rewrites_clustered_files(spark, tmp_path):
    """OPTIMIZE ... ZORDER: the rewrite clusters files by the Morton key
    of two columns so each file's min/max covers a sub-rectangle of both
    dimensions (file-stat pruning on either predicate)."""
    import pyarrow.parquet as pq
    from pydantic import BaseModel

    from moosestack_spark.catalog.engines import OlapConfig
    from moosestack_spark.catalog.table import OlapTable
    from moosestack_spark.ops.layout import morton_expr

    class Cell(BaseModel):
        x: int
        y: int

    tbl = OlapTable(
        "zcells", Cell, spark, str(tmp_path),
        OlapConfig(order_by_fields=["x"]), register=False,
    )
    rows = [{"x": i % 64, "y": i // 64} for i in range(4096)]
    tbl.insert(rows)
    n = tbl.optimize(target_files=8, zorder_by=("x", "y"))
    assert n == 8
    assert sorted((r.x, r.y) for r in tbl.read().collect()) == sorted(
        (r["x"], r["y"]) for r in rows
    )
    # recompute each file's morton range: ranges must be pairwise disjoint
    # (the head snapshot's files: the pre-optimize part stays on disk until
    # vacuum)
    import os

    ranges = []
    for f in sorted(tbl._head_files()):
        t = pq.read_table(os.path.join(tbl.path, f)).to_pylist()
        zs = [
            int(spark.sql(
                f"SELECT {morton_expr(str(r['x']), str(r['y']), 6)} AS z"
            ).collect()[0].z)
            for r in (t[0], t[-1])  # files are z-sorted: ends bound the file
        ]
        ranges.append((min(zs), max(zs)))
    ranges.sort()
    for a, b in zip(ranges, ranges[1:]):
        assert a[1] <= b[0], (a, b)


def test_morton_property_roundtrip_and_locality(spark):
    """Property (hypothesis): the Morton key uniquely encodes (x, y) over
    the bit budget, and sorting by it keeps 2x2 quads contiguous."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from moosestack_spark.ops.layout import morton_expr

    def morton_py(x, y, bits):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    @settings(max_examples=200, deadline=None)
    @given(x=st.integers(0, 2**16 - 1), y=st.integers(0, 2**16 - 1))
    def check(x, y):
        z = morton_py(x, y, 16)
        # invertible: deinterleave recovers the inputs
        rx = sum(((z >> (2 * i)) & 1) << i for i in range(16))
        ry = sum(((z >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (rx, ry) == (x, y)
        # locality: flipping the lowest set x-bit moves z by a bounded step
        assert morton_py(x ^ 1, y, 16) == z ^ 1

    check()
    # the generated SQL agrees with the python reference on a sample
    rows = spark.sql(
        f"SELECT id, {morton_expr('(id % 251)', '(id % 241)', 16)} AS z "
        "FROM range(500)"
    ).collect()
    for r in rows:
        assert r.z == morton_py(r.id % 251, r.id % 241, 16)


def test_url_canonicalization_cases(spark):
    from moosestack_spark.ops.dedup import canonical_url
    from pyspark.sql import functions as F

    cases = [
        ("https://www.Site.com/a/b?utm_source=x&z=1&a=2#frag", "site.com/a/b?a=2&z=1"),
        ("http://site.com/a/b?a=2&z=1", "site.com/a/b?a=2&z=1"),
        ("https://www.site.com/only", "site.com/only"),
        ("https://site.com/only?utm_campaign=c", "site.com/only"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], ["url"])
    got = [r.c for r in df.select(canonical_url(F.col("url")).alias("c")).collect()]
    assert got == [want for _, want in cases]


# ---------------------------------------------------------------------------
# Hilbert layout
# ---------------------------------------------------------------------------


def test_hilbert_reference_bijective_and_adjacent():
    from moosestack_spark.ops.layout import hilbert_xy2d

    for bits in (1, 2, 3, 4):
        n = 1 << bits
        pos = {}
        for x in range(n):
            for y in range(n):
                d = hilbert_xy2d(bits, x, y)
                assert d not in pos
                pos[d] = (x, y)
        assert sorted(pos) == list(range(n * n))
        # the defining Hilbert property: consecutive keys are grid NEIGHBORS
        for d in range(1, n * n):
            (x1, y1), (x2, y2) = pos[d - 1], pos[d]
            assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_hilbert_spark_expr_matches_reference(spark):
    from moosestack_spark.ops.layout import hilbert_expr, hilbert_xy2d

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = df.selectExpr("x", "y", hilbert_expr("x", "y", 4) + " AS h").collect()
    for r in got:
        assert r.h == hilbert_xy2d(4, r.x, r.y)


def test_hilbert_locality_beats_zorder_worst_case(spark):
    """Per equal-size key-range bucket, the Hilbert curve's bounding boxes
    are never (in aggregate) worse than Morton's on a full grid — the
    reason to prefer it for OPTIMIZE clustering.  Compare summed bounding
    半-perimeters of 16 equal buckets on the 32x32 grid."""
    from moosestack_spark.ops.layout import hilbert_xy2d, morton_expr

    n, buckets = 32, 16
    per = (n * n) // buckets
    import re as _re

    def span_sum(key_of):
        spans = 0
        cells = sorted(
            ((key_of(x, y), x, y) for x in range(n) for y in range(n))
        )
        for b in range(buckets):
            chunk = cells[b * per : (b + 1) * per]
            xs = [c[1] for c in chunk]
            ys = [c[2] for c in chunk]
            spans += (max(xs) - min(xs) + 1) + (max(ys) - min(ys) + 1)
        return spans

    def morton_key(x, y):
        out = 0
        for i in range(5):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    h = span_sum(lambda x, y: hilbert_xy2d(5, x, y))
    z = span_sum(morton_key)
    assert h <= z, (h, z)


def test_cluster_by_hilbert_files_disjoint(spark):
    from moosestack_spark.ops.layout import cluster_by_hilbert

    df = spark.range(4096).selectExpr(
        "id", "id % 64 AS x", "CAST(id / 64 AS BIGINT) AS y"
    )
    clustered = cluster_by_hilbert(df, "x", "y", num_partitions=8, bits=6)
    import pyspark.sql.functions as F2

    ranges = (
        clustered.withColumn("pid", F2.spark_partition_id())
        .groupBy("pid")
        .agg(F2.min("hilbert").alias("lo"), F2.max("hilbert").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    for a, b in zip(ranges, ranges[1:]):
        assert a.hi <= b.lo  # per-partition key ranges are disjoint


def test_triangle_counts_degree_orientation_equivalent(spark):
    """Degree-orientation changes the join order, not the triangle set:
    counts must match id-orientation exactly (K4 + pendant + chain)."""
    from moosestack_spark.ops.graph import triangle_counts

    edges = [
        # K4 on 1..4 (each node on 3 triangles)
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        # pendant edge and a chain: no triangles
        (4, 9), (9, 10), (10, 11),
        # one extra triangle sharing node 1
        (1, 5), (5, 6), (1, 6),
    ]
    e = spark.createDataFrame(edges, "doc_a long, doc_b long")
    base = {
        (r.v, r.n_triangles)
        for r in triangle_counts(e, "doc_a", "doc_b").collect()
    }
    deg = {
        (r.v, r.n_triangles)
        for r in triangle_counts(
            e, "doc_a", "doc_b", orient_by_degree=True
        ).collect()
    }
    assert base == deg
    assert dict(base)[1] == 4  # 3 K4 triangles + the (1,5,6) triangle
    assert dict(base)[4] == 3
    assert 9 not in dict(base) and 10 not in dict(base)


def test_bm25_length_normalization_and_exactness(spark):
    """Two docs with identical tf for the query term: the shorter one must
    score higher (the property tf-idf lacks); and the emitted double must
    equal num/SCALE exactly (single final division contract)."""
    from moosestack_spark.ops.retrieval import BM25_SCALE, bm25_topk

    rows = [
        (1, "scan " + "filler " * 50),
        (2, "scan " + "filler " * 5),
        (3, "other words only here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bm25_topk(df, "doc_id", "text", ("scan",), k=5).collect()}
    assert set(out) == {1, 2}  # doc 3 has no hit
    assert out[2].score > out[1].score  # shorter doc wins at equal tf
    for r in out.values():
        # score is an exact multiple of 1/BM25_SCALE
        assert abs(r.score * BM25_SCALE - round(r.score * BM25_SCALE)) < 1e-9
