"""sequenceCount: the prefix-max identity vs a brute-force greedy matcher.

The operator (operators/funnel.py agg_sequence_count) computes the number
of disjoint A->B chains as total_B - max(0, max_prefix(B_k - A_k)).  These
tests defend the ballot-problem identity itself against an independent
event-by-event greedy simulation (which is optimal for 2-step interval
scheduling), on random and adversarial sequences, plus one Spark run over
a planted frame.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F


def _greedy(seq: str) -> int:
    unmatched_a = matched = 0
    for c in seq:
        if c == "A":
            unmatched_a += 1
        elif c == "B" and unmatched_a > 0:
            unmatched_a -= 1
            matched += 1
    return matched


def _identity(seq: str) -> int:
    b_tot = seq.count("B")
    worst = 0
    b_minus_a = 0
    for c in seq:
        b_minus_a += 1 if c == "B" else -1
        worst = max(worst, b_minus_a)
    return b_tot - max(0, worst)


def test_identity_matches_greedy_on_random_sequences():
    rng = random.Random(42)
    for _ in range(500):
        seq = "".join(rng.choice("AB") for _ in range(rng.randint(0, 40)))
        assert _identity(seq) == _greedy(seq), seq
    for seq in ["", "A", "B", "BA", "AB", "BBAA", "AABB", "BAB", "ABAB"]:
        assert _identity(seq) == _greedy(seq), seq


def test_spark_sequence_count_on_planted_events(spark, tmp_path):
    # user 1: B A B  -> 1 chain; user 2: A B A B -> 2; user 3: B B A A -> 0
    rows = []
    eid = 0
    for uid, seq in [(1, "BAB"), (2, "ABAB"), (3, "BBAA")]:
        for i, c in enumerate(seq):
            rows.append(
                (
                    eid,
                    uid,
                    "view" if c == "A" else "click",
                    f"2024-01-01 00:00:{i:02d}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts_s string"
    ).withColumn("ts", F.col("ts_s").cast("timestamp_ntz"))
    out = str(tmp_path / "events.parquet")
    # the full declared events shape: tables.t() rejects any other
    df.select(
        "event_id", "ts", "user_id", "event_type",
        F.lit(0.0).alias("value"), F.lit("{}").alias("props"),
    ).write.parquet(out)
    # point the operator at a directory shaped like a sf_dir
    from moosestack_spark import registry

    registry.load_all()
    got = {
        r.user_id: r.n_chains
        for r in registry.QUERIES["agg_sequence_count"](
            spark, str(tmp_path)
        ).collect()
    }
    assert got == {1: 1, 2: 2}
