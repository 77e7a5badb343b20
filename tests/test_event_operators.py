"""Unit tests for the event-time operators on tiny hand-built frames:
as-of join tie/no-match semantics, range join boundary inclusion, session
window merging, salted aggregation equivalence, spread() no-op behavior.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from localsql_spark.operators import events as E
from localsql_spark.operators import spread
from localsql_spark.operators.skew import salted_agg, salted_join


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [(1, 10, ts("2024-01-01 10:00:00")),
         (2, 10, ts("2024-01-01 10:05:00")),
         (3, 20, ts("2024-01-01 09:00:00"))],
        "pid long, k long, pts timestamp")
    right = spark.createDataFrame(
        [(100, 10, ts("2024-01-01 09:59:00"), 1.0),
         (101, 10, ts("2024-01-01 10:00:00"), 2.0),   # tie with pid=1
         (102, 10, ts("2024-01-01 10:00:00"), 3.0),   # same-ts, higher id
         (103, 10, ts("2024-01-01 10:04:00"), 4.0),
         (104, 30, ts("2024-01-01 08:00:00"), 5.0)],
        "rid long, k long, rts timestamp, v double")
    return left, right


def test_asof_includes_equal_ts_and_breaks_ties_by_id(spark, asof_frames):
    left, right = asof_frames
    out = E.asof_join(left, right, on=["k"], left_ts="pts", right_ts="rts",
                      right_cols=["rid", "v"], tiebreak="rid")
    rows = {r["pid"]: r for r in out.collect()}
    # pid=1 at 10:00 matches the 10:00 right rows (inclusive); rid 102 wins the tie
    assert rows[1]["rid_asof"] == 102 and rows[1]["v_asof"] == 3.0
    # pid=2 at 10:05 -> most recent is 10:04
    assert rows[2]["rid_asof"] == 103
    # pid=3: key 20 has no right rows at all -> left-outer nulls
    assert rows[3]["rid_asof"] is None and rows[3]["rts_asof"] is None


def test_asof_no_earlier_row_is_null(spark, asof_frames):
    left, right = asof_frames
    early = spark.createDataFrame(
        [(9, 10, ts("2024-01-01 01:00:00"))], "pid long, k long, pts timestamp")
    out = E.asof_join(early, right, on=["k"], left_ts="pts", right_ts="rts",
                      right_cols=["rid"], tiebreak="rid")
    assert out.collect()[0]["rid_asof"] is None


def test_range_join_boundaries(spark):
    left = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 10:00:00"))], "lid long, k long, lts timestamp")
    right = spark.createDataFrame(
        [(10, 1, ts("2024-01-01 10:00:00")),   # delta = 0 (inclusive)
         (11, 1, ts("2024-01-01 10:05:00")),   # delta = 300 (inclusive)
         (12, 1, ts("2024-01-01 10:05:01")),   # delta = 301 (out)
         (13, 1, ts("2024-01-01 09:59:59")),   # delta = -1 (out)
         (14, 2, ts("2024-01-01 10:01:00"))],  # wrong key
        "rid long, k long, rts timestamp")
    out = E.range_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                       lower_s=0.0, upper_s=300.0)
    assert sorted(r["rid"] for r in out.collect()) == [10, 11]


def test_range_join_negative_window(spark):
    """Window strictly BEFORE the left event ([-300, -1] seconds)."""
    left = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 10:00:00"))], "lid long, k long, lts timestamp")
    right = spark.createDataFrame(
        [(10, 1, ts("2024-01-01 09:56:00")),
         (11, 1, ts("2024-01-01 10:00:00")),
         (12, 1, ts("2024-01-01 09:54:59"))],
        "rid long, k long, rts timestamp")
    out = E.range_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                       lower_s=-300.0, upper_s=-1.0)
    assert sorted(r["rid"] for r in out.collect()) == [10]


def test_session_agg_merges_within_gap(spark):
    ev = spark.createDataFrame(
        [(1, ts("2024-01-01 10:00:00")),
         (1, ts("2024-01-01 10:20:00")),    # 20m gap -> same session
         (1, ts("2024-01-01 11:30:00")),    # 70m gap -> new session
         (2, ts("2024-01-01 10:00:00"))],
        "user_id long, ts timestamp")
    out = E.session_agg(ev, "30 minutes", key_cols=["user_id"],
                        aggs=[F.count("*").alias("n")])
    sessions = {(r["user_id"], r["n"]) for r in out.collect()}
    assert sessions == {(1, 2), (1, 1), (2, 1)}
    # session end = last event + gap
    first = [r for r in out.collect() if r["user_id"] == 1 and r["n"] == 2][0]
    assert first["s_end"] == ts("2024-01-01 10:50:00")


def test_salted_agg_equals_plain_groupby(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").cast("double").alias("v"))
    out = salted_agg(df, ["k"],
                     {"n": F.count(F.lit(1)),
                      "s": F.sum(F.col("v").cast("decimal(18,2)")),
                      "mn": F.min("v"), "mx": F.max("v")}, n_salts=8)
    plain = df.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
        F.min("v").alias("mn"), F.max("v").alias("mx"))
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_join_equals_plain_join(spark):
    big = spark.range(0, 500).select((F.col("id") % 5).alias("k"), "id")
    small = spark.createDataFrame([(i, f"v{i}") for i in range(5)], "k long, tag string")
    out = salted_join(big, small, on=["k"], n_salts=4)
    plain = big.join(small, "k")
    assert out.count() == plain.count() == 500
    assert sorted(map(tuple, out.select("k", "id", "tag").collect())) == \
        sorted(map(tuple, plain.select("k", "id", "tag").collect()))


def test_spread_repartitions_single_small_file(spark, tmp_path):
    """One small input split -> repartition to default parallelism; the check
    is plan-side (inputFiles + sizes), so non-file plans pass through as-is."""
    p = str(tmp_path / "small")
    spark.range(0, 1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    out = spread(df)
    assert out is not df
    assert out.rdd.getNumPartitions() > 1
    # non-file plan: left untouched (partitioning comes from shuffle sizing)
    rng = spark.range(0, 100).coalesce(1)
    assert spread(rng) is rng


def test_spread_is_noop_when_well_partitioned(spark, tmp_path):
    p = str(tmp_path / "many")
    spark.range(0, 1000).repartition(64).write.parquet(p)
    df = spark.read.parquet(p)
    assert spread(df) is df  # 64 file splits >= parallelism threshold


def test_asof_forward_direction(spark, asof_frames):
    left, right = asof_frames
    out = E.asof_join(left, right, on=["k"], left_ts="pts", right_ts="rts",
                      right_cols=["rid", "v"], tiebreak="rid",
                      direction="forward")
    rows = {r["pid"]: r for r in out.collect()}
    # pid=1 at 10:00: equal-ts rows qualify; smallest rid (101) wins the tie
    assert rows[1]["rid_asof"] == 101
    # pid=2 at 10:05: no right row at-or-after -> null
    assert rows[2]["rid_asof"] is None
    # pid=3 key 20: no right rows at all -> null
    assert rows[3]["rid_asof"] is None


def test_asof_bad_direction_raises(spark, asof_frames):
    left, right = asof_frames
    with pytest.raises(ValueError, match="backward|forward"):
        E.asof_join(left, right, on=["k"], left_ts="pts", right_ts="rts",
                    direction="sideways")


def test_hll_estimate_within_error_bound(spark):
    from localsql_spark.operators.sketches import hll_error_bound, hll_estimate

    for true_n in (150, 5000):
        df = spark.range(0, 50_000).select((F.col("id") % true_n).alias("k"))
        est = hll_estimate(df, "k").collect()[0]["estimate"]
        rel_err = abs(est - true_n) / true_n
        assert rel_err < hll_error_bound(3.0), (true_n, est, rel_err)


def test_salted_agg_rejects_non_algebraic(spark):
    df = spark.range(0, 10).select((F.col("id") % 2).alias("k"),
                                   F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="sum/count/min/max"):
        salted_agg(df, ["k"], {"a": F.avg("v")}, n_salts=4)


def test_range_join_rejects_same_ts_name(spark):
    df = spark.createDataFrame(
        [(1, 1, ts("2024-01-01 10:00:00"))], "lid long, k long, ts timestamp")
    with pytest.raises(ValueError, match="distinct timestamp column names"):
        E.range_join(df, df, on=["k"], left_ts="ts", right_ts="ts",
                     lower_s=0.0, upper_s=10.0)


def test_asof_tolerance_nulls_stale_matches(spark, asof_frames):
    left, right = asof_frames
    out = E.asof_join(left, right, on=["k"], left_ts="pts", right_ts="rts",
                      right_cols=["rid"], tiebreak="rid", tolerance_s=90.0)
    rows = {r["pid"]: r for r in out.collect()}
    assert rows[1]["rid_asof"] == 102      # 0s gap: kept
    assert rows[2]["rid_asof"] == 103      # 60s gap: kept
    wide = E.asof_join(left, right, on=["k"], left_ts="pts", right_ts="rts",
                       right_cols=["rid"], tiebreak="rid", tolerance_s=30.0)
    rows = {r["pid"]: r for r in wide.collect()}
    assert rows[2]["rid_asof"] is None     # 60s gap > 30s tolerance: nulled


def test_salted_agg_rejects_distinct_and_by_variants(spark):
    df = spark.range(0, 10).select((F.col("id") % 2).alias("k"),
                                   F.col("id").cast("double").alias("v"))
    with pytest.raises(ValueError, match="DISTINCT"):
        salted_agg(df, ["k"], {"d": F.countDistinct("v")}, n_salts=4)
    with pytest.raises(ValueError):
        salted_agg(df, ["k"], {"m": F.min_by("v", "v")}, n_salts=4)


def test_asof_empty_right_cols_respected(spark, asof_frames):
    left, right = asof_frames
    out = E.asof_join(left, right, on=["k"], left_ts="pts", right_ts="rts",
                      right_cols=[], tiebreak="rid")
    assert set(out.columns) == {"pid", "k", "pts", "rts_asof"}


def test_tumbling_agg_accepts_unaliased_aggs(spark):
    ev = spark.createDataFrame(
        [(1, ts("2024-01-01 10:05:00"), 2.0)], "id long, ts timestamp, v double")
    out = E.tumbling_agg(ev, "1 hour", aggs=[F.sum(F.col("v").cast("decimal(18,2)"))])
    row = out.collect()[0]
    assert float(row[-1]) == 2.0  # unaliased agg still surfaces


def test_connected_components_raises_on_non_convergence(spark):
    import pytest as _pytest
    from localsql_spark.operators.dedup import connected_components

    # a 10-node chain has diameter 9 > max_iter=2
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_hll_ignores_nulls(spark):
    from localsql_spark.operators.sketches import hll_estimate

    df = spark.createDataFrame([(1,), (2,), (None,), (None,)], "k int")
    row = hll_estimate(df, "k").collect()[0]
    assert row["n_buckets_seen"] == 2  # no phantom NULL register


def test_persist_cleanup_releases_operator_caches(spark):
    """minhash_lsh_pairs persists its signature table; operators.cleanup()
    must release it (long-lived REPL sessions must not accumulate cache)."""
    from localsql_spark.operators import _PERSISTED, cleanup
    from localsql_spark.operators.dedup import minhash_lsh_pairs

    cleanup()  # start from a clean slate
    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog " + str(i % 3))
         for i in range(20)], "doc_id long, text string")
    pairs = minhash_lsh_pairs(df)
    pairs.count()
    assert len(_PERSISTED) > 0
    released = cleanup()
    assert released > 0 and not _PERSISTED
    pairs.count()  # recompute after unpersist still works


def test_salted_agg_internals_drift_guard():
    """If DataFrame._jdf / Column._jc move in a future pyspark, salted_agg
    must fail with a pointer to the helper, not an opaque AttributeError."""
    from localsql_spark.operators.skew import (_analyzed_plan_string,
                                               _column_string)

    class NotADataFrame:
        pass

    with pytest.raises(RuntimeError, match="skew.py"):
        _analyzed_plan_string(NotADataFrame())
    with pytest.raises(RuntimeError, match="skew.py"):
        _column_string(NotADataFrame())


@pytest.mark.parametrize("edges,desc", [
    ([(i, i + 1) for i in range(30)], "30-deep chain (diameter stress)"),
    ([(0, 1), (1, 2), (5, 6), (6, 7), (7, 5), (10, 11)], "3 components + cycle"),
    ([(2, 9), (9, 4), (4, 7), (3, 8), (8, 1), (0, 5), (5, 6)], "unordered ids"),
    ([(1, 2), (2, 1), (3, 3), (3, 4)], "dups + self-loop"),
])
def test_bigstar_cc_matches_label_propagation(spark, edges, desc):
    """Alternating-star CC must produce exactly the same clustering as
    min-label propagation — including on a 30-deep chain, where propagation
    needs 30 rounds but star contraction needs O(log^2 n)."""
    from localsql_spark.operators.dedup import (connected_components,
                                                connected_components_bigstar)

    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    expected = sorted(map(tuple, connected_components(
        df, max_iter=40).collect()))
    got = sorted(map(tuple, connected_components_bigstar(df).collect()))
    assert got == expected, desc


def test_bigstar_cc_deep_chain_beats_round_budget(spark):
    """A 30-node chain exceeds a 10-round propagation budget but converges
    fine under star contraction with the same budget — the scale headroom
    the operator exists for."""
    from localsql_spark.operators.dedup import (connected_components,
                                                connected_components_bigstar)

    chain = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                  "doc_a long, doc_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=10)
    out = connected_components_bigstar(chain, max_iter=10)
    assert {r["cluster_id"] for r in out.collect()} == {0}


def test_minhash_bucket_cap_drops_hot_buckets_only(spark):
    """bucket_cap must drop ONLY the hot-bucket (mass-duplicate) pairs; the
    ordinary near-dup pairs must be exactly the uncapped result."""
    from localsql_spark.operators.dedup import minhash_lsh_pairs

    base = [(i, f"the quick brown fox jumps over dog number {i} "
                f"with extra words {i % 4}") for i in range(12)]
    clones = [(100 + i, "identical boilerplate text repeated verbatim "
                        "across the whole corpus again and again")
              for i in range(30)]
    df = spark.createDataFrame(base + clones, "doc_id long, text string")

    uncapped = minhash_lsh_pairs(df)
    capped = minhash_lsh_pairs(df, bucket_cap=10)
    unc = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    cap = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    clone_pairs = {p for p in unc if p[0] >= 100 and p[1] >= 100}
    assert len(clone_pairs) == 30 * 29 // 2, "clones must all pair uncapped"
    assert cap == unc - clone_pairs, \
        "cap must remove exactly the hot-bucket pairs"


def test_cosine_zero_norm_does_not_crash(spark):
    """A zero vector must yield NULL cosine (ANSI mode would otherwise raise
    DIVIDE_BY_ZERO and abort the whole kNN job)."""
    from localsql_spark.operators.similarity import knn_brute_force

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [0.0, 0.0]), (2, [2.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>")
    out = knn_brute_force(df, df.filter("vec_id = 0"), k=3).collect()
    sims = {r["neighbor_id"]: r["cos_sim"] for r in out}
    assert sims[1] is None  # zero-norm neighbor scores NULL, job survives
    assert sims[3] is not None


def test_asof_ignores_null_right_timestamps(spark, asof_frames):
    left, right = asof_frames
    from pyspark.sql import functions as F
    dirty = right.unionByName(
        spark.createDataFrame([(999, 20, None, 9.9)],
                              "rid long, k long, rts timestamp, v double"))
    out = E.asof_join(left, dirty, on=["k"], left_ts="pts", right_ts="rts",
                      right_cols=["rid", "v"], tiebreak="rid")
    rows = {r["pid"]: r for r in out.collect()}
    # pid=3 (key 20) has ONLY the NULL-ts dirty row -> must stay unmatched
    assert rows[3]["rid_asof"] is None and rows[3]["v_asof"] is None


def test_salted_agg_accepts_upstream_distinct(spark):
    """A distinct aggregate computed UPSTREAM of the input must not trigger
    the per-salt-DISTINCT rejection (only the new partial is checked)."""
    df = (spark.range(0, 300)
          .select((F.col("id") % 5).alias("user_id"),
                  (F.col("id") % 7).alias("event_type"))
          .groupBy("user_id")
          .agg(F.countDistinct("event_type").alias("nt")))
    out = salted_agg(df, ["nt"], {"n": F.count(F.lit(1))}, n_salts=4)
    assert {(r["nt"], r["n"]) for r in out.collect()} == {(7, 5)}


def test_hll_empty_input_estimates_zero(spark):
    from localsql_spark.operators.sketches import hll_estimate

    df = spark.range(0, 100).select(F.col("id").alias("k")).filter("k < 0")
    row = hll_estimate(df, "k").collect()[0]
    assert row["n_buckets_seen"] == 0
    assert row["estimate"] == 0.0


def test_empty_text_guards(spark):
    """Empty documents: 0 whitespace tokens and NULL ratios — not a crash,
    not a phantom token."""
    from localsql_spark.operators import text as T

    df = spark.createDataFrame([("",), ("   ",), ("two words",)], "text string")
    rows = df.select(
        T.token_count_ws("text").alias("ws"),
        T.punct_ratio("text").alias("pr"),
        T.digit_ratio("text").alias("dr")).collect()
    assert [r["ws"] for r in rows] == [0, 0, 2]
    assert rows[0]["pr"] is None and rows[0]["dr"] is None
    assert rows[2]["pr"] == 0.0


def test_incremental_minhash_only_pairs_touching_new_batch(spark):
    """Old-old pairs must never appear (they were deduped yesterday);
    new-old and new-new pairs must, each once, canonically ordered."""
    from pyspark.sql import functions as F

    from localsql_spark.operators.dedup import minhash_lsh_pairs_incremental

    base = "the quick brown fox jumps over the lazy dog again and again "
    corpus = spark.createDataFrame(
        [(1, base + "alpha"), (2, base + "alpha"),   # old-old near-dup pair
         (3, "totally unrelated content with completely different words "
             "and nothing shared at all here")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, base + "alpha"),                        # dup of old 1 and 2
         (11, base + "alpha"),                        # new-new dup of 10
         (12, "another fully distinct document about other topics "
              "entirely different vocabulary")],
        "doc_id long, text string")
    got = {(r.doc_a, r.doc_b)
           for r in minhash_lsh_pairs_incremental(corpus, new).collect()}
    assert (1, 2) not in got, "old-old pair must not be re-emitted"
    assert {(1, 10), (2, 10), (1, 11), (2, 11), (10, 11)} <= got
    assert all(a < b for a, b in got)
    assert not any({a, b} == {1, 2} for a, b in got)


def test_decode_image_codec_paths(spark):
    """Codec contract: fake is identity on payload bytes; real raises the
    documented NotImplementedError when Pillow is absent (decodes when
    present); auto falls back to fake without a codec and never raises."""
    import importlib.util

    import pytest

    from localsql_spark.operators.multimodal import decode_image

    payload = b"\x00\x10 deterministic payload \xff"
    assert decode_image(payload, "png", codec="fake") == payload
    assert decode_image(b"", "png", codec="fake") == b""
    with pytest.raises(ValueError, match="unknown codec"):
        decode_image(payload, "png", codec="imaginary")

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(NotImplementedError, match="image codec"):
            decode_image(payload, "png", codec="real")
        assert decode_image(payload, "png", codec="auto") == payload
    else:
        from io import BytesIO

        from PIL import Image

        buf = BytesIO()
        Image.new("RGB", (3, 2), (10, 20, 30)).save(buf, format="PNG")
        px = decode_image(buf.getvalue(), "png", codec="real")
        assert len(px) == 6  # 3x2 grayscale bytes
        assert decode_image(buf.getvalue(), "png",
                            codec="auto") == px


# ---------------------------------------------------------------------------
# multimodal perceptual hash (operators/multimodal.py)
# ---------------------------------------------------------------------------

def test_phash_basis_matches_python(spark):
    """The rounded DCT basis must be identical across engines — this is
    the determinism foundation of the multimodal_phash oracle (both sides
    derive the basis independently from round(cos(...), 12))."""
    import math

    from localsql_spark.operators.multimodal import dct_basis

    got = {(r.u, r.b): r.w for r in dct_basis(spark).collect()}
    assert len(got) == 32 * 64
    for u in range(1, 33):
        for b in range(64):
            assert got[(u, b)] == round(
                math.cos(math.pi * (2 * b + 1) * u / 128.0), 12)


def test_phash_pairs_near_dup_semantics(spark):
    """Near-identical payloads land within the hamming threshold, a
    disjoint payload does not, and the banded candidate generation loses
    nothing vs the all-pairs compare for hamming <= bands-1."""
    from pyspark.sql import functions as F

    from localsql_spark.operators.multimodal import (phash_features,
                                                     phash_pairs)

    base = ("the quick brown fox jumps over the lazy dog while the "
            "banded perceptual hash keeps its low frequency signs stable")
    rows = [(1, base), (2, base.replace("dog", "cat")),
            (3, "completely unrelated text about shuffle partitions and "
                "broadcast joins in a distributed query engine")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted((r.doc_a, r.doc_b) for r in
                 phash_pairs(docs, max_hamming=3).collect())
    assert (1, 2) in got
    assert all(3 not in p for p in got)

    # banding recall check: banded pairs == brute-force pairs at <= 3
    h = {r.doc_id: r.phash for r in phash_features(docs).collect()}
    brute = sorted(
        (a, b) for a in h for b in h if a < b
        and bin(h[a] ^ h[b]).count("1") <= 3)
    assert got == brute

    # doc shorter than 64 chars still hashes (pool buckets repeat)
    tiny = spark.createDataFrame([(9, "short text")],
                                 "doc_id long, text string")
    assert phash_features(tiny).count() == 1


def test_multi_touch_attribution_models(spark):
    """Linear splits evenly; time-decay favors the touch nearest the
    conversion; credits per conversion sum to 1 across channels; touches
    outside the window earn nothing."""
    from pyspark.sql import functions as F

    from localsql_spark.operators.events import multi_touch_attribution

    H = 3600
    rows = [
        # user 1: purchase at t=10h, click at 9h (fresh), view at 1h (stale)
        (1, 1, 1 * H, "view", 0.0, "{}"),
        (2, 1, 9 * H, "click", 0.0, "{}"),
        (3, 1, 10 * H, "purchase", 1.0, "{}"),
        # user 2: click far outside the window -> unattributed conversion
        (4, 2, 0, "click", 0.0, "{}"),
        (5, 2, 9_000_000, "purchase", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, event_type string, "
              "value double, props string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    out = {r.channel: r for r in
           multi_touch_attribution(ev, window_s=86400.0, halflife_s=3600.0)
           .collect()}
    assert set(out) == {"click", "view"}
    # linear: one conversion, two touches -> 0.5 each
    assert abs(out["click"].linear_credit - 0.5) < 1e-9
    assert abs(out["view"].linear_credit - 0.5) < 1e-9
    # decay: click is 1h old (w=1/2), view 9h old (w=2^-9) -> click >> view
    assert out["click"].decay_credit > 0.99
    assert out["view"].decay_credit < 0.01
    assert abs(out["click"].decay_credit + out["view"].decay_credit
               - 1.0) < 1e-6
    # the windowless user-2 conversion appears in NO channel row
    assert out["click"].n_conversions == 1


def test_km_survival_censoring_is_not_death(spark):
    """Censored users leave the risk set without dropping the curve; a
    textbook hand-checked case: 4 users — churn at day 1, censor at day
    2, churn at day 3, censor at day 4 (the cutoff user).
    S(1) = 3/4; S(3) = 3/4 * 1/2 = 0.375 (the day-2 censor shrinks the
    risk set but kills nobody — a naive churn rate would read 2/4)."""
    from pyspark.sql import functions as F

    from localsql_spark.operators.events import km_survival

    D = 86400
    rows = [
        # (event_id, user, ts)
        (1, 1, 0), (2, 1, 1 * D),            # churn, lifetime 1d
        (3, 2, 0), (4, 2, 2 * D),            # last seen 2d -> censored? no:
        (5, 3, 0), (6, 3, 3 * D),            # churn, lifetime 3d
        (7, 4, 0), (8, 4, 30 * D),           # cutoff user (censored)
    ]
    ev = spark.createDataFrame(
        [(e, u, t, "x", 0.0, "{}") for e, u, t in rows],
        "event_id long, user_id long, ts long, event_type string, "
        "value double, props string") \
        .withColumn("ts", F.col("ts").cast("timestamp"))
    # gap = 27d: user 2's last activity (2d) is 28d before cutoff (30d)
    # -> churned; make the gap 26d so user 2 churns, user 3 (3d, 27d
    # before cutoff) churns too; user 4 censors at the cutoff
    out = {r.day: r for r in
           km_survival(ev, churn_gap_s=26 * 86400.0).collect()}
    # user1 churn d1, user2 churn d2, user3 churn d3, user4 censored d30
    assert out[1].n_at_risk == 4 and out[1].n_churned == 1
    assert abs(out[1].survival - 0.75) < 1e-9
    assert out[2].n_at_risk == 3 and out[2].n_churned == 1
    assert abs(out[2].survival - 0.5) < 1e-9
    assert out[3].n_at_risk == 2 and out[3].n_churned == 1
    assert abs(out[3].survival - 0.25) < 1e-9
    # the censored cutoff user leaves silently: survival stays 0.25
    assert out[30].n_censored == 1 and out[30].n_churned == 0
    assert abs(out[30].survival - 0.25) < 1e-9


def test_er_empty_attrs_score_one_not_crash(spark):
    """Two empty attrs in one block are identical (sim 1.0) — the bare
    division raised DIVIDE_BY_ZERO under ANSI mode and killed the job
    (code-review r9); same guard on the sorted-neighborhood path."""
    from localsql_spark.operators import er as ER

    df = spark.createDataFrame([(1, "", "b1"), (2, "", "b1")],
                               "id long, a string, blk string")
    m = ER.blocked_edit_matches(df, id_col="id", attr_col="a",
                                block_cols=["blk"], max_dist=1).collect()
    assert [(r.id_a, r.id_b, r.dist, r.sim) for r in m] == [(1, 2, 0, 1.0)]
    sn = ER.sorted_neighborhood_matches(df, id_col="id", attr_col="a",
                                        block_cols=["blk"], window=2,
                                        max_dist=1).collect()
    assert [(r.id_a, r.id_b, r.sim) for r in sn] == [(1, 2, 1.0)]


def test_sorted_neighborhood_window_one_compares_nothing(spark):
    """window=1 means no neighbors: F.sequence(1, 0) used to emit a
    DESCENDING [1, 0], pairing every record with ITSELF at offset 0
    (code-review r9, reproduced)."""
    from localsql_spark.operators import er as ER

    df = spark.createDataFrame([(1, "abc", "b"), (2, "abd", "b")],
                               "id long, a string, blk string")
    out = ER.sorted_neighborhood_matches(df, id_col="id", attr_col="a",
                                         block_cols=["blk"], window=1,
                                         max_dist=4)
    assert out.count() == 0


def test_fingerprint_null_keys_and_payloads(spark):
    """Identical tables containing NULL keys must fingerprint EQUAL
    (NULL bucket was invisible to the diff's equi-join — spurious
    drift alarms), and rows whose payload is NULL must still contribute
    their keys to the hash (code-review r9, both reproduced)."""
    from localsql_spark.operators.fingerprint import (fingerprint_diff,
                                                      table_fingerprint)

    t = spark.createDataFrame([(None, "x"), (1, None), (2, "y")],
                              "k long, v string")
    fa = table_fingerprint(t, "k", F.col("v"))
    fb = table_fingerprint(t, "k", F.col("v"))
    assert fingerprint_diff(fa, fb).count() == 0
    # two tables differing only in the KEY of a NULL-payload row differ
    t2 = spark.createDataFrame([(None, "x"), (7, None), (2, "y")],
                               "k long, v string")
    assert fingerprint_diff(
        fa, table_fingerprint(t2, "k", F.col("v"))).count() > 0


def test_asof_forward_null_left_ts_gets_null_match(spark):
    """A left row with a NULL timestamp keeps the left-outer NULL in
    BOTH directions — forward mode used to hand it the earliest right
    payload (code-review r9, reproduced)."""
    import datetime as dt

    from localsql_spark.operators.events import asof_join

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 5)), (1, None)],
        "k long, lts timestamp")
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 10), "r")],
        "k long, rts timestamp, pay string")
    for direction in ("backward", "forward"):
        out = {(r.lts, r.pay_asof) for r in asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            right_cols=["pay"], direction=direction).collect()}
        null_row = next(p for ts, p in out if ts is None)
        assert null_row is None, f"{direction}: NULL-ts row got a match"


def test_multi_touch_all_zero_decay_weights_fall_back_to_linear(spark):
    """A conversion whose every decay weight rounds to 0 used to divide
    0/0 and abort under ANSI mode; it now falls back to the equal split
    so its credit still sums to 1 (code-review r9)."""
    import datetime as dt

    from localsql_spark.operators.events import multi_touch_attribution

    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(1, 7, "click", base, 0.0),
         (2, 7, "view", base + dt.timedelta(days=2), 0.0),
         (3, 7, "purchase", base + dt.timedelta(days=6), 1.0)],
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double")
    out = multi_touch_attribution(ev, conversion_type="purchase",
                                  touch_types=["click", "view"],
                                  halflife_s=600.0)  # 10-min halflife
    rows = {r.channel: (float(r.linear_credit), float(r.decay_credit))
            for r in out.collect()}
    assert rows == {"click": (0.5, 0.5), "view": (0.5, 0.5)}


def test_km_censors_at_last_observed_activity(spark):
    """Censored users leave the risk set at their LAST observed
    activity, not the cutoff — standard KM right-censoring
    (code-review r9; the old behavior inflated the risk set)."""
    import datetime as dt

    from localsql_spark.operators.events import km_survival

    base = dt.datetime(2024, 1, 1)
    rows = []
    # user 1: active day 0 only, cutoff day 30, gap 14d -> CHURNED day 0
    rows += [(1, base)]
    # user 2: last active day 20, 10d before the cutoff -> CENSORED at
    # their last observation day 20 (the old behavior censored at 30)
    rows += [(2, base), (2, base + dt.timedelta(days=20))]
    # user 3: defines the cutoff at day 30
    rows += [(3, base), (3, base + dt.timedelta(days=30))]
    ev = spark.createDataFrame([(i, u, t) for i, (u, t) in enumerate(rows)],
                               "event_id long, user_id long, ts timestamp")
    out = {r.day: (r.n_at_risk, r.n_churned, r.n_censored)
           for r in km_survival(ev, churn_gap_s=14 * 86400.0).collect()}
    assert out[0] == (3, 1, 0)
    assert out[20] == (2, 0, 1), "user 2 censored at last activity day 20"
    assert out[30] == (1, 0, 1)
    assert 3 not in out and 10 not in out


def test_fingerprint_arrow_matches_relational(spark):
    """The round-14 Arrow fingerprint map must be bit-identical to the
    relational (oracle-shaped) plan on adversarial texts: short docs
    (empty pool bins), exact duplicates, punctuation/digit mixes, and
    lengths straddling the bin count."""
    import random
    import string

    from localsql_spark.operators.multimodal import (
        audio_fingerprint, audio_fingerprint_relational, phash_features,
        phash_features_relational)

    rng = random.Random(14)
    rows = [(1, "short text"), (2, "x"), (3, "short text")]
    for i in range(4, 120):
        n = rng.choice([3, 17, 63, 64, 65, 127, 128, 129, 300, 900])
        rows.append((i, "".join(rng.choice(string.printable[:95])
                                for _ in range(n))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fast, ref, col in ((phash_features, phash_features_relational,
                            "phash"),
                           (audio_fingerprint, audio_fingerprint_relational,
                            "afp")):
        got = {r["doc_id"]: r[col] for r in fast(docs).collect()}
        want = {r["doc_id"]: r[col] for r in ref(docs).collect()}
        assert got == want, f"{col}: arrow/relational fingerprints diverge"
