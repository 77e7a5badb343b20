"""Equivalence pins for the optimization-r14 Arrow scoring paths: the
numpy kernels must reproduce the interpreted decimal folds BIT-FOR-BIT —
values compared exactly (repr-level, so +0.0 vs -0.0 counts), including
the NULL batteries (NULL / ragged / NULL-element vectors, zero-norm
denominators) whose argmin/argmax semantics differ per operator."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import localsql_spark.operators.similarity as S


def _rows(df, key):
    out = {}
    for r in df.collect():
        d = r.asDict()
        out[tuple(d[k] for k in key)] = {
            k: (repr(v) if isinstance(v, float) else
                [repr(x) if isinstance(x, float) else x for x in v]
                if isinstance(v, list) else v)
            for k, v in d.items()}
    return out


def _assert_same(a, b, key):
    ra, rb = _rows(a, key), _rows(b, key)
    assert set(ra) == set(rb)
    diff = [(k, ra[k], rb[k]) for k in ra if ra[k] != rb[k]]
    assert not diff, diff[:5]


NULL_BATTERY = [
    (1, [1.0, 2.0]), (2, [1.0, None]), (3, [1.0]), (4, None),
    (5, [0.5, 0.5]), (6, [0.1234567891234, 2.0]),
    (7, [1e-13, -1e-13]),        # rounds to +/-0 at 12dp
    (8, [0.0, 0.0]),             # zero norm -> _safe_div NULL
    (9, [-1e-11, 1e-30]),        # tiny NEGATIVE cosine -> Round -> -0.0
    (10, [1.0, 1.0]), (11, [2.0, 2.0]), (12, [-1.0, 2.0]),
]


@pytest.fixture(scope="module")
def corpus(spark):
    return spark.createDataFrame(NULL_BATTERY,
                                 "vec_id long, embedding array<double>")


@pytest.fixture(scope="module")
def cents(spark):
    return spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 1.0]), (2, [1.0, 1.0]),
         (3, [-1e-12, 1e-12])],
        "cell long, cent array<double>")


def test_kmeans_assign_matches_relational(spark, corpus, cents):
    for kv in (False, True):
        _assert_same(S.kmeans_assign(corpus, cents, keep_vec=kv),
                     S.kmeans_assign_relational(corpus, cents, keep_vec=kv),
                     ["vec_id"])


def test_coarse_assign_matches_relational(spark, corpus, cents):
    ci = cents.selectExpr("cast(cell as int) cell", "cent")
    _assert_same(S._coarse_assign(corpus, ci, "vec_id", "embedding"),
                 S._coarse_assign_relational(corpus, ci, "vec_id",
                                             "embedding"),
                 ["vec_id"])


def test_pq_assign_matches_relational(spark, corpus):
    sub = S._pq_sub(
        corpus.filter(F.col("embedding").isNotNull()
                      & (F.size("embedding") == 2)),
        2, "vec_id", "embedding")
    cb = spark.createDataFrame(
        [(0, 0, [0.0]), (0, 1, [1.0]), (1, 0, [0.5]), (1, 1, [2.0])],
        "s int, code int, cent array<double>")
    for kv in (False, True):
        _assert_same(S._pq_assign(sub, cb, "vec_id", keep_vec=kv),
                     S._pq_assign_relational(sub, cb, "vec_id", keep_vec=kv),
                     ["vec_id", "s"])


def test_arrow_cosine_matches_relational(spark, corpus):
    a = corpus.select(F.col("vec_id").alias("vec_a"),
                      F.col("embedding").alias("va"))
    b = corpus.select(F.col("vec_id").alias("vec_b"),
                      F.col("embedding").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("vec_a") < F.col("vec_b"))
    rel = pairs.select(
        "vec_a", "vec_b",
        S.cosine_pre(F.col("va"), F.col("vb"),
                     S.norm(F.col("va")), S.norm(F.col("vb")))
        .alias("cos_sim"))
    arrow = S.arrow_cosine_pairs(pairs, "cos_sim", "va", "vb",
                                 keep=["vec_a", "vec_b"])
    _assert_same(arrow, rel, ["vec_a", "vec_b"])


def test_arrow_cosine_negative_zero(spark):
    # Spark's Round(double, 9) goes through BigDecimal, which has NO
    # negative zero: a tiny negative cosine rounds to +0.0 — the Arrow
    # image must print identically (hash-visible repr)
    df = spark.createDataFrame([(1, [1.0, 0.0], [-1e-10, 1.0])],
                               "k long, a array<double>, b array<double>")
    row = S.arrow_cosine_pairs(df, "c", "a", "b", keep=["k"]).collect()[0]
    rel = df.select(S.cosine_pre(F.col("a"), F.col("b"), S.norm(F.col("a")),
                                 S.norm(F.col("b"))).alias("c")).collect()[0]
    assert repr(row["c"]) == repr(rel["c"]) == "0.0"


def test_knn_ivf_matches_relational(spark, corpus):
    clean = corpus.filter(F.col("embedding").isNotNull()
                          & (F.size("embedding") == 2))
    queries = clean.filter(F.col("vec_id") <= 6)
    got = S.knn_ivf(clean, queries, k=3, n_cells=2, n_probe=2)
    want = S.knn_ivf_relational(clean, queries, k=3, n_cells=2, n_probe=2)
    _assert_same(got, want, ["query_id", "rn"])


def test_knn_ivf_matches_relational_real(spark):
    from localsql_spark.workload import load

    from tests.conftest import SF_SMALL

    emb = load(spark, SF_SMALL)["embeddings"]
    q = emb.filter(F.col("vec_id") < 5)
    got = S.knn_ivf(emb, q, k=5, n_cells=8, n_probe=3)
    want = S.knn_ivf_relational(emb, q, k=5, n_cells=8, n_probe=3)
    _assert_same(got, want, ["query_id", "rn"])


def test_l2_fixed_rowsum_big_magnitudes(spark):
    # >4e3 elements route through the exact Decimal image; the distance
    # must still equal the relational decimal fold exactly
    corpus = spark.createDataFrame(
        [(1, [1e5, -2e7]), (2, [123456.789012345, 1.0])],
        "vec_id long, embedding array<double>")
    cents = spark.createDataFrame([(0, [0.0, 0.0]), (1, [9e6, 1.0])],
                                  "cell long, cent array<double>")
    _assert_same(S.kmeans_assign(corpus, cents),
                 S.kmeans_assign_relational(corpus, cents), ["vec_id"])


def test_parallel_init_weights_match_relational(spark):
    # the Arrow weighting pass (np.cumsum == the sequential float64 left
    # fold) must pick the same centers as the old in-plan formulation
    from pyspark.sql import functions as F

    from localsql_spark.operators import hash32

    # clean corpus: a NULL/ragged CANDIDATE vector was undefined in the
    # old formulation too (the greedy reduce crashes on it) — unclean
    # corpora never reach init in the workload
    rows = [(i, [float((i * 7) % 5) - 2.0, float((i * 3) % 4),
                 float(i % 3) * 0.5]) for i in range(40)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = S.kmeans_parallel_init(corpus, n_clusters=4, oversample=3)

    # relational replay of the retired weighting pass
    base = corpus.select(F.col("vec_id"), F.col("embedding").alias("v"))
    n = base.count()
    target = min(n, 3 * 4)
    ranked = base.select(
        F.col("vec_id").alias("cand_id"),
        F.transform(F.col("v"), lambda x: x.cast("double")).alias("cv"),
        F.pmod(hash32(F.col("vec_id")), F.lit(n)).alias("rk"))
    cand = (ranked.orderBy("rk", "cand_id").limit(int(target))
            .select("cand_id", "cv"))
    d_f64 = F.aggregate(
        F.zip_with(F.col("v"), F.col("cv"),
                   lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)
    scored = (base.crossJoin(F.broadcast(cand))
              .select("vec_id", "cand_id", d_f64.alias("d")))
    nearest = (scored.groupBy("vec_id")
               .agg(F.min(F.struct(F.col("d"), F.col("cand_id"))).alias("b"))
               .select(F.col("b.cand_id").alias("cand_id")))
    weights = {r["cand_id"]: r["w"] for r in
               nearest.groupBy("cand_id").agg(F.count(F.lit(1)).alias("w"))
               .collect()}
    cands = [(r["cand_id"], list(r["cv"])) for r in cand.collect()]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    first = max(cands, key=lambda c: (weights.get(c[0], 0), -c[0]))
    chosen, chosen_ids = [first], {first[0]}
    while len(chosen) < 4:
        best, best_score = None, None
        for cid, cv in cands:
            if cid in chosen_ids:
                continue
            score = (weights.get(cid, 0) * min(d2(cv, c[1])
                                               for c in chosen), -cid)
            if best_score is None or score > best_score:
                best, best_score = (cid, cv), score
        chosen.append(best)
        chosen_ids.add(best[0])
    want = {(i, tuple(c[1])) for i, c in enumerate(chosen)}
    have = {(r["cell"], tuple(r["cent"])) for r in got.collect()}
    assert have == want


def test_knn_brute_force_matches_relational(spark, corpus):
    from pyspark.sql import Window

    queries = corpus.filter(F.col("vec_id").isin(1, 2, 4, 5, 8, 9))
    got = S.knn_brute_force(corpus, queries, k=4)

    q = (queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qv"))
         .withColumn("qn", S.norm(F.col("qv"))))
    c = (corpus.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("cv"))
         .withColumn("cn", S.norm(F.col("cv"))))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      S.cosine_pre(F.col("qv"), F.col("cv"),
                                   F.col("qn"), F.col("cn"))
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    want = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 4)
            .select("query_id", "neighbor_id", "cos_sim", "rn"))
    _assert_same(got, want, ["query_id", "rn"])


def test_knn_lsh_bucketed_matches_relational(spark, corpus):
    # sign_bucket (relational in BOTH paths) ANSI-crashes on vectors
    # shorter than `bits` — pre-existing; compare on bucketable vectors
    from pyspark.sql import Window

    corpus = corpus.filter(F.col("embedding").isNotNull()
                           & (F.size("embedding") == 2))
    queries = corpus.filter(F.col("vec_id").isin(1, 5, 9, 10))
    got = S.knn_lsh_bucketed(corpus, queries, k=3, bits=2)

    q = (queries.select(F.col("vec_id").alias("query_id"),
                        F.col("embedding").alias("qv"),
                        S.sign_bucket(F.col("embedding"), 2).alias("bucket"))
         .withColumn("qn", S.norm(F.col("qv"))))
    c = (corpus.select(F.col("vec_id").alias("neighbor_id"),
                       F.col("embedding").alias("cv"),
                       S.sign_bucket(F.col("embedding"), 2).alias("bucket"))
         .withColumn("cn", S.norm(F.col("cv"))))
    scored = (c.join(F.broadcast(q), "bucket")
              .filter(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      S.cosine_pre(F.col("qv"), F.col("cv"),
                                   F.col("qn"), F.col("cn"))
                      .alias("cos_sim")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    want = (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("query_id", "neighbor_id", "cos_sim", "rn"))
    _assert_same(got, want, ["query_id", "rn"])


def test_kmeans_update_matches_relational(spark, corpus, cents):
    """The r15 Arrow fixed-point partial-sum centroid update must equal
    the posexplode decimal-mean fold bit-for-bit — including NULL
    vectors (no rows), NULL elements (count but no sum), ragged rows,
    values rounding to +/-0 at 12dp, and both the keep_vec and the
    corpus-join entry paths."""
    assign_kv = S.kmeans_assign(corpus, cents, keep_vec=True)
    _assert_same(S.kmeans_update(corpus, assign_kv),
                 S.kmeans_update_relational(corpus, assign_kv), ["cell"])
    assign = S.kmeans_assign(corpus, cents)
    _assert_same(S.kmeans_update(corpus, assign),
                 S.kmeans_update_relational(corpus, assign), ["cell"])
    # NULL group key: a group of its own on both sides, not dropped
    null_key = assign_kv.withColumn(
        "cluster_id", F.when(F.col("vec_id") % 3 != 0, F.col("cluster_id")))
    assert null_key.filter(F.col("cluster_id").isNull()).count() == 4
    upd = S.kmeans_update(corpus, null_key)
    assert None in {r.cell for r in upd.collect()}
    _assert_same(upd, S.kmeans_update_relational(corpus, null_key), ["cell"])


def test_kmeans_update_partitioning_invariant(spark, corpus, cents):
    """Integer associativity claim, checked live: the Arrow fold's result
    is identical at 1 partition and at 7 (different partial groupings)."""
    assign = S.kmeans_assign(corpus, cents, keep_vec=True)
    one = S.kmeans_update(corpus, assign.coalesce(1))
    many = S.kmeans_update(corpus, assign.repartition(7))
    _assert_same(one, many, ["cell"])
    _assert_same(one, S.kmeans_update_relational(corpus, assign), ["cell"])


def test_pq_train_matches_relational(spark, corpus):
    """pq_train's Arrow Lloyd round must reproduce the posexplode
    (s, code, p) decimal mean exactly.  Uses the clean battery rows only
    (pq codebooks from NULL vectors fall back relationally anyway)."""
    clean = corpus.filter(F.col("vec_id").isin(1, 5, 6, 8, 10, 11, 12))
    books = S.pq_train(clean, m=2, k_codes=2, n_iter=2)
    # relational reference: rebuild the same loop with the posexplode fold
    sub = S._pq_sub(clean, 2, "vec_id", "embedding")
    seed_ids = [r[0] for r in
                clean.select("vec_id").orderBy("vec_id").limit(2).collect()]
    code_map = F.broadcast(spark.createDataFrame(
        [(i, c) for c, i in enumerate(seed_ids)], ["vec_id", "code"]))
    cents = (sub.join(code_map, "vec_id")
             .select("s", "code",
                     F.transform("v", lambda x: x.cast("double"))
                     .alias("cent")))
    for _ in range(2):
        assign = S._pq_assign_relational(sub, cents, "vec_id",
                                         keep_vec=True)
        elems = assign.select("s", "code",
                              F.posexplode("__v").alias("p", "x"))
        dim_means = (elems.groupBy("s", "code", "p")
                     .agg((F.sum(F.round(F.col("x").cast("double"), 12)
                                 .cast("decimal(38,12)")).cast("double")
                           / F.count(F.lit(1))).alias("mn")))
        cents = (dim_means.groupBy("s", "code")
                 .agg(F.transform(
                     F.sort_array(F.collect_list(F.struct("p", "mn"))),
                     lambda st: st["mn"]).alias("cent")))
    _assert_same(books, spark.createDataFrame(cents.collect(),
                                              schema=cents.schema),
                 ["s", "code"])


def test_jl_project_matches_relational(spark, corpus):
    """The r15 Arrow JL kernel (fixed-point integer matmul) must equal
    the interpreted zip_with decimal fold bit-for-bit, including the
    NULL battery (NULL / ragged / NULL-element vectors project to
    all-NULL components) and large magnitudes past the fast path."""
    big = spark.createDataFrame(
        [(100, [1e15, -2.5e14]), (101, [3.3, 4.4])],
        "vec_id long, embedding array<double>")
    for df in (corpus, big):
        _assert_same(
            S.jl_project(df, dim=2, out_dim=4),
            S.jl_project_relational(df, dim=2, out_dim=4), ["vec_id"])


def test_rotate_frame_matches_relational(spark, corpus):
    """The r15 Arrow rotation kernel must equal the posexplode/broadcast
    fixed-point aggregate bit-for-bit: NULL vectors drop, NULL-element
    positions are skipped by the component sums, all-NULL rows keep NULL
    components, ragged rows fold only their present positions."""
    rot = [[0.6, -0.8], [0.8, 0.6]]
    got = S._rotate_frame(corpus, "vec_id", "embedding", rot)
    exp = S._rotate_frame_relational(corpus, "vec_id", "embedding", rot)
    _assert_same(got, exp, ["vec_id"])
    # past the _halfup_fixed fast path (|x*w| > 4e3) but inside the
    # bigint range the relational cast allows (an ANSI overflow there
    # kills the relational plan too, so it is out of contract)
    big = spark.createDataFrame(
        [(100, [1e5, -2.5e4]), (101, [5e3, 1.0])],
        "vec_id long, embedding array<double>")
    _assert_same(S._rotate_frame(big, "vec_id", "embedding", rot),
                 S._rotate_frame_relational(big, "vec_id", "embedding",
                                            rot), ["vec_id"])
