"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline; sign-bucket LSH as the scale
path.  Beyond the reference's surface (it has no vector operations at all);
part of the training-data-pipeline extension set.

Scale design:
- queries are broadcast (small side), the corpus is never collected;
- the dot product is a row-local ``zip_with``+``aggregate`` higher-order
  expression — JVM-side, no Python, no shuffle;
- top-k per query is a windowed row_number over a shuffle on query_id (k
  rows per query per partition survive the partial TakeOrdered);
- the LSH variant buckets both sides by the sign pattern of the leading
  components (axis-aligned random-hyperplane LSH) so each query only scans
  its bucket — the join is equi on the bucket key and Catalyst shuffles
  corpus-side once, instead of a full cross product.

Determinism (for the DuckDB oracle): per-element products are rounded to 12
decimals and summed as DECIMAL, so reduction order cannot change the result;
the final cosine is one double division, rounded to 9.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from localsql_spark.sinks.locks import locked_by
from localsql_spark.operators import spread, spread_derived
from localsql_spark.operators.text import qcol

_DEC = "decimal(28,12)"


def _dec_sum(arr: Column) -> Column:
    """Exact (order-insensitive) sum of an array<double>: round each element
    to 12 decimals, accumulate as decimal, emit double.  The post-add cast
    pins the accumulator type (Spark widens decimal addition to (38,11),
    which would drift the lambda's type); values here are <<1e15 so the
    recast is lossless.

    Optimization-round-14 measurement note: a value-identical fixed-point
    long fold (round -> floor(x*1e12+0.5) -> sum longs) benched ~20%
    SLOWER here — ArrayAggregate runs interpreted either way, and the
    per-element cost is Round(double)'s BigDecimal round-trip plus lambda
    dispatch, not the decimal adds; the extra guard/floor nodes cost more
    than the decimal accumulator saved (see
    test_properties.py::test_fp_sum_matches_decimal_fold for the proven-
    equivalent form, kept as documentation of the equivalence).  The real
    escape from the interpreted fold is the Arrow scoring path."""
    return F.aggregate(
        arr,
        F.lit(0).cast(_DEC),
        lambda acc, x: (acc + F.round(x, 12).cast(_DEC)).cast(_DEC),
    ).cast("double")


def dot(a: Column, b: Column) -> Column:
    return _dec_sum(F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")))


def norm(a: Column) -> Column:
    return F.sqrt(_dec_sum(F.transform(a, lambda x: x.cast("double") * x.cast("double"))))


def _safe_div(num: Column, den: Column) -> Column:
    """NULL (not a crash) when the denominator is zero: Spark 4's default
    ANSI mode raises DIVIDE_BY_ZERO, so one zero-norm embedding (empty doc,
    padding row) would abort a whole kNN job without the guard."""
    return F.when(den != 0, num / den)


def cosine(a: Column, b: Column) -> Column:
    return F.round(_safe_div(dot(a, b), norm(a) * norm(b)), 9)


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with PREcomputed norms: one decimal fold per pair (the dot)
    instead of three.  Norms are ~60% of the interpreted-HOF cost of
    ``cosine`` (measured: 6.5s -> 2.6s per 320k pairs at dim 128), and they
    only depend on one side each — so every kNN operator computes them as a
    column in the projection BELOW the pair join: join children materialize
    their output rows, making that a once-per-row barrier.  The placement
    matters — a projected column in the SAME operator chain as its reference
    is re-inlined by Catalyst's projection collapse, so computing cosine()
    (with its embedded norms) above the join re-folds the norm per pair."""
    return F.round(_safe_div(dot(a, b), na * nb), 9)


def sign_bucket(a: Column, bits: int = 8) -> Column:
    """Axis-aligned LSH bucket: sign pattern of the first ``bits`` components
    packed into an int.  Deterministic and oracle-expressible."""
    out = F.lit(0)
    for i in range(bits):
        out = out + F.when(F.element_at(a, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("int")


def knn_brute_force(corpus: DataFrame, queries: DataFrame, k: int = 5,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast queries x scan corpus -> window top-k.
    Returns (query_id, neighbor_id, cos_sim) excluding self-matches."""
    from pyspark.sql.window import Window

    # ONE narrow Arrow map scores every corpus row against the bounded
    # query set from the task closure (optimization r14, guide §4.2):
    # the crossJoin, the broadcast, the below-join norm columns and the
    # interpreted decimal folds are all gone; only corpus vector bytes
    # cross the boundary, once
    q_items = sorted(_collect_query_vectors(
        queries, id_col, vec_col).items())
    scored = (arrow_cosine_scan(corpus, id_col, vec_col, q_items,
                                "query_id", "neighbor_id", "cos_sim")
              .filter(F.col("neighbor_id") != F.col("query_id")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rn"))


def knn_lsh_bucketed(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     bits: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign bucket.
    Same output shape as knn_brute_force; recall trades off with ``bits``."""
    from pyspark.sql.window import Window

    q = queries.select(F.col(id_col).alias("query_id"),
                       sign_bucket(F.col(vec_col), bits).alias("bucket"))
    c = spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("cv"),
                              sign_bucket(F.col(vec_col), bits).alias("bucket"))
    # bucket join carries ids only; scoring reads the bounded query
    # vectors from the task closure (one Arrow map: dot + norms, r14)
    scored = arrow_cosine_lookup(
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id")),
        "cos_sim", "query_id", "cv",
        _collect_query_vectors(queries, id_col, vec_col),
        keep=["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rn"))


def _cosine_fixed_matrix(X, C):
    """Exact cosine matrix (n x kc) of clean float64 rows vs centroids:
    the image of ``cosine_pre(v, cent, norm(v), norm(cent))`` per pair.
    Returns (csim float64 matrix, none_mask) — the mask marks
    zero-denominator entries (``_safe_div``'s NULL)."""
    import numpy as np

    from localsql_spark.operators.multimodal import _halfup_fixed

    n, d = X.shape
    kc = C.shape[0]
    dots = np.empty((n, kc), dtype=np.float64)
    step = max(1, 4_000_000 // max(1, kc * d))
    for lo in range(0, n, step):
        Pm = X[lo:lo + step, None, :] * C[None, :, :]
        m = Pm.shape[0]
        dots[lo:lo + step] = _fixed12_rowsum(
            Pm.reshape(m * kc, d)).reshape(m, kc)
    na = np.sqrt(_fixed12_rowsum(X * X))
    nc = np.sqrt(_fixed12_rowsum(C * C))
    den = na[:, None] * nc[None, :]
    none = den == 0
    x = np.divide(dots, den, out=np.zeros_like(dots), where=~none)
    flat = x.reshape(-1)
    big = np.abs(flat) > 4e3
    k9 = _halfup_fixed(np.where(big, 0.0, flat), 9)
    csim = (k9.astype(np.float64) / 1e9).reshape(n, kc)
    if big.any():
        for i in np.nonzero(big)[0]:
            csim[i // kc, i % kc] = _round9_image(float(flat[i]))
    return csim, none


def _arrow_nearest_cells(df: DataFrame, side_id: str, vec: str, n: int,
                         cells: list, C, emit_vec: bool = True) -> DataFrame:
    """The n nearest cells (by cosine to centroid) per row, in ONE Arrow
    map with the collected centroid matrix in the closure (optimization
    r14) — replaces the broadcast crossJoin + interpreted cosine folds +
    argmax exchange/window of the relational ``nearest_cells``.  Emits
    (side_id, vec, cell) x n rows per input, ordered exactly like
    ``ORDER BY __csim DESC, cell`` with NULL cosines LAST (a NULL-scoring
    or NULL/ragged vector ranks after every real score, landing on the
    ascending-cell prefix when every score is NULL — matching both the
    max(struct) n=1 fold and the window path)."""
    import pandas as pd  # noqa: F401

    id_t = df.schema[side_id].dataType.simpleString()
    vec_t = df.schema[vec].dataType.simpleString()
    schema = (f"{side_id} {id_t}, {vec} {vec_t}, cell long" if emit_vec
              else f"{side_id} {id_t}, cell long")

    def run(batches):
        import numpy as np
        import pandas as pd

        cells_np = np.asarray(cells, dtype=np.int64)
        kc = C.shape[0]
        take = min(n, kc)
        for pdf in batches:
            nrow = len(pdf)
            X, bad = _clean_matrix(pdf[vec], C.shape[1])
            csim, none = _cosine_fixed_matrix(X, C)
            # rank key: real scores first (desc), NULLs last, ties/NULL
            # by ascending cell — cells[] is ascending, argsort stable
            # (csims are never -0.0: Round's BigDecimal kills the sign)
            key = np.where(none | bad[:, None], -np.inf, csim)
            order = np.argsort(-key, axis=1, kind="stable")[:, :take]
            idx_rows = np.repeat(np.arange(nrow), take)
            out = {side_id: pdf[side_id].iloc[idx_rows]
                   .reset_index(drop=True)}
            if emit_vec:
                out[vec] = pdf[vec].iloc[idx_rows].reset_index(drop=True)
            out["cell"] = cells_np[order.reshape(-1)]
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=schema)


def knn_ivf(corpus: DataFrame, queries: DataFrame, k: int = 5,
            id_col: str = "vec_id", vec_col: str = "embedding",
            n_cells: int = 16, n_probe: int = 4,
            centroids: DataFrame | None = None) -> DataFrame:
    """IVF (inverted-file) approximate kNN: coarse-quantize the corpus into
    ``n_cells`` cells, probe the ``n_probe`` cells nearest each query.

    Index build = one pass assigning every vector to its nearest centroid;
    search = probe-cell equi-join instead of a full scan, so each query
    touches ~n_probe/n_cells of the corpus. Centroids here are
    deterministic seed vectors (vec_id < n_cells) rather than k-means
    iterates, keeping the whole structure oracle-expressible; on a real
    deployment swap in trained centroids — the plan shape is identical.

    Optimization r14: both routing passes run as Arrow maps with the
    collected centroids in the closure (`_arrow_nearest_cells`) and the
    probed-pair cosine as one Arrow map (`arrow_cosine_pairs`) — the
    interpreted decimal folds, the two below-join norm columns, the
    centroid crossJoins and the corpus-side argmax exchange are all gone
    from the plan; a degenerate centroid table falls back to the
    relational body (:func:`knn_ivf_relational`, the oracle-mirrored
    form)."""
    from pyspark.sql.window import Window

    cents_raw = (centroids.select("cell", "cent") if centroids is not None
                 else corpus.filter(F.col(id_col) < n_cells)
                 .select(F.col(id_col).alias("cell"),
                         F.col(vec_col).alias("cent")))
    cells, C, _ = _collect_centroids(cents_raw)
    if C is None or not cells:
        return knn_ivf_relational(corpus, queries, k, id_col, vec_col,
                                  n_cells, n_probe, centroids)
    c_cells = _arrow_nearest_cells(
        spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                              F.col(vec_col).alias("cv")),
        "neighbor_id", "cv", 1, cells, C)
    q_cells = _arrow_nearest_cells(
        queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv")),
        "query_id", "qv", n_probe, cells, C, emit_vec=False)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    # probe join ships (query_id, cell) only; pair scoring reads the
    # bounded query vectors from the task closure (r14)
    return (arrow_cosine_lookup(
        c_cells.join(F.broadcast(q_cells), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id")),
        "cos_sim", "query_id", "cv",
        _collect_query_vectors(queries, id_col, vec_col),
        keep=["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn"))


def knn_ivf_relational(corpus: DataFrame, queries: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       n_cells: int = 16, n_probe: int = 4,
                       centroids: DataFrame | None = None) -> DataFrame:
    """The in-plan IVF body (broadcast crossJoin routing + interpreted
    cosine folds + argmax exchange / window) — equivalence reference for
    :func:`knn_ivf` and the form the DuckDB oracles replay."""
    from pyspark.sql.window import Window

    if centroids is not None:
        # trained path (kmeans_parallel_init + Lloyd rounds): same plan
        # shape, better-balanced cells -> higher recall at equal n_probe
        cents = (centroids
                 .select(F.col("cell"), F.col("cent"))
                 .withColumn("centn", norm(F.col("cent"))))
    else:
        cents = (corpus.filter(F.col(id_col) < n_cells)
                 .select(F.col(id_col).alias("cell"),
                         F.col(vec_col).alias("cent"))
                 .withColumn("centn", norm(F.col("cent"))))  # broadcast-materialized

    def nearest_cells(df: DataFrame, side_id: str, vec: str, vnorm: str,
                      n: int) -> DataFrame:
        """Attach the n nearest cell ids (by cosine to centroid); ``vnorm``
        is the side's precomputed norm column (see cosine_pre)."""
        scored = (df.crossJoin(F.broadcast(cents))
                  .withColumn("__csim", cosine_pre(F.col(vec), F.col("cent"),
                                                   F.col(vnorm),
                                                   F.col("centn"))))
        if n == 1:
            # corpus-side argmax as max(struct): partial aggregation collapses
            # the n_cells candidate rows per vector MAP-SIDE, so the exchange
            # carries one row per vector instead of n_cells (a window argmax
            # shuffles them all).  Tie-break matches the window path (csim
            # desc, then smallest cell) via the negated-cell struct field;
            # the vector/norm ride in the struct and are never compared — the
            # (csim, -cell) prefix is unique per candidate row.
            return (scored.groupBy(side_id)
                    .agg(F.max(F.struct(
                        F.col("__csim").alias("s"),
                        (-F.col("cell")).alias("nc"),
                        F.col(vec).alias("v"),
                        F.col(vnorm).alias("vn"))).alias("b"))
                    .select(side_id,
                            F.col("b.v").alias(vec),
                            F.col("b.vn").alias(vnorm),
                            (-F.col("b.nc")).alias("cell")))
        w = Window.partitionBy(side_id).orderBy(
            F.col("__csim").desc(), F.col("cell"))
        return (scored
                .withColumn("__crn", F.row_number().over(w))
                .filter(F.col("__crn") <= n)
                .drop("cent", "centn", "__csim", "__crn"))

    # index build: cell assignment + norm, computed once per corpus row (the
    # norm column sits below the centroid crossJoin, whose child materializes
    # rows — no per-candidate re-fold; in production the index is written to
    # storage once and reused across query batches)
    c = (spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                               F.col(vec_col).alias("cv"))
         .withColumn("cn", norm(F.col("cv"))))
    c_cells = nearest_cells(c, "neighbor_id", "cv", "cn", 1)
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"))
         .withColumn("qn", norm(F.col("qv"))))
    q_cells = nearest_cells(q, "query_id", "qv", "qn", n_probe)

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    return (c_cells.join(F.broadcast(q_cells), "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id",
                    cosine_pre(F.col("qv"), F.col("cv"),
                               F.col("qn"), F.col("cn")).alias("cos_sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", "cos_sim", "rn"))


@locked_by("path")
def write_ivf_index(corpus: DataFrame, path: str, n_cells: int = 16,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> None:
    """Persist the IVF index :func:`knn_ivf` builds per call: the
    cell-assigned corpus (id, vector, norm, cell) hive-partitioned BY CELL,
    plus the (cell, cent, centn) centroid table under ``_centroids/``.
    A query batch then routes against the tiny centroid read and scans
    ONLY its probed cells' partitions (``PartitionFilters`` prune — the
    touched-cell list is ≤ n_cells, collected driver-side).  This is the
    similarity twin of the banded LSH index: pay assignment once at write
    time, probe cost tracks n_probe/n_cells of the corpus per batch.
    Centroids here are the same deterministic seeds knn_ivf uses (swap in
    trained centroids in production; layout unchanged)."""
    cents = (corpus.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).alias("cell"),
                     F.col(vec_col).alias("cent"))
             .withColumn("centn", norm(F.col("cent"))))
    cents.write.mode("overwrite").parquet(f"{path}/_centroids")
    c = (spread(corpus).select(F.col(id_col).alias("neighbor_id"),
                               F.col(vec_col).alias("cv"))
         .withColumn("cn", norm(F.col("cv"))))
    scored = (c.crossJoin(F.broadcast(cents))
              .withColumn("__csim", cosine_pre(F.col("cv"), F.col("cent"),
                                               F.col("cn"), F.col("centn"))))
    assigned = (scored.groupBy("neighbor_id")
                .agg(F.max(F.struct(
                    F.col("__csim").alias("s"),
                    (-F.col("cell")).alias("nc"),
                    F.col("cv").alias("v"),
                    F.col("cn").alias("vn"))).alias("b"))
                .select("neighbor_id",
                        F.col("b.v").alias("cv"),
                        F.col("b.vn").alias("cn"),
                        (-F.col("b.nc")).cast("int").alias("cell")))
    (assigned.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{path}/cells"))


def knn_ivf_from_index(spark: SparkSession, index_path: str,
                       queries: DataFrame, k: int = 5,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       n_probe: int = 4) -> DataFrame:
    """IVF kNN against the PERSISTED index: same results as
    :func:`knn_ivf` over the same corpus/seeds (property-tested), but the
    per-batch cost is a tiny centroid read + a partition-pruned scan of
    the probed cells — the index is never rebuilt.  Returns
    (query_id, neighbor_id, cos_sim, rn)."""
    from pyspark.sql.window import Window

    cents = spark.read.parquet(f"{index_path}/_centroids")
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qv"))
         .withColumn("qn", norm(F.col("qv"))))
    qscored = (q.crossJoin(F.broadcast(cents))
               .withColumn("__csim", cosine_pre(F.col("qv"), F.col("cent"),
                                                F.col("qn"),
                                                F.col("centn"))))
    w = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("cell"))
    q_cells = (qscored.withColumn("__crn", F.row_number().over(w))
               .filter(F.col("__crn") <= n_probe)
               .select("query_id", "qv", "qn", "cell"))
    # touched-cell list: bounded by n_cells whatever the batch size
    probed = sorted({r[0] for r in
                     q_cells.select("cell").distinct().collect()})
    # base cells + any appended deltas (append_ivf_index); both prune on
    # the cell partition column
    idx = _ivf_slices(spark, index_path).filter(F.col("cell").isin(probed))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id"))
    # pair scoring as one Arrow map (r14) with the bounded query vectors
    # in the task closure (the probe join ships routing columns only);
    # norms are recomputed in the map — value-identical to the STORED cn
    # (it was written as norm(cv) by the same fold image), so the index
    # layout keeps carrying cn for the relational twins while the hot
    # path skips reading it
    return (arrow_cosine_lookup(
        idx.join(F.broadcast(q_cells.select("query_id", "cell")), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id")),
        "cos_sim", "query_id", "cv",
        _collect_query_vectors(queries, id_col, vec_col),
        keep=["query_id", "neighbor_id"])
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rn"))


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.9,
                             id_col: str = "vec_id", vec_col: str = "embedding",
                             bits: int = 8) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via sign-bucket blocking:
    pairs within a bucket with cosine >= threshold.  High-cosine pairs agree
    on leading signs with high probability, so the bucket join replaces the
    O(n²) cross product. Returns (vec_a, vec_b, cos_sim)."""
    normed = spread(corpus).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
        sign_bucket(F.col(vec_col), bits).alias("bucket"))
    c1 = normed.select(F.col("vid").alias("vec_a"),
                       F.col("v").alias("va"), "bucket")
    c2 = normed.select(F.col("vid").alias("vec_b"),
                       F.col("v").alias("vb"), "bucket")
    return (arrow_cosine_pairs(  # one Arrow map: dot + norms (r14)
        c1.join(c2, "bucket").filter(F.col("vec_a") < F.col("vec_b")),
        "cos_sim", "va", "vb", keep=["vec_a", "vec_b"])
        .filter(F.col("cos_sim") >= threshold))


# ---------------------------------------------------------------------------
# K-means (Lloyd iteration) for embedding-space curation
# ---------------------------------------------------------------------------

def l2_sq(a: Column, b: Column) -> Column:
    """Squared L2 distance, decimal-summed (order-insensitive, portable)."""
    return _dec_sum(F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))))


# ---------------------------------------------------------------------------
# Arrow scoring kernel (optimization r14, guide §4.2): the exact numpy image
# of the interpreted decimal l2 fold.  l2_sq(a, b) is
# double(sum_decimal(Round((a_i-b_i)^2, 12))); every piece is reproduced
# bit-for-bit: float64 subtraction/multiplication are the same IEEE ops the
# JVM executes, Round(x, 12)+decimal cast is `_halfup_fixed` (the
# multimodal/covariance discipline, with the same >4e3 magnitude escape to
# the exact Decimal image), integer addition is associative so int64 sums
# equal the decimal fold at any order, and the final decimal->double cast is
# a correctly-rounded integer division (int64 < 2^53 fast path, Python
# int/int otherwise).  Pinned by test_arrow_assign_matches_relational.
# ---------------------------------------------------------------------------

def _clean_matrix(vecs, d: int):
    """(rows x d) float64 matrix + a boolean 'unclean' mask: a row is
    unclean when the vector is NULL, has a NULL element, or its length
    differs from ``d`` — every case where the zip_with fold yields a NULL
    element and the decimal sum (acc + NULL) collapses to NULL."""
    import numpy as np

    n = len(vecs)
    X = np.zeros((n, d), dtype=np.float64)
    bad = np.zeros(n, dtype=bool)
    for i, v in enumerate(vecs):
        if v is None:
            bad[i] = True
            continue
        try:
            a = np.asarray(v, dtype=np.float64)
        except (TypeError, ValueError):
            bad[i] = True
            continue
        if a.ndim != 1 or a.shape[0] != d or not np.isfinite(a).all():
            # NaN can only arrive from a NULL element's pandas image —
            # a literal NaN input would make the relational plan's ANSI
            # decimal cast raise, so treating both as NULL-poisoned is
            # the conservative match (pinned by the null battery test)
            bad[i] = True
            continue
        X[i] = a
    return X, bad


def _fixed12_rowsum(P):
    """Exact double row-sums of a (rows x d) float64 element matrix: the
    image of ``double(sum_decimal(Round(p, 12)))`` over each row.
    int64-sums are overflow-safe under the 4e3 element escape: every kept
    |fix| <= 4e3*1e12 + 1 < 2^52, so a row sum over d <= 2048 elements
    stays < 2^63 (a wider dim must widen to object sums); larger elements
    route through the exact Decimal image into object ints, and the
    decimal->double cast is a correctly-rounded division (int64 < 2^53
    fast path, Python int/int otherwise)."""
    import numpy as np

    from localsql_spark.operators.multimodal import _halfup_fixed

    rows, d = P.shape
    assert d <= 2048, "int64 row-sum bound: widen to object sums for d > 2048"
    if d == 0:
        return np.zeros(rows, dtype=np.float64)
    P = P.reshape(-1)
    huge = np.abs(P) > 4e3
    S_extra = None
    if huge.any():
        S_extra = np.zeros(rows, dtype=object)
        for i in np.nonzero(huge)[0]:
            S_extra[i // d] += _round12_fixed_image(float(P[i]))
        P = np.where(huge, 0.0, P)
    S = _halfup_fixed(P, 12).reshape(rows, d).sum(axis=1)
    if S_extra is None and (rows == 0 or np.abs(S).max() < 2 ** 53):
        return S.astype(np.float64) / 1e12
    tot = S.astype(object) + (S_extra if S_extra is not None else 0)
    return np.asarray([int(s) / 10 ** 12 for s in tot], dtype=np.float64)


def _l2_fixed_dists(X, C):
    """Exact distances double-matrix (n x k): the fixed-point image of
    ``l2_sq`` between every row of X and every row of C (both clean
    float64), via :func:`_fixed12_rowsum`."""
    import numpy as np

    n, d = X.shape
    k = C.shape[0]
    out = np.empty((n, k), dtype=np.float64)
    # chunk rows so the (rows x k x d) difference tensor stays ~32 MB
    step = max(1, 4_000_000 // max(1, k * d))
    for lo in range(0, n, step):
        D = X[lo:lo + step, None, :] - C[None, :, :]
        m = D.shape[0]
        out[lo:lo + step] = _fixed12_rowsum(
            (D * D).reshape(m * k, d)).reshape(m, k)
    return out


def _cosine_fixed_pairs(A, B):
    """Exact per-row cosine of two clean (n x d) float64 matrices: the
    image of ``cosine_pre(a, b, norm(a), norm(b))`` — fixed-point dot and
    norm sums, IEEE sqrt/multiply/divide, and ``Round(x, 9)`` via the
    repr-HALF_UP fixed image.  Returns (csim float64, none_mask) where
    the mask marks zero-denominator rows (``_safe_div``'s NULL)."""
    import numpy as np

    from localsql_spark.operators.multimodal import _halfup_fixed

    dot = _fixed12_rowsum(A * B)
    na = np.sqrt(_fixed12_rowsum(A * A))
    nb = np.sqrt(_fixed12_rowsum(B * B))
    den = na * nb
    none = den == 0
    x = np.divide(dot, den, out=np.zeros_like(dot), where=~none)
    big = np.abs(x) > 4e3
    k9 = _halfup_fixed(np.where(big, 0.0, x), 9)
    # note: Round(double, 9) goes through BigDecimal, which has no
    # negative zero — a tiny negative cosine rounds to +0.0, exactly
    # what the int path emits (pinned by test_arrow_cosine_negative_zero)
    csim = k9.astype(np.float64) / 1e9  # |k9| <= 4e12 < 2^53: exact
    if big.any():
        for i in np.nonzero(big)[0]:
            csim[i] = _round9_image(float(x[i]))
    return csim, none


def _round9_image(v: float) -> float:
    """Spark ``Round(v: double, 9)`` for magnitudes past the fast path."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    q = Decimal(1).scaleb(-9)
    with localcontext() as ctx:
        ctx.prec = 340
        if abs(v) >= 2.0 ** 53:
            return float(Decimal(v).quantize(q, ROUND_HALF_UP))
        return float(Decimal(repr(v)).quantize(q, ROUND_HALF_UP))


def _pair_matrices(avals, bvals):
    """Batch pair columns -> per-dim groups of clean (A, B) matrices.
    Returns (groups, none_idx): ``groups`` maps d -> (row_idx, A, B) for
    rows where both vectors are clean and of equal length d; every other
    row (NULL / ragged / NULL-element / length mismatch — the zip_with
    fold's NULL collapse) lands in ``none_idx``."""
    import numpy as np

    by_d: dict[int, list] = {}
    none_idx = []
    for i, (a, b) in enumerate(zip(avals, bvals)):
        if a is None or b is None:
            none_idx.append(i)
            continue
        try:
            aa = np.asarray(a, dtype=np.float64)
            bb = np.asarray(b, dtype=np.float64)
        except (TypeError, ValueError):
            none_idx.append(i)
            continue
        if (aa.ndim != 1 or bb.ndim != 1 or aa.shape[0] != bb.shape[0]
                or not (np.isfinite(aa).all() and np.isfinite(bb).all())):
            none_idx.append(i)
            continue
        by_d.setdefault(aa.shape[0], []).append((i, aa, bb))
    groups = {}
    for d, rows in by_d.items():
        idx = np.asarray([r[0] for r in rows])
        A = np.stack([r[1] for r in rows]) if rows else np.zeros((0, d))
        B = np.stack([r[2] for r in rows]) if rows else np.zeros((0, d))
        groups[d] = (idx, A, B)
    return groups, none_idx


def arrow_cosine_pairs(df: DataFrame, out_col: str, a_col: str, b_col: str,
                       keep: list[str]) -> DataFrame:
    """Replace the per-pair interpreted cosine projection
    ``select(keep..., cosine_pre(a, b, norm(a), norm(b)))`` with ONE
    Arrow map computing the identical value (optimization r14, guide
    §4.2) — including the norms, so the upstream ``withColumn(norm)``
    folds disappear too.  NULL semantics preserved: NULL/ragged/
    NULL-element vectors and zero-norm denominators yield NULL, exactly
    like the decimal fold + ``_safe_div``.  Pinned by
    test_arrow_cosine_matches_relational."""
    import pandas as pd  # noqa: F401

    # opaque functions defeat Catalyst's column pruning: ship ONLY the
    # pair vectors + passthrough columns across the boundary (guide §4.1)
    df = df.select(*keep, a_col, b_col)
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    schema += f", {out_col} double"

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            out = pd.array([None] * n, dtype="Float64")
            groups, _ = _pair_matrices(pdf[a_col], pdf[b_col])
            for _, (idx, A, B) in groups.items():
                csim, none = _cosine_fixed_pairs(A, B)
                good = idx[~none]
                out[good] = csim[~none]
            res = pdf[keep].copy()
            res[out_col] = out
            yield res

    return df.mapInPandas(run, schema=schema)


def _collect_query_vectors(queries: DataFrame, id_col: str, vec_col: str):
    """Bounded query table -> {query_id: vector-list | None} (None for
    NULL/NULL-element vectors, which NULL-poison every cosine).  Collect
    license: the relational paths broadcast this exact table."""
    out = {}
    for r in queries.select(qcol(id_col), qcol(vec_col)).collect():
        v = r[1]
        if v is not None:
            v = list(v)
            if any(e is None for e in v):
                v = None
        out[r[0]] = v
    return out


def arrow_cosine_lookup(df: DataFrame, out_col: str, qid_col: str,
                        vec_col: str, q_map: dict,
                        keep: list[str]) -> DataFrame:
    """The closure-side-query variant of :func:`arrow_cosine_pairs`: the
    pair frame carries only (qid, corpus vector); the bounded query
    vectors live in the task closure (``q_map`` from
    :func:`_collect_query_vectors`), so the map ships HALF the vector
    bytes and the plan never attaches qv at all.  Values and NULL
    semantics identical to ``cosine_pre(qv, cv, norm(qv), norm(cv))``."""
    import pandas as pd  # noqa: F401

    cols = list(dict.fromkeys([*keep, qid_col, vec_col]))
    df = df.select(*cols)
    schema = ", ".join(
        f"{c} {df.schema[c].dataType.simpleString()}" for c in keep)
    schema += f", {out_col} double"

    def run(batches):
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            out = pd.array([None] * n, dtype="Float64")
            qvs = [q_map.get(q) for q in pdf[qid_col]]
            groups, _ = _pair_matrices(qvs, pdf[vec_col])
            for _, (idx, A, B) in groups.items():
                csim, none = _cosine_fixed_pairs(A, B)
                good = idx[~none]
                out[good] = csim[~none]
            res = pdf[keep].copy()
            res[out_col] = out
            yield res

    return df.mapInPandas(run, schema=schema)


def arrow_cosine_scan(corpus: DataFrame, id_col: str, vec_col: str,
                      q_items: list, qid_out: str, nid_out: str,
                      out_col: str) -> DataFrame:
    """Brute-force scoring as ONE narrow Arrow map: every corpus row is
    scored against EVERY query from the closure (``q_items``: ordered
    (query_id, vector|None) pairs), emitting |queries| narrow rows per
    corpus row — the crossJoin never materializes and only corpus vector
    bytes cross the boundary once.  Values/NULL semantics identical to
    the relational crossJoin + ``cosine_pre`` (a NULL/ragged corpus or
    query vector, a length mismatch, or a zero norm yields NULL)."""
    import pandas as pd  # noqa: F401

    import numpy as np

    id_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"{qid_out} long, {nid_out} {id_t}, {out_col} double"
    q_ids = [q for q, _ in q_items]
    q_clean: dict[int, tuple] = {}  # dim -> (positions, Q matrix)
    by_d: dict[int, list] = {}
    for pos, (_, v) in enumerate(q_items):
        if v is None:
            continue
        by_d.setdefault(len(v), []).append(pos)
    for d, poss in by_d.items():
        q_clean[d] = (np.asarray(poss),
                      np.asarray([q_items[p][1] for p in poss],
                                 dtype=np.float64))
    kq = len(q_items)

    def run(batches):
        import pandas as pd

        q_ids_np = np.asarray(q_ids, dtype=np.int64)
        for pdf in batches:
            rows_by_d: dict[int, list] = {}
            vals = pdf["vec"]
            ids = pdf["id"]
            n = len(pdf)
            # full (n, kq) score grid, NULL by default
            grid = np.full((n, kq), np.nan)
            null_grid = np.ones((n, kq), dtype=bool)
            for i, v in enumerate(vals):
                if v is None:
                    continue
                try:
                    a = np.asarray(v, dtype=np.float64)
                except (TypeError, ValueError):
                    continue
                if a.ndim != 1 or not np.isfinite(a).all():
                    continue
                rows_by_d.setdefault(a.shape[0], []).append((i, a))
            for d, rows in rows_by_d.items():
                if d not in q_clean:
                    continue
                poss, Q = q_clean[d]
                ridx = np.asarray([r[0] for r in rows])
                X = np.stack([r[1] for r in rows])
                csim, none = _cosine_fixed_matrix(X, Q)
                for j, p in enumerate(poss):
                    col_ok = ~none[:, j]
                    grid[ridx[col_ok], p] = csim[col_ok, j]
                    null_grid[ridx[col_ok], p] = False
            qi = np.tile(np.arange(kq), n)
            out = pd.array(grid.reshape(-1), dtype="Float64")
            out[null_grid.reshape(-1)] = None
            yield pd.DataFrame({
                qid_out: q_ids_np[qi],
                nid_out: ids.iloc[np.repeat(np.arange(n), kq)]
                .reset_index(drop=True),
                out_col: out})

    # fixed input names: mapInPandas re-resolves each input column by
    # name, which a dotted or backticked user name would not survive
    return (spread(corpus)
            .select(qcol(id_col).alias("id"), qcol(vec_col).alias("vec"))
            .mapInPandas(run, schema=schema))


def _collect_centroids(centroids: DataFrame, cell_col: str = "cell",
                       cent_col: str = "cent"):
    """Model-sized centroid table -> (cells list, C matrix, clean flag),
    sorted ascending by cell id (so first-minimum == smallest-cell
    tie-break).  The collect is the same license as the broadcast the
    relational path built (k rows)."""
    import numpy as np

    rows = sorted(centroids.select(cell_col, cent_col).collect(),
                  key=lambda r: r[0])
    cells = [r[0] for r in rows]
    vecs = [list(r[1]) if r[1] is not None else None for r in rows]
    d = 0
    clean = True
    for v in vecs:
        if v is None or any(e is None for e in v):
            clean = False
            continue
        d = max(d, len(v))
    if clean and vecs and any(len(v) != d for v in vecs):
        clean = False
    if not clean:
        return cells, None, vecs
    C = np.asarray(vecs, dtype=np.float64) if vecs else np.zeros((0, 0))
    if not np.isfinite(C).all():
        return cells, None, vecs
    return cells, C, vecs


def kmeans_assign(corpus: DataFrame, centroids: DataFrame,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  keep_vec: bool = False) -> DataFrame:
    """Nearest-centroid assignment: (id, cluster_id, dist).

    Optimization r14 (guide §4.2): ONE Arrow ``mapInPandas`` over the
    corpus with the k collected centroids in the task closure — the
    dominant CPU of every training round was the interpreted decimal
    zip_with fold evaluated k times per vector; the numpy kernel
    (`_l2_fixed_dists`) reproduces it bit-for-bit, and the argmin happens
    in the map, so the broadcast crossJoin AND the one-row-per-vector
    groupBy exchange both disappear from the plan.  Tie-break and NULL
    semantics match ``min(struct(dist, cell))`` exactly: first-minimum
    over cells sorted ascending, and a NULL-producing vector (NULL/ragged/
    NULL-element — the fold's acc+NULL collapse) sorts FIRST, landing on
    the smallest cell with dist NULL (pinned by
    test_arrow_assign_matches_relational's null battery).

    ``keep_vec`` additionally returns the vector as ``__v`` so training
    loops can feed the update step without re-joining the corpus.
    Degenerate centroid tables (NULL/ragged centroids) fall back to the
    relational plan, which is also kept as
    :func:`kmeans_assign_relational` — the form the oracles mirror."""
    import pandas as pd  # noqa: F401 — fail fast if Arrow unavailable

    cells, C, _ = _collect_centroids(centroids)
    if C is None or not cells:
        return kmeans_assign_relational(corpus, centroids, id_col, vec_col,
                                        keep_vec)
    cell_t = centroids.schema["cell"].dataType.simpleString()
    vec_t = corpus.schema[vec_col].dataType.simpleString()
    id_t = corpus.schema[id_col].dataType.simpleString()
    schema = f"{id_col} {id_t}, cluster_id {cell_t}, dist double"
    if keep_vec:
        schema += f", __v {vec_t}"

    def run(batches):
        import numpy as np
        import pandas as pd

        cells_np = np.asarray(cells)
        for pdf in batches:
            X, bad = _clean_matrix(pdf["v"], C.shape[1])
            D = _l2_fixed_dists(X, C)
            idx = np.argmin(D, axis=1)  # first minimum == smallest cell
            dist = pd.array(D[np.arange(len(D)), idx], dtype="Float64")
            dist[bad] = None
            res = pd.DataFrame({
                id_col: pdf[id_col],
                "cluster_id": np.where(bad, cells_np[0], cells_np[idx]),
                "dist": dist})
            if keep_vec:
                res["__v"] = pdf["v"]
            yield res

    return (spread(corpus)
            .select(F.col(id_col), F.col(vec_col).alias("v"))
            .mapInPandas(run, schema=schema))


def kmeans_assign_relational(corpus: DataFrame, centroids: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             keep_vec: bool = False) -> DataFrame:
    """The in-plan assignment (broadcast crossJoin + interpreted decimal
    fold + map-side min(struct) argmin — partial aggregation collapses the
    k candidate rows per vector BEFORE the exchange, so the shuffle
    carries one row per vector and no sort).  Equivalence reference for
    :func:`kmeans_assign` and the form the DuckDB oracles replay."""
    c = centroids.select(F.col("cell"), F.col("cent"))
    scored = (spread(corpus)
              .select(F.col(id_col), F.col(vec_col).alias("v"))
              .crossJoin(F.broadcast(c))
              .select(id_col, "v", "cell",
                      l2_sq(F.col("v"), F.col("cent")).alias("dist")))
    fields = [F.col("dist"), F.col("cell")]
    if keep_vec:
        fields.append(F.col("v"))
    out = (scored.groupBy(id_col)
           .agg(F.min(F.struct(*fields)).alias("b")))
    cols = [F.col(id_col), F.col("b.cell").alias("cluster_id"),
            F.col("b.dist").alias("dist")]
    if keep_vec:
        cols.append(F.col("b.v").alias("__v"))
    return out.select(*cols)


def kmeans_assign_topn(corpus: DataFrame, centroids: DataFrame, n: int,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """The ``n`` nearest centroids per vector: (id, cluster_id, dist, rank).
    Multi-probe building block — IVF search quality knob: probing n>1 cells
    recovers candidates whose true nearest centroid sits just across a cell
    boundary, at n× candidate cost.  Same broadcast/window shape as
    :func:`kmeans_assign` (rank filter compiles to WindowGroupLimit, so
    per-vector work stays bounded map-side)."""
    from pyspark.sql.window import Window

    c = centroids.select(F.col("cell"), F.col("cent"))
    scored = (spread(corpus)
              .select(F.col(id_col), F.col(vec_col).alias("v"))
              .crossJoin(F.broadcast(c))
              .select(id_col, "cell", l2_sq(F.col("v"), F.col("cent"))
                      .alias("dist")))
    w = Window.partitionBy(id_col).orderBy("dist", "cell")
    return (scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= n)
            .select(id_col, F.col("cell").alias("cluster_id"),
                    F.col("dist"), F.col("_rn").alias("rank")))


def kmeans_update(corpus: DataFrame, assign: DataFrame,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Centroid update: per-cluster per-dimension mean, rebuilt into an
    array<double>.

    Optimization r15 (guide §4.2, §2.3 — the proven covariance
    partial-sum pattern): ONE Arrow ``mapInPandas`` folds each partition
    into per-(cluster, dim) EXACT fixed-point sums + posexplode row
    counts, so the exchange carries at most k x dim x partitions partial
    rows instead of |vectors| x dims interpreted posexplode rows, and the
    per-element ``Round(x, 12) -> decimal`` image runs vectorized in
    numpy (`_halfup_fixed`, the multimodal/covariance discipline) instead
    of the interpreted JVM fold.  Integer addition is associative, so
    summing the decimal partials equals the relational
    ``sum(round(x,12)::decimal(38,12))`` bit-for-bit at any partitioning;
    the mean stays ONE double division in-plan (identical expression
    shape to the relational twin).  Per-element semantics preserved:
    NULL vectors contribute nothing (posexplode of NULL emits no rows),
    NULL elements count toward the per-dim row count but not the sum, a
    (cluster, dim) cell whose every element was NULL yields a NULL mean,
    ragged rows contribute only up to their own length.  Equivalence
    reference kept as :func:`kmeans_update_relational` (the form the
    oracles replay), pinned by test_kmeans_update_matches_relational.

    When ``assign`` carries the vector itself (``__v`` from
    kmeans_assign(keep_vec=True)) the corpus re-join — a second shuffle +
    sort of the whole corpus — is skipped entirely."""
    if "__v" in assign.columns:
        elems_src = assign.select("cluster_id", F.col("__v").alias("_v"))
    else:
        elems_src = (corpus.join(assign.select(id_col, "cluster_id"), id_col)
                     .select("cluster_id", F.col(vec_col).alias("_v")))
    dim_means = _grouped_dim_means(elems_src, ["cluster_id"])
    return (dim_means.groupBy("cluster_id")
            .agg(F.transform(F.sort_array(F.collect_list(F.struct("p", "m"))),
                             lambda s: s["m"]).alias("cent"))
            .select(F.col("cluster_id").alias("cell"), "cent"))


def _grouped_dim_means(src: DataFrame, keys: list[str]) -> DataFrame:
    """(keys..., p, m): exact grouped per-dimension means of the vector
    column ``_v`` — the Arrow image of ``posexplode -> groupBy(keys, p)
    .agg(sum(round(x,12)::decimal(38,12))::double / count(1))``.

    One ``mapInPandas`` folds each partition into per-(keys, dim)
    fixed-point int sums (`_halfup_fixed` per-element image, 4e3 escape to
    the exact Decimal path) + posexplode row counts; the mean stays ONE
    in-plan double division over the decimal-summed partials, so the
    result is bit-identical to the relational fold at any partitioning
    (integer addition is associative).  NULL vectors emit no rows, NULL
    elements count but don't sum, all-NULL cells yield NULL means, ragged
    rows contribute up to their own length, NULL group keys stay groups."""
    import pandas as pd  # noqa: F401 — fail fast if Arrow unavailable

    key_ts = ", ".join(
        f"{k} {src.schema[k].dataType.simpleString()}" for k in keys)
    schema = f"{key_ts}, p int, _fsum decimal(38,12), _fcnt long"

    def _acc(batches):
        import numpy as np
        import pandas as pd
        from localsql_spark.operators.multimodal import _halfup_fixed

        sums: dict = {}   # key tuple -> object int array (1e12-scaled)
        oks: dict = {}    # key tuple -> int64 finite-element counts
        cnts: dict = {}   # key tuple -> int64 posexplode row counts

        def _grow(cl, d):
            s, o, c = sums[cl], oks[cl], cnts[cl]
            if len(s) >= d:
                return
            s2 = np.zeros(d, dtype=object)
            o2 = np.zeros(d, dtype=np.int64)
            c2 = np.zeros(d, dtype=np.int64)
            s2[:len(s)], o2[:len(o)], c2[:len(c)] = s, o, c
            sums[cl], oks[cl], cnts[cl] = s2, o2, c2

        for pdf in batches:
            if not len(pdf):
                continue
            # dropna=False: a NULL key is a real group to the relational
            # groupBy and must stay one here
            for cl, sub in pdf.groupby(keys, sort=False, dropna=False):
                if not isinstance(cl, tuple):
                    cl = (cl,)
                if cl not in sums:
                    sums[cl] = np.zeros(0, dtype=object)
                    oks[cl] = np.zeros(0, dtype=np.int64)
                    cnts[cl] = np.zeros(0, dtype=np.int64)
                by_len: dict[int, list] = {}
                for v in sub["_v"]:
                    if v is None:
                        continue  # posexplode(NULL) emits no rows
                    try:
                        a = np.asarray(v, dtype=np.float64)
                    except (TypeError, ValueError):
                        a = np.asarray([np.nan if e is None else float(e)
                                        for e in v], dtype=np.float64)
                    if a.ndim != 1:
                        a = a.ravel()
                    if a.shape[0]:
                        by_len.setdefault(a.shape[0], []).append(a)
                for d, rows in by_len.items():
                    _grow(cl, d)
                    s, o, c = sums[cl], oks[cl], cnts[cl]
                    X = np.stack(rows)
                    # chunk rows so int64 chunk sums cannot overflow:
                    # the 4e3 escape bounds each scaled element < 2^52,
                    # and 512 * 2^52 < 2^63
                    for lo in range(0, X.shape[0], 512):
                        Cc = X[lo:lo + 512]
                        ok = np.isfinite(Cc)
                        Z = np.where(ok, Cc, 0.0)
                        huge = np.abs(Z) > 4e3
                        if huge.any():
                            for i, j in zip(*np.nonzero(huge)):
                                s[j] += _round12_fixed_image(float(Z[i, j]))
                            Z = np.where(huge, 0.0, Z)
                        R = _halfup_fixed(Z, 12)
                        R[~ok] = 0
                        s[:d] += R.sum(axis=0, dtype=np.int64)
                        o[:d] += ok.sum(axis=0, dtype=np.int64)
                        c[:d] += Cc.shape[0]
        if not sums:
            return
        from decimal import Decimal, localcontext

        kcols: list[list] = [[] for _ in keys]
        ps, ss, cs = [], [], []
        with localcontext() as ctx:
            ctx.prec = 60  # exact emission of any 38-digit scaled sum
            for cl, s in sums.items():
                o, c = oks[cl], cnts[cl]
                key = [None if pd.isna(x) else x for x in cl]
                for p in range(len(s)):
                    if not c[p]:
                        continue
                    for i, x in enumerate(key):
                        kcols[i].append(x)
                    ps.append(p)
                    ss.append(Decimal(int(s[p])).scaleb(-12)
                              if o[p] else None)
                    cs.append(int(c[p]))
        out = {k: kcols[i] for i, k in enumerate(keys)}
        out["p"] = pd.array(ps, dtype="int32")
        out["_fsum"] = ss
        out["_fcnt"] = pd.array(cs, dtype="int64")
        yield pd.DataFrame(out)

    partials = src.mapInPandas(_acc, schema=schema)
    return (partials.groupBy(*keys, "p")
            .agg((F.sum("_fsum").cast("double")
                  / F.sum("_fcnt")).alias("m")))


def kmeans_update_relational(corpus: DataFrame, assign: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """The in-plan centroid update (posexplode -> groupBy(cluster, dim)
    partial-aggregated decimal mean -> sort-collect back to arrays) — the
    equivalence reference for :func:`kmeans_update` and the form the
    DuckDB oracles replay.  Shuffle volume is |vectors| x |dims| narrow
    rows."""
    if "__v" in assign.columns:
        elems = assign.select("cluster_id",
                              F.posexplode(F.col("__v")).alias("p", "x"))
    else:
        elems = (corpus.join(assign.select(id_col, "cluster_id"), id_col)
                 .select("cluster_id",
                         F.posexplode(F.col(vec_col)).alias("p", "x")))
    dim_means = (elems.groupBy("cluster_id", "p")
                 .agg((F.sum(F.round(F.col("x").cast("double"), 12)
                             .cast("decimal(38,12)")).cast("double")
                       / F.count(F.lit(1))).alias("m")))
    return (dim_means.groupBy("cluster_id")
            .agg(F.transform(F.sort_array(F.collect_list(F.struct("p", "m"))),
                             lambda s: s["m"]).alias("cent"))
            .select(F.col("cluster_id").alias("cell"), "cent"))


def kmeans_parallel_init(corpus: DataFrame, n_clusters: int = 8,
                         oversample: int = 8, id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Deterministic kmeans||-style initialization (Bahmani et al.,
    "Scalable K-Means++", VLDB 2012 — public algorithm): hash-sample an
    ``oversample * k`` candidate set uniformly, weight each candidate by
    how much of the corpus it captures (one broadcast nearest-candidate
    pass), then reduce to ``k`` centers with the greedy weighted
    k-means++ rule on the driver — pick the heaviest candidate first,
    then repeatedly the candidate maximizing weight x d^2 to its nearest
    chosen center.

    Scale shape: both corpus passes are broadcast-joins against the
    bounded candidate set (no shuffle carries vectors); only the
    ~oversample*k candidate rows and their weights reach the driver.
    Deterministic everywhere (hash sampling, max-with-id tie-breaks), so
    downstream Lloyd rounds stay engine-reproducible.  Returns
    (cell, cent: array<double>) — drop-in for kmeans_assign/knn_ivf.
    """
    from localsql_spark.operators import hash32, track_persist

    spark = corpus.sparkSession
    base = track_persist(spread(corpus)
                         .select(F.col(id_col), F.col(vec_col).alias("v")))
    n = base.count()
    target = min(n, oversample * n_clusters)
    if n < n_clusters:
        raise ValueError(f"kmeans_parallel_init needs >= {n_clusters} "
                         f"vectors; corpus has {n}")
    # 1. uniform deterministic sample of ~target candidates (hash-mod);
    # top-up by smallest hash rank so we never fall below k candidates
    ranked = (base
              .select(F.col(id_col).alias("cand_id"),
                      F.transform(F.col("v"),
                                  lambda x: x.cast("double")).alias("cv"),
                      F.pmod(hash32(F.col(id_col)), F.lit(n)).alias("rk")))
    cand = (ranked.orderBy("rk", "cand_id").limit(int(target))
            .select("cand_id", "cv"))
    # 2. weight candidates: nearest-candidate assignment over the corpus.
    # Plain float64 fold, NOT the decimal-summed l2_sq: no oracle ever
    # replays init (the trained path's driver check is rows-only; the
    # planted oracle is closed-form), and the fold is a SEQUENTIAL left
    # sum, bit-deterministic in-engine.  Optimization r14 (guide §4.2):
    # the pass runs as ONE Arrow map with the collected candidates in the
    # closure — np.cumsum reproduces the left fold's IEEE add order
    # exactly (each partial is previous + x), squares are never -0.0 so
    # the 0.0 init is absorbing, argmin ties break on cand_id via the
    # ascending-sorted candidate matrix, NULL-poisoned rows land on the
    # smallest cand_id (min(struct) NULLS FIRST) and NaN distances lose
    # (NaN sorts greatest) — each pinned by
    # test_parallel_init_weights_match_relational.  The map emits
    # per-batch partial counts; only the tiny (cand_id, w) table shuffles.
    cands = [(r["cand_id"], list(r["cv"])) for r in cand.collect()]
    import numpy as np

    order = sorted(range(len(cands)), key=lambda i: cands[i][0])
    cand_ids = np.asarray([cands[i][0] for i in order], dtype=np.int64)
    Cm = np.asarray([cands[i][1] for i in order], dtype=np.float64)

    def _weigh(batches):
        import pandas as pd

        counts: dict[int, int] = {}
        kc, d = Cm.shape
        # working set is a few (rows x kc) planes, not a (rows x kc x d)
        # tensor (optimization r15: the cumsum formulation materialized
        # ~32 MB per chunk and was memory-bandwidth-bound — 52.6s of task
        # time in the r15 baseline profile; the per-dimension loop below
        # runs the SAME sequential left fold cache-resident)
        step = max(1, 2_000_000 // max(1, kc))
        for pdf in batches:
            X, bad = _clean_matrix(pdf["v"], d)
            for lo in range(0, len(X), step):
                Xc = X[lo:lo + step]
                # per-dim accumulation == the sequential left fold: the
                # 0.0 init is absorbing (squares are never -0.0) and each
                # dim's square is added in order, partial by partial
                D = np.zeros((len(Xc), kc))
                for j in range(d):
                    t = Xc[:, j, None] - Cm[None, :, j]
                    D += t * t
                K = np.where(np.isnan(D), np.inf, D)
                idx = np.argmin(K, axis=1)
                idx[bad[lo:lo + step]] = 0  # NULL dists -> smallest cand_id
                for cid, n_rows in zip(*np.unique(cand_ids[idx],
                                                  return_counts=True)):
                    counts[int(cid)] = counts.get(int(cid), 0) + int(n_rows)
        yield pd.DataFrame({"cand_id": list(counts),
                            "w": list(counts.values())})

    partials = (base.select("v").mapInPandas(_weigh, "cand_id long, w long"))
    weights = {r["cand_id"]: r["w"] for r in
               partials.groupBy("cand_id").agg(F.sum("w").alias("w"))
               .collect()}
    # 3. greedy weighted k-means++ reduce on the bounded candidate set
    def d2(a: list, b: list) -> float:
        return sum((x - y) * (x - y) for x, y in zip(a, b))
    # heaviest candidate first (ties: smallest id)
    first = max(cands, key=lambda c: (weights.get(c[0], 0), -c[0]))
    chosen = [first]
    chosen_ids = {first[0]}
    while len(chosen) < n_clusters:
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
    return spark.createDataFrame(
        [(i, c[1]) for i, c in enumerate(chosen)],
        "cell long, cent array<double>")


def kmeans_lloyd(corpus: DataFrame, n_clusters: int = 8, n_iter: int = 1,
                 id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """K-means with deterministic seeding (the first ``n_clusters`` vectors
    by id — swap in kmeans|| sampling on a real deployment; the plan shape
    is identical) and ``n_iter`` Lloyd rounds: assign -> mean-update ->
    re-assign.  The workhorse of embedding-space curation (SemDeDup-style
    cluster-then-filter, data mixing by cluster, coverage analysis).

    Returns the final (id, cluster_id, dist) assignment; dist rounded to 9
    like the cosine operators.  Each round is one broadcast-assign + one
    narrow-row aggregate; rounds are few and the loop is driver-side only
    (no lineage blowup at n_iter this small)."""
    cents = (corpus.filter(F.col(id_col) < n_clusters)
             .select(F.col(id_col).alias("cell"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("cent")))
    for _ in range(n_iter):
        assign = kmeans_assign(corpus, cents, id_col, vec_col, keep_vec=True)
        cents = kmeans_update(corpus, assign, id_col, vec_col)
    final = kmeans_assign(corpus, cents, id_col, vec_col)
    return final.select(id_col, "cluster_id", F.round("dist", 9).alias("dist"))


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-prune semantic deduplication
# ---------------------------------------------------------------------------

def _drop_over_cap_clusters(tagged: DataFrame, cluster_col: str,
                            cluster_cap: int) -> DataFrame:
    """Exclude clusters with more than ``cluster_cap`` members from the
    pairwise-comparison input.  A degenerate mega-cluster (a hub of the
    embedding space, or a collapsed k-means cell) is the SemDeDup analog of
    a hot LSH bucket: its pair block is quadratic in the cluster size and
    dominates the whole job.  Members of an over-cap cluster are KEPT
    un-pruned — the conservative choice (no false drops; raise n_clusters
    so clusters shrink, or re-run on the flagged cluster alone).  The
    over-cap list is bounded (≤ N/cap ids) and collected once — same
    single-histogram probe as minhash bucket_cap (dedup.py)."""
    over = [r[0] for r in
            (tagged.groupBy(cluster_col)
             .agg(F.count(F.lit(1)).alias("sz"))
             .filter(F.col("sz") > cluster_cap)
             .select(cluster_col).collect())]
    if not over:
        return tagged
    return tagged.filter(~F.col(cluster_col).isin(over))


def _pair_drops(tagged: DataFrame, pair_src: DataFrame, threshold: float,
                cluster_col: str, backend: str = "gemm") -> DataFrame:
    """(vid) rows to DROP: the higher id of every same-cluster pair whose
    round(cosine, 9) >= threshold.  ``tagged`` carries (vid, v, ...) for
    every vector (rescore side); ``pair_src`` is the cap-filtered subset
    actually compared.

    Two backends, bit-identical results (property-tested):

    - ``'join'``: cluster-key self-join streaming s² pairs per cluster
      through the decimal-fold ``cosine_pre`` — pure DataFrame ops, the
      formulation the DuckDB oracle mirrors line-for-line.  The fold is
      Catalyst-interpreted (~µs/pair at dim 64), which dominates SemDeDup
      wall time once clusters hold hundreds of members.
    - ``'gemm'`` (default): filter-and-verify.  Each cluster's s×d matrix
      computes all s² cosines in ONE BLAS call inside an Arrow-batched
      ``applyInPandas`` (ns/pair), keeping pairs with approx cosine >=
      threshold - 1e-6; the surviving candidates (near-duplicates only — a
      tiny set for a deduped-rate corpus) are re-scored EXACTLY with the
      same decimal-fold ``cosine_pre`` before the threshold test, so FP
      summation order can never flip a boundary pair vs the oracle.  The
      GEMM error bound (~d·eps plus the 12-dp product rounding, << 1e-9
      for unit-scale embeddings) is 1000x inside the margin.

    Scale shape of ``'gemm'``: the groupBy ships each cluster ONCE
    (s rows, same shuffle volume as one join side), and the per-task
    working set is one cluster's matrix — bounded because SemDeDup keeps
    expected cluster size constant (k grows with the corpus) and
    ``cluster_cap`` hard-caps the degenerate case.  The rescore join is
    candidate-count-sized, not pair-count-sized."""
    if backend == "gemm":
        import pandas as pd

        margin = 1e-6

        def per_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
            import numpy as np
            import pandas as pd
            m = len(pdf)
            if m < 2:
                return pd.DataFrame({"vec_a": pd.Series([], dtype="int64"),
                                     "vec_b": pd.Series([], dtype="int64")})
            ids = pdf["vid"].to_numpy()
            o = np.argsort(ids)
            ids = ids[o]
            V = np.stack([np.asarray(x, dtype=np.float64)
                          for x in pdf["v"].to_numpy()[o]])
            nrm = np.linalg.norm(V, axis=1)
            nrm[nrm == 0] = np.nan  # zero-norm -> NaN cosine -> never kept,
            # matching _safe_div's NULL semantics in the join backend
            sims = (V @ V.T) / np.outer(nrm, nrm)
            iu, ju = np.triu_indices(m, k=1)
            keep = sims[iu, ju] >= threshold - margin
            return pd.DataFrame({"vec_a": ids[iu[keep]],
                                 "vec_b": ids[ju[keep]]})

        cand = (pair_src.select("vid", "v", cluster_col)
                .groupBy(cluster_col)
                .applyInPandas(per_cluster, "vec_a long, vec_b long")
                # one big cluster emits ALL its candidates from a single
                # task — without this narrow re-shuffle the exact rescore's
                # decimal folds run on one core in exactly the degenerate
                # case (measured 132s vs 12s for a 2M-candidate planted
                # mega-cluster).  Sane corpora emit few candidates and AQE
                # coalesces the shuffle away.
                .repartition(F.col("vec_a"), F.col("vec_b")))
        ra = tagged.select(F.col("vid").alias("vec_a"),
                          F.col("v").alias("va"))
        rb = tagged.select(F.col("vid").alias("vec_b"),
                          F.col("v").alias("vb"))
        return (arrow_cosine_pairs(  # exact rescore in one Arrow map (r14)
            cand.join(ra, "vec_a").join(rb, "vec_b"),
            "cos_sim", "va", "vb", keep=["vec_b"])
            .filter(F.col("cos_sim") >= threshold)
            .select(F.col("vec_b").alias("vid"))
            .distinct())
    a = pair_src.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"),
                        cluster_col)
    b = pair_src.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"),
                        cluster_col)
    return (arrow_cosine_pairs(  # one Arrow map: dot + norms (r14)
        a.join(b, cluster_col).filter(F.col("vec_a") < F.col("vec_b")),
        "cos_sim", "va", "vb", keep=["vec_b"])
        .filter(F.col("cos_sim") >= threshold)
        .select(F.col("vec_b").alias("vid"))
        .distinct())


def semdedup_prune(corpus: DataFrame, n_clusters: int = 8,
                   threshold: float = 0.9, n_iter: int = 1,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   cluster_cap: int | None = None,
                   pair_backend: str = "gemm") -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., "SemDeDup: Data-efficient
    learning at web-scale through semantic deduplication", arXiv:2303.09540
    — public algorithm): k-means-cluster the embedding space, then compare
    pairs ONLY within a cluster and drop the higher id of every pair with
    cosine >= threshold.  Returns the kept rows as (id, cluster_id).

    Scale shape: clustering confines the quadratic pair comparison to
    cluster-local blocks — the exact blocking idea of the LSH/sign-bucket
    dedups, but with learned (data-adaptive) partitions, which is why it
    catches paraphrase-level duplicates hash blocking misses.  The tagged
    (id, vector, norm, cluster) table is persisted once and self-joined on
    cluster_id; norms sit below the join (computed once per vector — see
    cosine_pre).  A degenerate mega-cluster is the same skew hazard as a
    hot LSH bucket: raise n_clusters (production SemDeDup uses ~100k
    clusters at web scale) and/or set ``cluster_cap`` — clusters above the
    cap skip the quadratic pair block and keep all members
    (:func:`_drop_over_cap_clusters`).
    """
    from localsql_spark.operators import track_persist

    assign = kmeans_lloyd(corpus, n_clusters=n_clusters, n_iter=n_iter,
                          id_col=id_col, vec_col=vec_col)
    tagged = track_persist(
        spread(corpus).join(assign.select(id_col, "cluster_id"), id_col)
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("v"),
                "cluster_id"))
    pair_src = (tagged if cluster_cap is None else
                _drop_over_cap_clusters(tagged, "cluster_id", cluster_cap))
    drops = _pair_drops(tagged, pair_src, threshold, "cluster_id",
                        backend=pair_backend)
    return (tagged.join(drops, "vid", "left_anti")
            .select(F.col("vid").alias(id_col), "cluster_id"))


def semdedup_prune_two_level(corpus: DataFrame, n_clusters: int = 64,
                             n_coarse: int = 8, threshold: float = 0.9,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             cluster_cap: int | None = None,
                             n_probe: int = 1,
                             pair_backend: str = "gemm") -> DataFrame:
    """SemDeDup with IVF-accelerated assignment, for corpus-proportional
    cluster counts.

    Flat :func:`semdedup_prune` assigns every vector against ALL k
    centroids — O(N*k) distance folds, and production SemDeDup wants k to
    GROW with the corpus (constant expected cluster size keeps the
    intra-cluster pair block bounded), which makes flat assignment
    quadratic in N (measured: 7.8x wall per 4x data before this operator —
    SCALE.md).  The standard fix is hierarchical quantization over ONE
    flat centroid set (exactly faiss's IVF idea, and what web-scale
    SemDeDup runs): a small coarse quantizer (n_coarse cells, built by
    k-means over the k fine CENTROIDS — k rows, cheap) routes each vector
    to a cell, and the vector then compares only against that cell's fine
    centroids.  Assignment cost drops to O(N*(kc + k/kc)) while the
    cluster semantics stay those of one flat k-clustering — NOT an
    independent k-means per cell, which would force multi-cluster splits
    onto cells holding a single duplicate group and miss their pairs.

    Approximation note: a vector whose true nearest fine centroid sits in
    a different coarse cell is assigned to its cell-local best — the
    standard IVF trade; duplicates that co-locate keep being caught because
    near-identical vectors route to the same cell.  ``n_probe`` > 1 probes
    that many nearest coarse cells per vector (multi-probe IVF), recovering
    boundary-straddling assignments at n_probe× candidate cost — assignment
    becomes O(N*(kc + n_probe*k/kc)); n_probe = kc reproduces flat
    assignment exactly (measured recall-vs-cost in ANN.md).

    One Lloyd round refines the fine centroids (update keyed by fine id;
    the coarse quantizer stays fixed, as in IVF practice).  Pruning as in
    flat SemDeDup: cosine pairs within a fine cluster, drop the higher id
    at >= threshold.  Returns kept rows as (id, cluster_id).
    """
    from localsql_spark.operators import track_persist

    # flat fine-centroid seeds: first k vectors by id (swap in kmeans||
    # sampling in production — see kmeans_lloyd)
    seeds = (corpus.filter(F.col(id_col) < n_clusters)
             .select(F.col(id_col).alias("fine"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("cent")))
    # coarse quantizer: k-means over the k SEED CENTROIDS (k rows)
    coarse_cents = kmeans_update(
        seeds, kmeans_lloyd(seeds, n_clusters=n_coarse, n_iter=0,
                            id_col="fine", vec_col="cent"),
        id_col="fine", vec_col="cent")

    def cells_of(cents: DataFrame) -> DataFrame:
        # (fine, cent, cell): each fine centroid's coarse cell — k rows
        return (kmeans_assign(cents.select(F.col("fine").alias("f_id"),
                                           F.col("cent")),
                              coarse_cents, id_col="f_id", vec_col="cent")
                .select(F.col("f_id").alias("fine"),
                        F.col("cluster_id").alias("cell"))
                .join(cents, "fine"))

    vecs = track_persist(
        spread(corpus).select(F.col(id_col).alias("vid"),
                              F.transform(F.col(vec_col),
                                          lambda x: x.cast("double"))
                              .alias("v")))
    # vector -> n_probe coarse cell(s) once (O(N*kc)); reused by both
    # assignment rounds.  With n_probe > 1 each vector carries multiple
    # (vid, cell) rows; the argmin in assign() collapses candidates across
    # all probed cells (fine centroids partition disjointly into cells, so
    # the union introduces no duplicate candidates).
    vcell = track_persist(
        kmeans_assign_topn(vecs, coarse_cents, n_probe,
                           id_col="vid", vec_col="v")
        .select("vid", F.col("cluster_id").alias("cell")))
    tagged = vecs.join(vcell, "vid")

    def assign(cents_with_cell: DataFrame) -> DataFrame:
        # cell-local argmin over fine centroids (max(struct) so partial
        # aggregation collapses candidates map-side — see knn_ivf)
        cand = (tagged.join(cents_with_cell, "cell")
                .select("vid", l2_sq(F.col("v"), F.col("cent")).alias("d"),
                        "fine"))
        return (cand.groupBy("vid")
                .agg(F.max(F.struct((-F.col("d")).alias("nd"),
                                    (-F.col("fine")).alias("nf"))).alias("b"))
                .select("vid", (-F.col("b.nf")).cast("long").alias("fine")))

    a0 = assign(cells_of(seeds))
    # Lloyd update of the FLAT fine centroids (keyed by fine id), then
    # re-derive their coarse cells (k rows) and re-assign
    cents1 = (kmeans_update(vecs.join(a0, "vid"),
                            a0.select("vid", F.col("fine").alias("cluster_id")),
                            id_col="vid", vec_col="v")
              .select(F.col("cell").alias("fine"), "cent"))
    final = assign(cells_of(cents1))

    t2 = track_persist(vecs.join(final, "vid"))
    pair_src = (t2 if cluster_cap is None else
                _drop_over_cap_clusters(t2, "fine", cluster_cap))
    drops = _pair_drops(t2, pair_src, threshold, "fine",
                        backend=pair_backend)
    return (t2.join(drops, "vid", "left_anti")
            .select(F.col("vid").alias(id_col),
                    F.col("fine").alias("cluster_id")))


# ---------------------------------------------------------------------------
# Product quantization (PQ): memory-bounded ANN codes
# ---------------------------------------------------------------------------

def _pq_sub(df: DataFrame, m: int, id_col: str, vec_col: str) -> DataFrame:
    """Split every vector into ``m`` contiguous subvectors: one row per
    (id, subspace) with the dim/m-length slice.  Row-local explode+slice;
    the slice length is the exact sub-dimension (NOT an Int32.MaxValue cap
    — see operators.selection._features for the overflow trap)."""
    out = (spread(df)
           .select(F.col(id_col), F.col(vec_col).alias("_v"),
                   F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s")))
    dsub = (F.size("_v") / F.lit(m)).cast("int")
    return out.select(id_col, "s",
                      F.slice(F.col("_v"), F.col("s") * dsub + 1, dsub)
                      .alias("v"))


def _pq_assign(sub: DataFrame, codebooks: DataFrame,
               id_col: str, keep_vec: bool = False) -> DataFrame:
    """Nearest code per (vector, subspace): the per-subspace analog of
    kmeans_assign — and the same Arrow map (optimization r14): the m
    per-subspace codebooks are collected into the task closure and each
    (id, s, v) row is scored against ITS subspace's codebook in the map,
    removing the broadcast join and the one-row-per-subvector groupBy
    exchange.  Tie-break/NULL semantics match min(struct(dist, code))
    (first minimum over codes ascending; NULL-poisoned subvectors sort
    first).  ``keep_vec`` returns the subvector as ``__v``.  Relational
    twin: :func:`_pq_assign_relational`."""
    import pandas as pd  # noqa: F401

    cb_rows = sorted(codebooks.select("s", "code", "cent").collect(),
                     key=lambda r: (r[0], r[1]))
    by_s: dict[int, tuple] = {}
    clean = bool(cb_rows)
    for r in cb_rows:
        by_s.setdefault(r[0], []).append((r[1], r[2]))
    import numpy as np

    packed: dict[int, tuple] = {}
    for s, rows in by_s.items():
        codes = [c for c, _ in rows]
        vecs = [list(v) if v is not None else None for _, v in rows]
        d = {len(v) for v in vecs if v is not None
             and not any(e is None for e in v)}
        if len(d) != 1 or any(v is None or any(e is None for e in v)
                              for v in vecs):
            clean = False
            break
        Cm = np.asarray(vecs, dtype=np.float64)
        if not np.isfinite(Cm).all():
            clean = False
            break
        packed[s] = (np.asarray(codes), Cm)
    if not clean:
        return _pq_assign_relational(sub, codebooks, id_col, keep_vec)
    id_t = sub.schema[id_col].dataType.simpleString()
    s_t = sub.schema["s"].dataType.simpleString()
    code_t = codebooks.schema["code"].dataType.simpleString()
    vec_t = sub.schema["v"].dataType.simpleString()
    schema = f"{id_col} {id_t}, s {s_t}, code {code_t}, dist double"
    if keep_vec:
        schema += f", __v {vec_t}"

    def run(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            n = len(pdf)
            code_out = np.zeros(n, dtype=np.int64)
            dist_out = pd.array([None] * n, dtype="Float64")
            svals = pdf["s"].to_numpy()
            for s, (codes_np, Cm) in packed.items():
                sel = np.nonzero(svals == s)[0]
                if not len(sel):
                    continue
                X, bad = _clean_matrix(pdf["v"].iloc[sel].tolist(),
                                       Cm.shape[1])
                D = _l2_fixed_dists(X, Cm)
                idx = np.argmin(D, axis=1)
                code_out[sel] = np.where(bad, codes_np[0], codes_np[idx])
                good = sel[~bad]
                dist_out[good] = D[np.arange(len(D)), idx][~bad]
            res = pd.DataFrame({id_col: pdf[id_col], "s": pdf["s"],
                                "code": code_out, "dist": dist_out})
            if keep_vec:
                res["__v"] = pdf["v"]
            yield res

    # rows whose subspace has no codebook entry would be DROPPED by the
    # relational inner join; reproduce by filtering to known subspaces
    known = sorted(packed)
    out = sub.filter(F.col("s").isin(known)) if known else sub.filter(
        F.lit(False))
    return out.mapInPandas(run, schema=schema)


def _pq_assign_relational(sub: DataFrame, codebooks: DataFrame,
                          id_col: str, keep_vec: bool = False) -> DataFrame:
    """In-plan nearest-code assignment (broadcast join + interpreted
    decimal fold + map-side min(struct)) — the equivalence reference for
    :func:`_pq_assign` and the form the oracles replay."""
    scored = (sub.join(F.broadcast(codebooks), "s")
              .select(id_col, "s", "v", "code",
                      l2_sq(F.col("v"), F.col("cent")).alias("dist")))
    fields = [F.col("dist"), F.col("code")]
    if keep_vec:
        fields.append(F.col("v"))
    out = (scored.groupBy(id_col, "s")
           .agg(F.min(F.struct(*fields)).alias("b")))
    cols = [F.col(id_col), F.col("s"), F.col("b.code").alias("code"),
            F.col("b.dist").alias("dist")]
    if keep_vec:
        cols.append(F.col("b.v").alias("__v"))
    return out.select(*cols)


def pq_train(corpus: DataFrame, m: int = 4, k_codes: int = 16,
             n_iter: int = 1, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """Train PQ codebooks (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — public algorithm): independent k-means
    per subspace, deterministically seeded from the first ``k_codes``
    vectors' subvectors (same seeding discipline as kmeans_lloyd).

    Returns (s, code, cent: array<double>) — ``m * k_codes`` rows total, a
    broadcastable model whatever the corpus size.  Each Lloyd round is one
    broadcast-assign + one narrow (s, code, dim) aggregate; training cost
    is the same order as one k-means pass, NOT m passes, because all
    subspaces ride one exploded stream.

    The trained model is MATERIALIZED (collected and rebuilt as a literal
    frame): it is bounded by construction, and without the cut every
    downstream reference (encode, LUT) re-expands the whole training
    subtree into its plan — the static plan for encode+search carried 48
    exchanges before the cut, ~10 after.
    """
    spark = corpus.sparkSession
    # Seed from the k_codes SMALLEST ids by rank, not by literal id value:
    # `id < k_codes` silently yields empty/partial codebooks when the id
    # space doesn't start at 0 or is sparse.  TakeOrdered bounds the
    # driver materialization at k_codes scalar ids.
    seed_ids = [r[0] for r in
                corpus.select(id_col).orderBy(id_col).limit(k_codes)
                .collect()]
    if len(seed_ids) < k_codes:
        raise ValueError(
            f"pq_train needs >= k_codes={k_codes} vectors to seed "
            f"codebooks; corpus has {len(seed_ids)}")
    code_map = F.broadcast(spark.createDataFrame(
        [(i, c) for c, i in enumerate(seed_ids)], [id_col, "code"]))
    sub = _pq_sub(corpus, m, id_col, vec_col)
    cents = (sub.join(code_map, id_col)
             .select("s", "code",
                     F.transform("v", lambda x: x.cast("double"))
                     .alias("cent")))
    for _ in range(n_iter):
        assign = _pq_assign(sub, cents, id_col, keep_vec=True)
        # Arrow fixed-point partial-sum fold (optimization r15, guide
        # §4.2/§2.3 — the kmeans_update/covariance pattern): the exchange
        # carries m x k_codes x dim x partitions partial rows instead of
        # |vectors| x dims interpreted posexplode rows; bit-identical to
        # the posexplode decimal mean (test_pq_train_matches_relational)
        dim_means = _grouped_dim_means(
            assign.select("s", "code", F.col("__v").alias("_v")),
            ["s", "code"])
        cents = (dim_means.groupBy("s", "code")
                 .agg(F.transform(
                     F.sort_array(F.collect_list(F.struct("p", "m"))),
                     lambda st: st["m"]).alias("cent")))
    return spark.createDataFrame(cents.collect(), schema=cents.schema)


def pq_encode(corpus: DataFrame, codebooks: DataFrame,
              m: int = 4, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """Encode every vector as its nearest code per subspace: (id, s, code,
    dist).  This is the stored representation — m small ints per vector
    (64x compression at dim 64 / m 4 vs float32), which is what makes
    billion-scale ANN fit in memory.  dist (the per-subspace quantization
    error) rounds to 9 like the cosine operators."""
    assign = _pq_assign(_pq_sub(corpus, m, id_col, vec_col),
                        codebooks, id_col)
    return assign.select(id_col, "s", "code", F.round("dist", 9).alias("dist"))


def knn_pq_adc(corpus: DataFrame, queries: DataFrame, k: int = 5,
               m: int = 4, k_codes: int = 16, n_iter: int = 1,
               id_col: str = "vec_id", vec_col: str = "embedding",
               exclude_self: bool = False) -> DataFrame:
    """Approximate kNN by asymmetric distance computation (ADC): train
    codebooks, encode the corpus, build each query's lookup table of
    per-(subspace, code) squared distances, and score every corpus vector
    as the SUM of m table lookups — never touching the float vectors again.

    Scale shape: the LUT is |queries| x m x k_codes rows (broadcast); the
    corpus side streams its narrow (id, s, code) codes through one
    broadcast join and a (query, id) aggregation, then a per-query top-k
    window.  At 100 TB the codes table is ~1.5% the bytes of the float
    corpus, and no shuffle carries vectors — only code ids and partial
    decimal sums.  Returns (query_id, neighbor_id, adc_dist, rn).

    ``exclude_self`` is OPT-IN: set it only when queries are drawn from
    the corpus under the SAME id space (e.g. self-similarity over one
    table).  The old always-on behavior silently dropped corpus rows
    whose id happened to collide with an unrelated query table's id.
    """
    from pyspark.sql.window import Window

    codebooks = pq_train(corpus, m, k_codes, n_iter, id_col, vec_col)
    codes = pq_encode(corpus, codebooks, m, id_col, vec_col)
    qsub = (_pq_sub(queries, m, id_col, vec_col)
            .select(F.col(id_col).alias("query_id"), "s", "v"))
    lut = (qsub.join(F.broadcast(codebooks), "s")
           .select("query_id", "s", "code",
                   l2_sq(F.col("v"), F.col("cent")).alias("d")))
    scored = codes.join(F.broadcast(lut), ["s", "code"])
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col(id_col))
    scored = (scored
              .groupBy("query_id", F.col(id_col).alias("neighbor_id"))
              .agg(F.round(F.sum(F.round(F.col("d"), 12)
                                 .cast("decimal(28,12)")).cast("double"), 9)
                   .alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))


def knn_pq_rerank(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  shortlist: int = 20, m: int = 4, k_codes: int = 16,
                  n_iter: int = 1, id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  exclude_self: bool = False) -> DataFrame:
    """PQ-ADC shortlist -> exact cosine re-rank: the standard production
    ANN pattern (coarse quantized scores pick ``shortlist`` candidates
    per query; only those |queries| x shortlist float vectors are fetched
    for the exact metric).  Returns (query_id, neighbor_id, cos_sim, rn).

    Scale shape: the ADC stage never moves float vectors (codes only);
    the re-rank joins the corpus against a BROADCAST shortlist —
    |queries| x shortlist rows — so exactly the candidate vectors stream
    through one broadcast join, with norms materialized below the join
    (cosine_pre discipline).  Recall loss vs brute force is confined to
    candidates the ADC ranked below ``shortlist``; measured in ANN.md.
    """
    from pyspark.sql.window import Window

    cand = (knn_pq_adc(corpus, queries, k=shortlist, m=m, k_codes=k_codes,
                       n_iter=n_iter, id_col=id_col, vec_col=vec_col,
                       exclude_self=exclude_self)
            .select("query_id", "neighbor_id"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"))
    re = arrow_cosine_lookup(  # one Arrow map: dot + norms (r14);
        # query vectors ride the task closure, not a broadcast join
        nv.join(F.broadcast(cand), "neighbor_id"),
        "cos_sim", "query_id", "cv",
        _collect_query_vectors(queries, id_col, vec_col),
        keep=["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               "neighbor_id")
    return re.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


# ---------------------------------------------------------------------------
# Embedding-space outlier flagging
# ---------------------------------------------------------------------------

def embedding_outliers(corpus: DataFrame, n_clusters: int = 8,
                       n_iter: int = 1, z_threshold: float = 2.0,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Flag embedding-space outliers: vectors whose distance to their own
    cluster centroid z-scores above ``z_threshold`` within the cluster —
    the cheap embedding-quality gate (mis-embedded rows, corrupt inputs,
    and off-manifold content sit far from every centroid; per-cluster
    normalization keeps dense and sparse regions comparable).

    Composition of verified primitives: kmeans_lloyd assignment (one
    Lloyd round from deterministic seeds), then per-cluster mean/stddev
    of the assignment distance via the decimal-sum discipline (mean and
    second moment as exact DECIMAL sums, one double division each) so
    aggregation order can't perturb the stats; z = (dist - mu) / sigma,
    outlier = z > threshold (FALSE, not null, for singleton/zero-variance
    clusters).

    Scale shape: the assignment is the broadcast-centroid pass of
    kmeans_lloyd; the stats table is n_clusters rows (broadcast back);
    everything else is row-local.  Output: (vec_id, cluster_id, dist, z,
    is_outlier).
    """
    asg = (kmeans_lloyd(corpus, n_clusters, n_iter, id_col, vec_col)
           .localCheckpoint(eager=False))

    def dec_mean(c: Column) -> Column:
        return (F.sum(F.round(c, 12).cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)))

    st = (asg.groupBy("cluster_id")
          .agg(dec_mean(F.col("dist")).alias("mu"),
               dec_mean(F.col("dist") * F.col("dist")).alias("m2")))
    std = F.sqrt(F.greatest(F.col("m2") - F.col("mu") * F.col("mu"),
                            F.lit(0.0)))
    zraw = F.when(std > 0, (F.col("dist") - F.col("mu")) / std)
    return (asg.join(F.broadcast(st), "cluster_id")
            .select(id_col, "cluster_id", "dist",
                    F.round(zraw, 6).alias("z"),
                    F.coalesce(zraw > z_threshold, F.lit(False))
                    .alias("is_outlier")))


def near_dup_threshold_sweep(corpus: DataFrame, bits: int = 8,
                             band_width: float = 0.05,
                             sample_mod: int = 1,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Near-dup threshold calibration curve: every LSH-blocked candidate
    pair's cosine, banded into ``band_width``-wide bins, with the
    cumulative pair count at-or-above each band — the table an operator
    reads to PICK the dedup threshold (the cliff between the near-dup
    mass and the background distribution) instead of guessing 0.9.

    Scale shape: candidate generation is the sign-bucket blocking of
    embedding_near_dup_pairs, but with NO cosine threshold the in-bucket
    pair count grows quadratically in bucket occupancy — measured 13.6x
    on a 4x data step in SCALE.md when run exhaustively.  Calibration
    needs the DISTRIBUTION, not exhaustiveness, so at scale set
    ``sample_mod`` to hash-sample ~1/mod of the corpus first (mod
    proportional to corpus size keeps the candidate set constant — the
    fixed-size-sample recipe; deterministic, so the curve is
    reproducible).  The banding is row-local, the per-band groupBy is
    bounded at 2/band_width rows, and the cumulative window runs on that
    bounded table only.  Output: (band_lo, n_pairs, cum_pairs) sorted by
    band descending.
    """
    from pyspark.sql.window import Window

    from localsql_spark.operators import hash32

    if sample_mod > 1:
        corpus = corpus.filter(
            F.pmod(hash32(F.col(id_col)), F.lit(sample_mod)) == 0)
    pairs = embedding_near_dup_pairs(corpus, threshold=-1.0,
                                     id_col=id_col, vec_col=vec_col,
                                     bits=bits)
    band = F.floor(F.col("cos_sim") / F.lit(band_width))
    per = (pairs.groupBy(band.alias("band"))
           .agg(F.count(F.lit(1)).alias("n_pairs")))
    w = (Window.orderBy(F.col("band").desc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (per.select(
        F.round(F.col("band") * band_width, 6).alias("band_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).alias("cum_pairs"))
        .orderBy(F.col("band_lo").desc()))


@locked_by("index_path")
def append_ivf_index(spark: SparkSession, index_path: str,
                     new_batch: DataFrame, batch_id: int,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> int:
    """Fold a NEW embedding batch into a persisted IVF index
    (:func:`write_ivf_index`) without touching the base layout: assign
    the batch against the EXISTING centroid table (broadcast read) and
    land it as ``delta/batch_<id>`` hive-partitioned by cell — identical
    per-batch-overwrite idempotency to the dedup signature store, so a
    replayed batch rewrites its own directory byte-for-byte.

    The daily-ingest ANN maintenance shape: per-batch cost is one
    broadcast assignment over the BATCH (never the accumulated corpus);
    probes read base + deltas with the same cell partition pruning.
    Compact with :func:`compact_ivf_index` when delta count grows.
    Returns the number of vectors appended."""
    cents = spark.read.parquet(f"{index_path}/_centroids")
    c = (spread(new_batch).select(F.col(id_col).alias("neighbor_id"),
                                  F.col(vec_col).alias("cv"))
         .withColumn("cn", norm(F.col("cv"))))
    scored = (c.crossJoin(F.broadcast(cents))
              .withColumn("__csim", cosine_pre(F.col("cv"), F.col("cent"),
                                               F.col("cn"), F.col("centn"))))
    assigned = (scored.groupBy("neighbor_id")
                .agg(F.max(F.struct(
                    F.col("__csim").alias("s"),
                    (-F.col("cell")).alias("nc"),
                    F.col("cv").alias("v"),
                    F.col("cn").alias("vn"))).alias("b"))
                .select("neighbor_id",
                        F.col("b.v").alias("cv"),
                        F.col("b.vn").alias("cn"),
                        (-F.col("b.nc")).cast("int").alias("cell")))
    (assigned.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(f"{index_path}/delta/batch_{batch_id}"))
    return assigned.count()


def _ivf_base(index_path: str) -> tuple[str, int]:
    """Resolve the committed base slice and its compacted-through batch id.

    Base resolution is BY NAME so every crash point reads consistently:
    the newest ``cells_upto_<B>`` (written by :func:`compact_ivf_index`)
    wins; the original ``cells/`` (from :func:`write_ivf_index`,
    compacted-through -1) is the fallback.  Delta dirs with
    ``batch_id <= B`` are superseded — their rows are already folded into
    the base — so a crash after the compaction commit but before delta
    cleanup can never double-count an appended vector."""
    from pathlib import Path

    gens = sorted(Path(index_path).glob("cells_upto_*"),
                  key=lambda p: int(p.name.rsplit("_", 1)[1]))
    if gens:
        newest = gens[-1]
        return str(newest), int(newest.name.rsplit("_", 1)[1])
    return f"{index_path}/cells", -1


def _ivf_slices(spark: SparkSession, index_path: str) -> DataFrame:
    """Committed base + every NON-superseded delta, one unioned
    cell-partitioned scan (each side prunes on the cell partition column
    independently)."""
    from pathlib import Path

    base, upto = _ivf_base(index_path)
    # crash-consistent read: a crashed ivf_erase_vectors (died between
    # manifest commit and partition swap) must not leave erased vectors
    # servable — complete the committed erase before reading, mirroring
    # knn_ivfpq_from_index/read_bucketed_store
    from localsql_spark.sinks.merge import recover_pending_merge
    recover_pending_merge(base)
    idx = spark.read.option("basePath", base).parquet(base)
    deltas = sorted(p for p in Path(index_path).glob("delta/batch_*")
                    if int(p.name.rsplit("_", 1)[1]) > upto)
    for d in deltas:
        idx = idx.unionByName(
            spark.read.option("basePath", str(d)).parquet(str(d)))
    return idx


@locked_by("index_path")
def compact_ivf_index(spark: SparkSession, index_path: str) -> int:
    """Fold the non-superseded ``delta/batch_*`` dirs into a NEW base
    generation ``cells_upto_<B>`` (B = highest folded batch id).

    Commit is one directory rename, and the previous base is untouched
    until after it — there is no instant at which the index lacks a
    readable base (the failure mode of a cells→cells_old→cells double
    swap).  Readers resolve the newest ``cells_upto_*`` by name and
    ignore deltas with id <= B, so a crash after the commit but before
    cleanup leaves superseded dirs on disk but NOT in query results.
    Cleanup of the old base / folded deltas / stale staging is
    opportunistic and re-attempted by the next compaction.
    Single-writer maintenance step between query batches.
    Returns the number of delta directories folded."""
    import shutil
    from pathlib import Path

    root = Path(index_path)
    old_base, upto = _ivf_base(index_path)
    deltas = sorted((p for p in root.glob("delta/batch_*")
                     if int(p.name.rsplit("_", 1)[1]) > upto),
                    key=lambda p: int(p.name.rsplit("_", 1)[1]))
    # opportunistic recovery of a predecessor run's leftovers
    for stale in root.glob("_staging_cells*"):
        shutil.rmtree(stale, ignore_errors=True)
    for p in root.glob("delta/batch_*"):
        if int(p.name.rsplit("_", 1)[1]) <= upto:
            shutil.rmtree(p, ignore_errors=True)
    for g in root.glob("cells_upto_*"):
        if int(g.name.rsplit("_", 1)[1]) < upto:
            shutil.rmtree(g, ignore_errors=True)
    if upto >= 0:
        shutil.rmtree(root / "cells", ignore_errors=True)
    if not deltas:
        return 0
    new_upto = int(deltas[-1].name.rsplit("_", 1)[1])
    merged = _ivf_slices(spark, index_path)
    staged = root / f"_staging_cells_{new_upto}"
    (merged.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(str(staged)))
    staged.rename(root / f"cells_upto_{new_upto}")  # COMMIT — one rename
    # opportunistic cleanup: superseded by name whether or not this runs
    if upto < 0:
        shutil.rmtree(root / "cells", ignore_errors=True)
    else:
        shutil.rmtree(Path(old_base), ignore_errors=True)
    for d in deltas:
        shutil.rmtree(d, ignore_errors=True)
    return len(deltas)


@locked_by("index_path")
def ivf_erase_vectors(spark: SparkSession, index_path: str,
                      keys: DataFrame) -> list:
    """Right-to-be-forgotten PROPAGATION into the persisted IVF index —
    unlike the PQ variant this index stores the subjects' FULL embedding
    vectors, so leaving rows behind retains the raw personal data, not
    just a quantized sketch.

    Mechanics: compact first (:func:`compact_ivf_index` folds every
    non-superseded delta into one base generation — necessary because
    delta dirs are per-batch-overwrite idempotent, and erasing inside
    one would be silently undone by a checkpoint redelivery rewriting
    the dir; once folded, a superseded redelivery is invisible to
    readers by the ``upto`` gate).  Then touched cells come from one
    index-sized (neighbor_id, cell) pass, and only those ``cell=``
    partitions rewrite through the manifest protocol (emptied cells
    commit as removals).  Idempotent; a crashed erase heals on the next
    probe/erase via the pending manifest.

    The ``_centroids`` table is MODEL state (the deterministic seed
    variant stores seed subjects' vectors verbatim) — if an erased key
    seeded a centroid, retrain via
    :func:`localsql_spark.sinks.erase.rebuild_nonretractable`
    (``ivf_index`` config), same policy as the IVFPQ model tables.
    Returns the rewritten cell values."""
    import shutil
    from pathlib import Path

    from localsql_spark.sinks.erase import normalize_erase_keys
    from localsql_spark.sinks.merge import (commit_staged_partitions,
                                            read_base_partitions,
                                            recover_pending_merge)

    compact_ivf_index(spark, index_path)
    base, _ = _ivf_base(index_path)
    recover_pending_merge(base)
    k = normalize_erase_keys(keys)
    # a prior erase can have emptied EVERY cell (each committed as a
    # manifest removal): base exists but holds no parquet, and a direct
    # read would raise 'Unable to infer schema' — same emptiness contract
    # as read_base_partitions (advisor r10)
    bp = Path(base)
    if not bp.exists() or not any(bp.rglob("*.parquet")):
        return []
    cells = spark.read.option("basePath", base).parquet(base)
    touched = sorted({r[0] for r in (
        cells.join(F.broadcast(k),
                   F.col("neighbor_id") == F.col("_erase_key"), "semi")
        .select("cell").distinct().collect())})
    if not touched:
        return []
    stored = read_base_partitions(spark, base, "cell", touched,
                                  mode="write")
    if stored is None:
        return []
    kept = stored.join(F.broadcast(k),
                       F.col("neighbor_id") == F.col("_erase_key"),
                       "left_anti")
    bp = Path(base)
    staging = bp.parent / f".{bp.name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    (kept.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(str(staging)))
    commit_staged_partitions(base, "cell",
                             [f"cell={c}" for c in touched])
    return touched


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC): coarse cells + product-quantized residuals
# ---------------------------------------------------------------------------

def _coarse_cells(corpus: DataFrame, n_cells: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """Deterministic coarse quantizer: the ``n_cells`` smallest-id vectors
    as L2 centroids, MATERIALIZED to a literal frame (n_cells rows) so no
    downstream reference re-expands the corpus scan into its plan — the
    same plan-cut discipline as pq_train."""
    spark = corpus.sparkSession
    cents = (corpus.filter(F.col(id_col) < n_cells)
             .select(F.col(id_col).cast("int").alias("cell"),
                     F.transform(F.col(vec_col),
                                 lambda x: x.cast("double")).alias("cent")))
    return spark.createDataFrame(cents.collect(), schema=cents.schema)


def _coarse_assign(df: DataFrame, cents: DataFrame, key_col: str,
                   vec_col: str) -> DataFrame:
    """Nearest coarse cell per vector, with the residual against that
    cell's centroid: (key, cell, resid).

    Optimization r14: the same Arrow map as :func:`kmeans_assign`
    (collected centroids in the closure; crossJoin + argmin exchange
    both gone), emitting the residual v - cent as float64 — elementwise
    IEEE subtraction, identical to the zip_with.  NULL semantics differ
    from kmeans_assign because the relational argmin here was
    ``max(struct(-d, -cell))`` where a NULL distance sorts SMALLEST: a
    NULL-poisoned vector only lands on the smallest cell when EVERY
    distance is NULL (true by construction once the centroid table is
    verified clean), and its residual NULL-propagates per element — both
    reproduced inline below and pinned by the null battery test.
    Degenerate centroid tables route through
    :func:`_coarse_assign_relational`."""
    import pandas as pd  # noqa: F401

    cells, C, _ = _collect_centroids(cents)
    if C is None or not cells:
        return _coarse_assign_relational(df, cents, key_col, vec_col)
    key_t = df.schema[key_col].dataType.simpleString()
    schema = f"{key_col} {key_t}, cell int, resid array<double>"

    def _bad_resid(v, c0, d):
        # zip_with(v, cent, x - y) with NULL propagation, against the
        # smallest cell's centroid (the all-NULL-distance tie winner)
        if v is None:
            return None
        vv = list(v)
        ln = max(len(vv), d)
        out = []
        for i in range(ln):
            x = vv[i] if i < len(vv) else None
            y = c0[i] if i < d else None
            ok = (x is not None and y is not None
                  and x == x)  # NaN-poisoned elements stay NULL-like
            out.append(float(x) - float(y) if ok else None)
        return out

    def run(batches):
        import numpy as np
        import pandas as pd

        cells_np = np.asarray(cells)
        d = C.shape[1]
        c0 = [float(x) for x in C[0]]
        for pdf in batches:
            X, bad = _clean_matrix(pdf["v"], d)
            D = _l2_fixed_dists(X, C)
            idx = np.argmin(D, axis=1)
            resid = list(X - C[idx])
            if bad.any():
                vals = pdf["v"].tolist()
                for i in np.nonzero(bad)[0]:
                    resid[i] = _bad_resid(vals[i], c0, d)
            res = pd.DataFrame({
                key_col: pdf[key_col],
                "cell": pd.array(np.where(bad, cells_np[0],
                                          cells_np[idx]), dtype="int32"),
                "resid": resid})
            yield res

    return (df.select(F.col(key_col), F.col(vec_col).alias("v"))
            .mapInPandas(run, schema=schema))


def _coarse_assign_relational(df: DataFrame, cents: DataFrame, key_col: str,
                              vec_col: str) -> DataFrame:
    """In-plan coarse assignment: one broadcast crossJoin + a map-side
    argmin fold (max over a (-dist, -cell) struct — ties break to the
    smallest cell), so the exchange carries ONE row per vector, never
    n_cells candidates.  Equivalence reference for :func:`_coarse_assign`."""
    scored = (df.crossJoin(F.broadcast(cents))
              .withColumn("_d", l2_sq(F.col(vec_col), F.col("cent"))))
    return (scored.groupBy(key_col)
            .agg(F.max(F.struct(
                (-F.col("_d")).alias("nd"),
                (-F.col("cell")).alias("nc"),
                F.col(vec_col).alias("v"),
                F.col("cent").alias("ct"))).alias("b"))
            .select(key_col,
                    (-F.col("b.nc")).cast("int").alias("cell"),
                    F.zip_with(F.col("b.v"), F.col("b.ct"),
                               lambda x, y: x.cast("double") - y)
                    .alias("resid")))


def coarse_assign_two_level(df: DataFrame, cents: DataFrame, key_col: str,
                            vec_col: str, n_coarse: int | None = None,
                            n_probe: int = 1) -> DataFrame:
    """Hierarchically-routed coarse assignment for corpus-proportional
    cell counts — the same (key, cell, resid) contract as
    :func:`_coarse_assign`, at O(N x (kc + n_probe x k/kc)) instead of
    O(N x k).  Flat assignment against k ∝ N cells is quadratic in the
    corpus (measured: the knn_ivfpq scale probe read 13.7x wall per 4x
    data at n_cells = 8 x factor — SCALE.md round 10); the standard fix
    (faiss's IVF idea, certified linear here as
    :func:`semdedup_prune_two_level`) routes each vector through a small
    super-quantizer built by k-means over the k CELL CENTROIDS (k rows,
    cheap), then argmins only against the routed super-cell's fine
    cells.

    ``n_probe`` super-cells are probed per vector (multi-probe recovers
    boundary-straddlers); fine cells partition disjointly across
    super-cells, so multi-probe introduces no duplicate candidates and
    the argmin (same (-d, -cell) struct fold and tie-break as the flat
    path) stays deterministic.  **Exactness identity**: ``n_probe =
    n_coarse`` probes every super-cell — candidates become all k cells
    and the result equals :func:`_coarse_assign` row-for-row
    (property-tested); smaller n_probe trades exactness of the
    ASSIGNMENT (never of any distance) for the linear bound, the
    standard IVF recall trade."""
    import math

    k = cents.count()  # literal/broadcastable model frame — cheap
    kc = n_coarse if n_coarse is not None else max(2, int(math.sqrt(k)))
    fine = cents.select(F.col("cell").alias("fine"), F.col("cent"))
    sup = kmeans_update(fine, kmeans_lloyd(fine, n_clusters=kc, n_iter=0,
                                           id_col="fine", vec_col="cent"),
                        id_col="fine", vec_col="cent")
    cell_sup = (kmeans_assign(cents.select(F.col("cell").alias("f_id"),
                                           F.col("cent")),
                              sup, id_col="f_id", vec_col="cent")
                .select(F.col("f_id").alias("cell"),
                        F.col("cluster_id").alias("_sup")))
    routed_cents = F.broadcast(cents.join(cell_sup, "cell"))
    vecs = df.select(F.col(key_col), F.col(vec_col))
    vsup = (kmeans_assign_topn(vecs, sup, min(n_probe, kc),
                               id_col=key_col, vec_col=vec_col)
            .select(key_col, F.col("cluster_id").alias("_sup")))
    cand = (vecs.join(vsup, key_col).join(routed_cents, "_sup")
            .withColumn("_d", l2_sq(F.col(vec_col), F.col("cent"))))
    return (cand.groupBy(key_col)
            .agg(F.max(F.struct(
                (-F.col("_d")).alias("nd"),
                (-F.col("cell")).alias("nc"),
                F.col(vec_col).alias("v"),
                F.col("cent").alias("ct"))).alias("b"))
            .select(key_col,
                    (-F.col("b.nc")).cast("int").alias("cell"),
                    F.zip_with(F.col("b.v"), F.col("b.ct"),
                               lambda x, y: x.cast("double") - y)
                    .alias("resid")))


# AUTO threshold for the two-level coarse assignment: below this cell
# count flat assignment is cheap and exactness-of-assignment is what the
# registry oracles check; at or above it the build is in the k ∝ N
# posture where flat is the measured quadratic cliff (SCALE.md round 10:
# 13.7x wall per 4x data) and two-level routing on structured data
# agrees near-perfectly at assign_probe=2 (ANN.md round-11 planted-
# cluster table).  Pinned by test_two_level_auto_default.
TWO_LEVEL_AUTO_CELLS = 64


def opq_rotation(res: DataFrame, vec_col: str = "embedding",
                 rounds: int = 6, exact: bool = False,
                 balance_m: int | None = None) -> list[list[float]]:
    """OPQ-lite rotation (Ge et al., "Optimized Product Quantization",
    CVPR 2013 — public; the 'parametric' simplification): the FULL PCA
    eigenbasis of the residual covariance, used to rotate residuals
    before PQ so the m subspaces decorrelate — full OPQ alternates
    rotation and codebook optimization; the PCA-basis shortcut captures
    the decorrelation term, which is the dominant win when subspace
    variances are unbalanced (and measurably nothing on an isotropic
    corpus — ANN.md's posture table says which regime a corpus is in
    via the explained-variance dashboard).

    Mechanics: ONE distributed dim^2-bounded covariance fold over the
    residuals, then dim driver-side power-iteration + Hotelling
    deflation chains over the collected matrix (the
    :func:`power_iteration_local` discipline — bit-identical to the
    in-plan operators, no micro-job storm).  Deterministic: uniform
    start, fixed rounds, rounding at the shared 12-decimal points, so
    the rotation is a pure function of the residual set.  A component
    that deflates to the zero vector (rank-deficient residuals —
    fewer distinct residual directions than dims) falls back to the
    standard basis axis of its index, keeping R full so the rotated
    vector loses no coordinate; the fallback rows are not orthogonal
    to the found components in general, which is harmless here because
    corpus and queries rotate through the SAME matrix.  Returns
    ``R[r][j]`` (row r = component r).

    ``exact=True`` runs the chains with the package's 12-decimal
    Decimal discipline — bit-identical to the in-plan operators and to
    the generated SQL oracle (the ``opq_rotation_basis`` gate).  The
    default is the PLAIN-FLOAT twin: same algorithm, same start, same
    sequential evaluation order (deterministic IEEE — no BLAS, no
    parallel reduction), minus the per-term 1e-12 quantization.  The
    pipeline callers use it because NO oracle replays the 64-dim
    rotation values (the planted gate is rotation-agnostic by
    construction) and the Decimal path costs ~3 Decimal constructions
    per matrix term — measured 30s of pure driver arithmetic at dim 64
    vs ~0.3s for the float twin."""
    import math

    # the residual frame usually arrives as an AQE-coalesced single
    # partition (tiny shuffle output); the dim^2-per-row covariance
    # expand below is CPU-bound and would serialize on one core —
    # spread it across the executor cores first (the spread() trap:
    # it only widens FILE scans, not checkpointed/shuffled frames)
    if exact and balance_m:
        raise ValueError(
            "opq_rotation: balance_m composes with the float twin only — "
            "the exact path exists for the opq_rotation_basis oracle, "
            "which replays the UNBALANCED chain order")
    res = res.repartition(res.sparkSession.sparkContext.defaultParallelism)
    # exact path: the decimal fold the opq_rotation_basis oracle
    # replays; float twin: the Arrow/numpy accumulator (the planted
    # pipeline gates are rotation-agnostic, so the twin only needs a
    # deterministic near-orthogonal basis, not bit-replayable entries)
    cov, _ = (covariance_and_means if exact
              else covariance_and_means_arrow)(res, vec_col)
    rows = [(r["j"], r["k"], r["cov"]) for r in cov.collect()]
    dim = max(j for j, _k, _c in rows) + 1 if rows else 0
    basis: list[list[float]] = []
    if exact:
        for ci in range(dim):
            v = power_iteration_local(rows, dim, rounds)
            if all(x == 0.0 for x in v):
                v = [1.0 if j == ci else 0.0 for j in range(dim)]
            lam = rayleigh_local(rows, dim, v)
            basis.append(list(v))
            if ci + 1 < dim:
                rows = [(j, k, _round12(c - lam * v[j] * v[k]))
                        for j, k, c in rows]
        return basis
    mat = [[0.0] * dim for _ in range(dim)]
    for j, k, c in rows:
        mat[j][k] = c
    lams: list[float] = []
    for ci in range(dim):
        v = [1.0] * dim
        for _ in range(rounds):
            w = [sum(mat[j][k] * v[k] for k in range(dim))
                 for j in range(dim)]
            nrm = math.sqrt(sum(x * x for x in w))
            v = [x / nrm if nrm else 0.0 for x in w]
        if all(x == 0.0 for x in v):
            v = [1.0 if j == ci else 0.0 for j in range(dim)]
        lam = sum(v[j] * sum(mat[j][k] * v[k] for k in range(dim))
                  for j in range(dim))
        basis.append(list(v))
        lams.append(lam)
        if ci + 1 < dim:
            for j in range(dim):
                for k in range(dim):
                    mat[j][k] -= lam * v[j] * v[k]
    if balance_m:
        if len(lams) % balance_m:
            # dim not divisible by m: the PQ slicer handles the ragged
            # tail by truncation, but eigenvalue allocation assumes
            # equal subspaces — keep the unpermuted PCA order instead
            # of failing rotate=True calls that worked before balancing
            # existed (advice r13)
            import warnings
            warnings.warn(
                f"opq_rotation: dim {len(lams)} not divisible by "
                f"m={balance_m}; skipping eigenvalue allocation and "
                "keeping PCA component order", stacklevel=2)
        else:
            basis = [basis[i] for i in
                     _balance_allocation(lams, balance_m)]
    return basis


def _balance_allocation(lams: list[float], m: int) -> list[int]:
    """Eigenvalue allocation (Ge et al., CVPR 2013, parametric OPQ's
    SECOND half): permute the eigenbasis rows so each of the ``m`` PQ
    subspaces receives components of ~equal VARIANCE PRODUCT — greedy:
    eigenvalues in descending order, each to the least-loaded subspace
    (sum of log-eigenvalues) with a free slot.  Round 13 found this
    step load-bearing, not optional: PCA-only rotation CONCENTRATES a
    spiky spectrum into the leading subspace, and with a fixed per-
    subspace code budget that measurably HURTS quantization (ANN.md:
    +116%/+84% error on the planted-anisotropic regimes) — balancing is
    what turns decorrelation into a win there while leaving the
    near-flat-spectrum regime's ordering essentially unchanged.
    Returns the component order (subspace 0's rows first)."""
    import math

    dim = len(lams)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    order = sorted(range(dim), key=lambda i: (-lams[i], i))
    loads = [0.0] * m
    slots = [dsub] * m
    assign: list[list[int]] = [[] for _ in range(m)]
    for i in order:
        s = min((t for t in range(m) if slots[t] > 0),
                key=lambda t: (loads[t], t))
        assign[s].append(i)
        slots[s] -= 1
        loads[s] += math.log(max(lams[i], 1e-12))
    return [i for sub in assign for i in sub]


def _rotate_expr(vec, rotation: list[list[float]]):
    """Row-local rotated vector: component r = decimal-fold dot of the
    input with R[r], rounded to 9 (portable double) — dim x dim literal
    multiplies per row, riding the scan like the JL projection; no
    shuffle, no Python.  Right-sized for the QUERY side (tens of
    residual rows): the expression tree is dim fold aggregates wide,
    which Catalyst evaluates interpreted — use :func:`_rotate_frame`
    for corpus-sized inputs."""
    comps = [
        F.round(_dec_sum(F.zip_with(
            vec, F.array(*[F.lit(w) for w in row]),
            lambda x, ww: F.round(x.cast("double") * ww, 12))), 9)
        for row in rotation]
    return F.array(*comps)


def _rot_fixed_image_huge(t: float) -> int:
    """The scaled-int image of the RELATIONAL rotation fold's per-element
    chain for magnitudes past `_halfup_fixed`'s fast path:
    ``Round(t, 12)`` (double) -> ``* 1e12`` -> ``Round(·, 0)::bigint``.
    Unlike :func:`_round12_fixed_image` this stays in doubles between the
    two Rounds, exactly like the plan does."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    q12 = Decimal(1).scaleb(-12)
    with localcontext() as ctx:
        ctx.prec = 340
        if abs(t) >= 2.0 ** 53:
            d1 = float(Decimal(t).quantize(q12, ROUND_HALF_UP))
        else:
            d1 = float(Decimal(repr(t)).quantize(q12, ROUND_HALF_UP))
        t2 = d1 * 1e12
        if abs(t2) >= 2.0 ** 53:
            n = Decimal(t2).quantize(Decimal(1), ROUND_HALF_UP)
        else:
            n = Decimal(repr(t2)).quantize(Decimal(1), ROUND_HALF_UP)
        return int(float(n))


def _rotate_frame(df: DataFrame, id_col: str | list[str], vec_col: str,
                  rotation: list[list[float]]) -> DataFrame:
    """Rotation of a whole frame: ONE Arrow map computes the per-row
    (dim x dim) fixed-point product fold in numpy (optimization r15,
    guide §4.2) — the posexplode -> broadcast-join -> two-exchange
    aggregate this replaces is kept as :func:`_rotate_frame_relational`
    and pinned by test_rotate_frame_matches_relational.  Per-element
    image identical to the relational fold: round(x*w, 12) -> scaled
    int (`_halfup_fixed`; the double d1*1e12 round-trip of the
    relational form lands on the same integer), integer sums, and
    fp/1e12 -> double -> round 9.  Row semantics reproduced exactly:
    a NULL (or empty) vector row is DROPPED (posexplode emits no rows),
    NULL/non-finite elements are skipped by the sum, an all-skipped
    component is NULL, ragged rows fold only their present positions,
    and positions past the rotation's width drop (the j-join)."""
    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    import numpy as np
    import pandas as pd  # noqa: F401 — fail fast if Arrow unavailable

    dim_r = len(rotation)
    dim_j = len(rotation[0]) if dim_r else 0
    W = np.asarray(rotation, dtype=np.float64)  # (r, j)
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    key_ts = ", ".join(
        f"{k} {df.schema[k].dataType.simpleString()}" for k in keys)
    schema = f"{key_ts}, {vec_col} array<double>"

    def run(batches):
        import numpy as np
        import pandas as pd
        from localsql_spark.operators.multimodal import _halfup_fixed

        for pdf in batches:
            out_keys: dict[str, list] = {k: [] for k in keys}
            out_vecs: list = []
            for i, v in enumerate(pdf[vec_col]):
                if v is None:
                    continue  # posexplode(NULL): row dropped
                try:
                    a = np.asarray(v, dtype=np.float64)
                except (TypeError, ValueError):
                    a = np.asarray([np.nan if e is None else float(e)
                                    for e in v], dtype=np.float64)
                if a.ndim != 1 or a.shape[0] == 0:
                    continue  # empty array: no exploded rows either
                a = a[:dim_j]  # positions past the rotation width drop
                ok = np.isfinite(a)
                if not ok.any():
                    # every element skipped: fp NULL for every r
                    out_vecs.append([None] * dim_r)
                    for k in keys:
                        out_keys[k].append(pdf[k].iloc[i])
                    continue
                Z = np.where(ok, a, 0.0)
                # (r, j) product grid -> per-element fixed image -> int
                # sums over j.  |round12(x*w)| <= 4e3*1e12 under the
                # escape; dim_j <= 2048 keeps int64 sums exact.
                P = Z[None, :] * W[:, :len(Z)]
                huge = np.abs(P) > 4e3
                R = _halfup_fixed(np.where(huge, 0.0, P).reshape(-1), 12) \
                    .reshape(P.shape)
                if huge.any():
                    Ro = R.astype(object)
                    for r_i, j_i in zip(*np.nonzero(huge)):
                        # the relational form goes double->double here
                        # (Round(x*w,12) then Round(d1*1e12,0)::bigint),
                        # which past the fast path is NOT the decimal
                        # image — reproduce that exact double chain
                        Ro[r_i, j_i] = _rot_fixed_image_huge(
                            float(P[r_i, j_i]))
                    R = Ro
                R[:, ~ok[:len(Z)]] = 0
                fp = R.sum(axis=1)
                # fp -> double -> /1e12 -> Round 9 (the relational form's
                # long->double cast, correctly-rounded division, Round)
                vec_out: list = []
                for r_i in range(dim_r):
                    x9 = float(int(fp[r_i])) / 1e12
                    if abs(x9) > 4e3:
                        vec_out.append(_round9_image(x9))
                    else:
                        vec_out.append(
                            float(_halfup_fixed(
                                np.asarray([x9]), 9)[0]) / 1e9)
                out_vecs.append(vec_out)
                for k in keys:
                    out_keys[k].append(pdf[k].iloc[i])
            res = {k: out_keys[k] for k in keys}
            res[vec_col] = out_vecs
            yield pd.DataFrame(res)

    # widen first (the input is typically an AQE-coalesced 1-partition
    # frame and the per-row dim x dim fold is CPU-bound); consumers
    # (PQ train / encode) run their own per-row expands at this width
    return df.repartition(dp).select(*keys, vec_col) \
        .mapInPandas(run, schema=schema)


def _rotate_frame_relational(df: DataFrame, id_col: str | list[str],
                             vec_col: str,
                             rotation: list[list[float]]) -> DataFrame:
    """The in-plan rotation (posexplode -> broadcast (r, j, w) rotation
    table -> one map-side-combined fixed-point aggregate per (row,
    component) -> re-assemble the array) — the equivalence reference for
    :func:`_rotate_frame`.  Bit-identical to :func:`_rotate_expr`
    (round(x*w, 12) products; the exact fixed-point long sum equals the
    decimal sum under the pHash magnitude bound, and fp/1e12
    cast-to-double rounds once exactly like CAST(decimal AS DOUBLE))."""
    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    spark = df.sparkSession
    dp = spark.sparkContext.defaultParallelism
    rot_tbl = F.broadcast(spark.createDataFrame(
        [(r, j, w) for r, row in enumerate(rotation)
         for j, w in enumerate(row)], "r int, j int, w double"))
    # widen first: the input is typically an AQE-coalesced 1-partition
    # frame, and the dim x dim expand below is CPU-bound row-local work
    e = (df.repartition(dp)
         .select(*keys, F.posexplode(F.col(vec_col)).alias("j", "x")))
    co = (e.join(rot_tbl, "j")
          .groupBy(*keys, "r")
          .agg(F.sum(F.round(F.round(F.col("x").cast("double")
                                     * F.col("w"), 12)
                             * F.lit(1e12)).cast("bigint")).alias("fp")))
    # re-widen on the way out for the same reason: consumers (PQ train /
    # encode) immediately run their own per-row expands
    return (co.groupBy(*keys)
            .agg(F.transform(
                F.sort_array(F.collect_list(F.struct(
                    "r",
                    F.round(F.col("fp").cast("double") / F.lit(1e12), 9)
                    .alias("val")))),
                lambda st: st["val"]).alias(vec_col))
            .repartition(dp))


def knn_ivfpq_adc(corpus: DataFrame, queries: DataFrame, k: int = 5,
                  n_cells: int = 8, n_probe: int = 4, m: int = 4,
                  k_codes: int = 16, n_iter: int = 1,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  exclude_self: bool = False,
                  two_level_assign: bool | None = None,
                  assign_probe: int = 2,
                  rotate: bool = False) -> DataFrame:
    """IVFADC approximate kNN (Jégou et al., "Product Quantization for
    Nearest Neighbor Search", TPAMI 2011, §V — public algorithm): coarse-
    quantize vectors into ``n_cells`` inverted lists, product-quantize
    the RESIDUAL vector - centroid (residuals concentrate around zero, so
    the same code budget quantizes them far more finely than raw
    vectors), and answer queries by scanning only the ``n_probe`` nearest
    lists with a per-(query, cell) asymmetric-distance lookup table.
    This is the composition behind essentially every billion-scale ANN
    deployment: IVF bounds WHAT is scanned, PQ bounds the BYTES per
    scanned row.

    Scale shape: the coarse quantizer is n_cells literal rows (broadcast
    everywhere); corpus assignment is one broadcast crossJoin + map-side
    argmin fold (the exchange carries one row per vector); the stored
    index is the narrow (id, cell, s, code) codes table — ~m bytes per
    vector; the LUT is |queries| x n_probe x m x k_codes rows
    (broadcast); candidate scoring partial-aggregates map-side, and no
    shuffle anywhere carries float vectors.  Restricting the LUT join to
    the probed (query, cell) pairs prunes the ~(1 - n_probe/n_cells)
    fraction of the corpus without ever reading it — the inverted-list
    prune, expressed relationally.

    Deterministic + oracle-expressible by the same discipline as the
    seeded IVF and PQ operators: coarse centroids are the n_cells
    smallest ids, PQ codebooks seed from the k_codes smallest ids'
    residual subvectors, distances use the decimal-sum fold.  Returns
    (query_id, neighbor_id, adc_dist, rn).
    """
    from pyspark.sql.window import Window

    cents = _coarse_cells(corpus, n_cells, id_col, vec_col)

    # ---- index build: cell + residual per corpus vector, PQ on residuals
    # (two_level_assign routes through a super-quantizer for k ∝ N
    # postures — O(N*sqrt(k)) build instead of O(N*k); assignment-
    # approximate, distance-exact.  None = AUTO: two-level at
    # n_cells >= TWO_LEVEL_AUTO_CELLS, flat below — so the exact-oracled
    # small-cell registry queries stay flat while a production-sized
    # build gets the linear bound without opting in.)
    if two_level_assign is None:
        two_level_assign = n_cells >= TWO_LEVEL_AUTO_CELLS
    if two_level_assign:
        c = coarse_assign_two_level(
            spread(corpus).select(id_col, vec_col), cents, id_col,
            vec_col, n_probe=assign_probe)
    else:
        c = _coarse_assign(spread(corpus).select(id_col, vec_col), cents,
                           id_col, vec_col)
    # assignment feeds train AND encode; the checkpoint freezes partition
    # width, so widen the AQE-coalesced exchange FIRST (small-input regime
    # only — spread_derived is a no-op at scale) or every downstream
    # residual/PQ-train fold serializes on 1-2 tasks
    c = spread_derived(c, corpus).localCheckpoint(eager=False)
    res = c.select(id_col, F.col("resid").alias(vec_col))
    # OPQ-lite (rotate=True): rotate residuals into the eigenbasis of
    # their covariance before PQ so subspaces decorrelate (opq_rotation
    # docstring; query residuals rotate through the SAME matrix in the
    # LUT below, so ADC distances are computed consistently in the
    # rotated space — an orthogonal transform preserves L2)
    rotation = None
    if rotate:
        rotation = opq_rotation(res, vec_col, balance_m=m)
        # codegen'd corpus rotation, materialized ONCE (dim doubles per
        # row, the centroid-collect license): pq_train's Lloyd round,
        # pq_encode, and the codes join each consume the rotated frame
        res = _rotate_frame(res, id_col, vec_col, rotation) \
            .localCheckpoint(eager=True)
    # train the codebooks on residuals ABOVE the coarse seeds: ids
    # < n_cells ARE the coarse centroids, so their residuals are
    # identically zero — seeding pq_train there collapses every codebook
    # entry onto the zero vector and the ADC sum degenerates to a
    # constant (measured: every in-cell neighbor tied at one distance)
    codebooks = pq_train(res.filter(F.col(id_col) >= n_cells), m, k_codes,
                         n_iter, id_col, vec_col)
    codes = (pq_encode(res, codebooks, m, id_col, vec_col)
             .join(c.select(id_col, "cell"), id_col)
             .select(F.col(id_col).alias("neighbor_id"),
                     "cell", "s", "code"))

    # ---- query side + ADC scan (shared with the persisted-index probe)
    lut = _ivfpq_lut(queries, cents, codebooks, m, n_probe, id_col, vec_col,
                     rotation=rotation)
    return _ivfpq_adc_scan(codes, lut, k, exclude_self)


def _ivfpq_lut(queries: DataFrame, cents: DataFrame, codebooks: DataFrame,
               m: int, n_probe: int, id_col: str,
               vec_col: str,
               rotation: list[list[float]] | None = None) -> DataFrame:
    """Query-side IVFADC preparation: route each query to its ``n_probe``
    nearest coarse cells, compute the per-cell residual, and build the
    per-(query, cell) asymmetric-distance lookup table — |queries| x
    n_probe x m x k_codes rows, broadcastable at any corpus size.
    ``rotation`` (OPQ-lite) rotates the per-cell residual through the
    same matrix the corpus residuals were encoded under."""
    from pyspark.sql.window import Window

    q = queries.select(F.col(id_col).alias("query_id"), vec_col)
    qscored = (q.crossJoin(F.broadcast(cents))
               .withColumn("_d", l2_sq(F.col(vec_col), F.col("cent"))))
    wq = Window.partitionBy("query_id").orderBy("_d", "cell")
    resid = F.zip_with(F.col(vec_col), F.col("cent"),
                       lambda x, y: x.cast("double") - y)
    qprobe = (qscored.withColumn("_rn", F.row_number().over(wq))
              .filter(F.col("_rn") <= n_probe)
              .select("query_id", "cell", resid.alias("resid")))
    if rotation is not None:
        # frame-path rotation (same arithmetic as the corpus side — the
        # dim-wide _rotate_expr tree costs seconds of driver/codegen
        # time even over a handful of probe rows)
        qprobe = _rotate_frame(qprobe, ["query_id", "cell"], "resid",
                               rotation)
    dsub = (F.size("_v") / F.lit(m)).cast("int")
    qsub = (qprobe
            .select("query_id", "cell", F.col("resid").alias("_v"),
                    F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("s"))
            .select("query_id", "cell", "s",
                    F.slice(F.col("_v"), F.col("s") * dsub + 1, dsub)
                    .alias("v")))
    return (qsub.join(F.broadcast(codebooks), "s")
            .select("query_id", "cell", "s", "code",
                    l2_sq(F.col("v"), F.col("cent")).alias("d")))


def _ivfpq_adc_scan(codes: DataFrame, lut: DataFrame, k: int,
                    exclude_self: bool) -> DataFrame:
    """ADC scan of the probed lists: codes equi-join the broadcast LUT on
    the inverted-list triple, partial-aggregate the decimal distance sum
    map-side, window top-k per query."""
    from pyspark.sql.window import Window

    scored = codes.join(F.broadcast(lut), ["cell", "s", "code"])
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    scored = (scored.groupBy("query_id", "neighbor_id")
              .agg(F.round(F.sum(F.round(F.col("d"), 12)
                                 .cast("decimal(28,12)")).cast("double"), 9)
                   .alias("adc_dist")))
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))


@locked_by("path")
def write_ivfpq_index(corpus: DataFrame, path: str, n_cells: int = 8,
                      m: int = 4, k_codes: int = 16, n_iter: int = 1,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      two_level_assign: bool | None = None,
                      assign_probe: int = 2,
                      rotate: bool = False) -> None:
    """Persist the IVFADC index :func:`knn_ivfpq_adc` builds per call:
    the m-rows-per-vector codes table (neighbor_id, s, code)
    hive-partitioned BY CELL under ``codes/``, the n_cells-row coarse
    centroid table under ``_centroids/`` and the m x k_codes codebook
    table under ``_codebooks/``.  This is the representation behind
    billion-scale ANN serving: ~m BYTES per vector on disk (vs 8*dim for
    the float row — the persisted IVF index stores full vectors), probes
    read only the probed cells' partitions, and the float corpus is
    never touched at query time.  Same deterministic seeding as the
    in-memory operator, so the persisted probe shares its exact oracle.

    Crash-safe in-place retrain (advisor r12): the whole index —
    centroids, optional OPQ ``_rotation``, codebooks, codes — is built
    into a sibling ``.<name>.build`` staging dir and committed with ONE
    atomic generation-pointer flip (the ``rebuild_nonretractable``
    pattern, ``sinks.generations``), so model state commits ATOMICALLY
    as a set and concurrent readers never see a missing index.  The old non-atomic in-place
    write could crash between the rotation overwrite and the codes
    rewrite, leaving a live index whose served codes were encoded in a
    DIFFERENT basis than the persisted rotation — ADC distances then
    silently compute in the wrong basis.  A mid-build crash now leaves
    the previous index generation serving untouched."""
    import shutil as _shutil
    from pathlib import Path as _P

    from localsql_spark.sinks.erase import _swap_rebuilt
    from localsql_spark.sinks.merge import recover_pending_merge

    dst = _P(path)
    dst.parent.mkdir(parents=True, exist_ok=True)
    # APPLY (never discard) any pending partial-erase manifest on the
    # LIVE codes table first: a crashed ivfpq_erase_vectors run that died
    # between its manifest commit and the partition swaps has COMMITTED
    # the erasure — retraining and swapping without applying it would
    # drop the manifest with the old generation, but a crash BEFORE this
    # build's swap must leave a live index on which the committed erase
    # still completes (readers heal it).  Applying it also closes the
    # stale-replay hazard (pre-retrain codes encoded with the old
    # codebooks can no longer be replayed over the fresh index).
    codes_base = dst / "codes"
    recover_pending_merge(str(codes_base))
    # an UNCOMMITTED staging leftover (crash before manifest rename) is
    # discardable — the erase never committed
    _shutil.rmtree(codes_base.parent / f".{codes_base.name}.staging",
                   ignore_errors=True)
    build = dst.parent / f".{dst.name}.build"
    _shutil.rmtree(build, ignore_errors=True)
    path = str(build)  # every model table below stages here
    cents = _coarse_cells(corpus, n_cells, id_col, vec_col)
    cents.write.mode("overwrite").parquet(f"{path}/_centroids")
    # same AUTO default as knn_ivfpq_adc: flat assignment below
    # TWO_LEVEL_AUTO_CELLS (exact, cheap), super-quantizer routing at or
    # above it (the k ∝ N posture where flat is quadratic)
    if two_level_assign is None:
        two_level_assign = n_cells >= TWO_LEVEL_AUTO_CELLS
    if two_level_assign:
        c = coarse_assign_two_level(
            spread(corpus).select(id_col, vec_col), cents, id_col,
            vec_col, n_probe=assign_probe)
    else:
        c = _coarse_assign(spread(corpus).select(id_col, vec_col), cents,
                           id_col, vec_col)
    # assignment feeds train AND encode; the checkpoint freezes partition
    # width, so widen the AQE-coalesced exchange FIRST (small-input regime
    # only — spread_derived is a no-op at scale) or every downstream
    # residual/PQ-train fold serializes on 1-2 tasks
    c = spread_derived(c, corpus).localCheckpoint(eager=False)
    res = c.select(id_col, F.col("resid").alias(vec_col))
    if rotate:  # OPQ-lite: persist R so the probe rotates identically
        rotation = opq_rotation(res, vec_col, balance_m=m)
        # codegen'd corpus rotation, materialized once (see
        # knn_ivfpq_adc)
        res = _rotate_frame(res, id_col, vec_col, rotation) \
            .localCheckpoint(eager=True)
        spark = corpus.sparkSession
        (spark.createDataFrame(
            [(r, j, w) for r, row in enumerate(rotation)
             for j, w in enumerate(row)], "r int, j int, w double")
         .coalesce(1).write.mode("overwrite")
         .parquet(f"{path}/_rotation"))
    # (no rotate=False cleanup: the staged build simply lacks _rotation,
    # and the swap replaces the whole index dir)
    codebooks = pq_train(res.filter(F.col(id_col) >= n_cells), m, k_codes,
                         n_iter, id_col, vec_col)
    codebooks.write.mode("overwrite").parquet(f"{path}/_codebooks")
    (pq_encode(res, codebooks, m, id_col, vec_col)
     .join(c.select(id_col, "cell"), id_col)
     .select(F.col(id_col).alias("neighbor_id"), "s", "code", "cell")
     .repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell").parquet(f"{path}/codes"))
    _swap_rebuilt(dst, build)  # COMMIT — one atomic flip, whole index


def knn_ivfpq_from_index(spark: SparkSession, index_path: str,
                         queries: DataFrame, k: int = 5, n_probe: int = 4,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding",
                         exclude_self: bool = False) -> DataFrame:
    """IVFADC kNN against the PERSISTED index: identical results to
    :func:`knn_ivfpq_adc` over the same corpus/seeds (shares its exact
    oracle), but the per-batch cost is two tiny model reads (centroids,
    codebooks — broadcast) plus a PARTITION-PRUNED scan of the probed
    cells' codes partitions (plan-asserted) — the index is never
    rebuilt, no float vector is read.  Returns (query_id, neighbor_id,
    adc_dist, rn)."""
    # crash-consistent read: a crashed ivfpq_erase_vectors (died between
    # manifest commit and partition swap) must not leave erased PQ codes
    # servable — complete the committed erase before probing, mirroring
    # read_bucketed_store/read_join_view
    from localsql_spark.sinks.merge import recover_pending_merge
    recover_pending_merge(f"{index_path}/codes")
    cents_read = spark.read.parquet(f"{index_path}/_centroids")
    cents = spark.createDataFrame(cents_read.collect(),
                                  schema=cents_read.schema)
    codebooks_read = spark.read.parquet(f"{index_path}/_codebooks")
    codebooks = spark.createDataFrame(codebooks_read.collect(),
                                      schema=codebooks_read.schema)
    m = codebooks_read.agg(F.max("s")).first()[0] + 1
    # OPQ-lite index: the persisted rotation is model state (dim^2
    # doubles) — query residuals must rotate through the SAME matrix
    # the codes were encoded under
    from pathlib import Path as _P
    rotation = None
    rot_dir = _P(f"{index_path}/_rotation")
    if rot_dir.exists() and any(rot_dir.glob("*.parquet")):
        rrows = spark.read.parquet(str(rot_dir)).collect()
        dim_r = max(r["r"] for r in rrows) + 1
        dim_j = max(r["j"] for r in rrows) + 1
        rotation = [[0.0] * dim_j for _ in range(dim_r)]
        for r in rrows:
            rotation[r["r"]][r["j"]] = r["w"]
    lut = _ivfpq_lut(queries, cents, codebooks, m, n_probe, id_col,
                     vec_col, rotation=rotation)
    # touched-cell list: bounded by n_cells whatever the batch size
    probed = sorted({r[0] for r in
                     lut.select("cell").distinct().collect()})
    codes = (spark.read.option("basePath", f"{index_path}/codes")
             .parquet(f"{index_path}/codes")
             .filter(F.col("cell").isin(probed)))
    return _ivfpq_adc_scan(codes, lut, k, exclude_self)


def knn_ivfpq_rerank(corpus: DataFrame, queries: DataFrame, k: int = 5,
                     shortlist: int = 20, n_cells: int = 8,
                     n_probe: int = 4, m: int = 4, k_codes: int = 16,
                     n_iter: int = 1, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     exclude_self: bool = False,
                     rotate: bool = False) -> DataFrame:
    """IVFADC shortlist -> exact cosine re-rank: the full production ANN
    stack (IVF bounds what is scanned, PQ bounds bytes per scanned row,
    the re-rank restores exact top-k quality on the shortlist).  Same
    contract as :func:`knn_pq_rerank` with the inverted-list prune in
    front: only the probed lists are ADC-scored, and only the
    |queries| x shortlist candidate vectors ever stream through the
    broadcast re-rank join.  Returns (query_id, neighbor_id, cos_sim,
    rn); recall loss is confined to candidates outside the probed cells
    or ranked below ``shortlist`` by ADC."""
    from pyspark.sql.window import Window

    cand = (knn_ivfpq_adc(corpus, queries, k=shortlist, n_cells=n_cells,
                          n_probe=n_probe, m=m, k_codes=k_codes,
                          n_iter=n_iter, id_col=id_col, vec_col=vec_col,
                          exclude_self=exclude_self, rotate=rotate)
            .select("query_id", "neighbor_id"))
    nv = corpus.select(F.col(id_col).alias("neighbor_id"),
                       F.col(vec_col).alias("cv"))
    re = arrow_cosine_lookup(  # one Arrow map: dot + norms (r14);
        # query vectors ride the task closure, not a broadcast join
        nv.join(F.broadcast(cand), "neighbor_id"),
        "cos_sim", "query_id", "cv",
        _collect_query_vectors(queries, id_col, vec_col),
        keep=["query_id", "neighbor_id"])
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(),
                                               "neighbor_id")
    return (re.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k))


def hybrid_bm25_cosine_topk(docs: DataFrame, emb: DataFrame,
                            terms: list[str], query_vec_id: int = 0,
                            shortlist: int = 50, k: int = 10,
                            doc_id_col: str = "doc_id",
                            text_col: str = "text") -> DataFrame:
    """Two-stage hybrid retrieval — the production RAG shape: a cheap
    LEXICAL stage (BM25 over an inverted index) shortlists candidates,
    then a SEMANTIC stage re-ranks only the shortlist by embedding
    cosine against a query vector.  The division of labor is the scale
    argument: BM25's inverted index prunes the corpus with term-key
    aggregates (never touching a vector), and the expensive
    vector math runs on exactly ``shortlist`` rows however large the
    corpus — the same shortlist-then-rerank discipline as
    :func:`knn_ivfpq_rerank`, with a lexical first stage instead of a
    coarse quantizer.

    Output: ``(doc_id, bm25_score, cos_sim, rk)`` — top ``k`` by
    semantic rank (ties on doc_id).  Both stages inherit their
    components' determinism contracts (bm25_scores' decimal folds,
    cosine's decimal dot), so the result is engine-exact.

    Plan shape: stage 1 is bm25_topk's TakeOrderedAndProject (k rows per
    partition, no global sort); stage 2 broadcasts the shortlist AND the
    single query vector, so the embeddings table is probed with one
    broadcast-hash join and zero vector shuffles.
    """
    from pyspark.sql.window import Window

    from localsql_spark.operators.text import bm25_topk

    short = (bm25_topk(docs, terms, k=shortlist, doc_id_col=doc_id_col,
                       text_col=text_col)
             .select(F.col(doc_id_col).alias("doc_id"),
                     F.col("score").alias("bm25_score")))
    qv = (emb.filter(F.col("vec_id") == query_vec_id)
          .select(F.col("embedding").alias("qv"))
          .withColumn("qn", norm(F.col("qv"))))
    cand = (emb.select(F.col("vec_id").alias("doc_id"),
                       F.col("embedding").alias("cv"))
            .join(F.broadcast(short), "doc_id")
            .withColumn("cn", norm(F.col("cv"))))
    # NOT the Arrow scorer: the shortlist is tens of rows, where a map
    # stage's fixed cost exceeds the fold (r14 A/B: hybrid 1.68s -> 2.20s
    # under the Arrow map; reverted)
    scored = (cand.crossJoin(F.broadcast(qv))
              .select("doc_id", "bm25_score",
                      cosine_pre(F.col("qv"), F.col("cv"),
                                 F.col("qn"), F.col("cn"))
                      .alias("cos_sim")))
    w = Window.orderBy(F.col("cos_sim").desc(), "doc_id")
    return (scored.orderBy(F.col("cos_sim").desc(), "doc_id").limit(k)
            .withColumn("rk", F.row_number().over(w)))


def bm25_hard_negatives(docs: DataFrame, emb: DataFrame,
                        terms: list[str], query_vec_id: int = 0,
                        shortlist: int = 50, k: int = 10,
                        max_cos: float = 0.5,
                        doc_id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Hard-negative mining for contrastive retriever training — the DPR
    recipe (Karpukhin et al., arXiv:2004.04906 §3.2: the best negatives
    are BM25-retrieved passages that do NOT contain the answer):
    candidates that are LEXICALLY relevant (inside the BM25 shortlist)
    but SEMANTICALLY far from the query vector (cosine <= ``max_cos``),
    ranked by descending lexical score — the confusable examples a dense
    retriever must learn to push away, where random negatives teach it
    nothing.

    Output: ``(doc_id, bm25_score, cos_sim, rk)``, top ``k`` by
    (bm25_score desc, doc_id).  Same two-stage cost shape as
    :func:`hybrid_bm25_cosine_topk` — the vector math touches exactly
    ``shortlist`` rows however large the corpus — and the same
    engine-exact determinism (decimal BM25 folds, decimal cosine,
    threshold compared on the 9-rounded cosine).
    """
    from pyspark.sql.window import Window

    from localsql_spark.operators.text import bm25_topk

    short = (bm25_topk(docs, terms, k=shortlist, doc_id_col=doc_id_col,
                       text_col=text_col)
             .select(F.col(doc_id_col).alias("doc_id"),
                     F.col("score").alias("bm25_score")))
    qv = (emb.filter(F.col("vec_id") == query_vec_id)
          .select(F.col("embedding").alias("qv"))
          .withColumn("qn", norm(F.col("qv"))))
    cand = (emb.select(F.col("vec_id").alias("doc_id"),
                       F.col("embedding").alias("cv"))
            .join(F.broadcast(short), "doc_id")
            .withColumn("cn", norm(F.col("cv"))))
    # relational on purpose: shortlist-sized input (see
    # hybrid_bm25_cosine_topk's r14 A/B note)
    scored = (cand.crossJoin(F.broadcast(qv))
              .select("doc_id", "bm25_score",
                      cosine_pre(F.col("qv"), F.col("cv"),
                                 F.col("qn"), F.col("cn"))
                      .alias("cos_sim"))
              .filter(F.col("cos_sim") <= max_cos))
    w = Window.orderBy(F.col("bm25_score").desc(), "doc_id")
    return (scored.orderBy(F.col("bm25_score").desc(), "doc_id").limit(k)
            .withColumn("rk", F.row_number().over(w)))


@locked_by("index_path")
def ivfpq_erase_vectors(spark: SparkSession, index_path: str,
                        keys: DataFrame) -> list:
    """Right-to-be-forgotten PROPAGATION into the persisted IVFPQ index:
    remove the erased vectors' code rows, so a post-erasure
    :func:`knn_ivfpq_from_index` probe can never return (or be biased
    toward) an erased subject — PQ codes reconstruct the vector to within
    quantization error, so leaving them behind retains the embedding.

    Touched cells come from the codes table itself: one pass over its
    (neighbor_id, cell) columns — the index is the m-bytes-per-vector
    compact representation, so this pass is index-sized, not corpus-sized
    — then only those ``cell=`` partitions rewrite through the manifest
    protocol (emptied cells commit as removals).

    The MODEL tables (``_centroids``, ``_codebooks``) are trained
    aggregates, not per-subject state: the erased vectors' residual
    influence on the trained codebooks is not retractable row-by-row
    (same class as NB additive counts and HLL registers — documented
    rebuild policy: periodic retrain via :func:`write_ivfpq_index`
    refreshes the models; until then probes serve the erased corpus
    through slightly stale quantizers, which affects recall only, never
    returns erased ids).  Returns the rewritten cell values."""
    import json
    import os
    import shutil
    from pathlib import Path

    from localsql_spark.sinks.merge import (_apply_manifest, _manifest_path,
                                            recover_pending_merge)

    codes_dir = f"{index_path}/codes"
    recover_pending_merge(codes_dir)
    from localsql_spark.sinks.erase import normalize_erase_keys
    k = normalize_erase_keys(keys)
    codes = spark.read.option("basePath", codes_dir).parquet(codes_dir)
    touched = sorted({r[0] for r in (
        codes.join(F.broadcast(k),
                   F.col("neighbor_id") == F.col("_erase_key"), "semi")
        .select("cell").distinct().collect())})
    if not touched:
        return []
    kept = (codes.filter(F.col("cell").isin(touched))
            .join(F.broadcast(k),
                  F.col("neighbor_id") == F.col("_erase_key"), "left_anti"))
    base = Path(codes_dir)
    staging = base.parent / f".{base.name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    (kept.repartition(F.col("cell"))
     .write.mode("overwrite").partitionBy("cell")
     .parquet(str(staging)))
    # cell is an int partition value — path-safe, removals commit by name
    from localsql_spark.sinks.merge import commit_staged_partitions
    commit_staged_partitions(codes_dir, "cell",
                             [f"cell={c}" for c in touched])
    return touched


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (Achlioptas 2001, public)
# ---------------------------------------------------------------------------

def jl_signs(dim: int, out_dim: int, seed: str = "jl") -> list[list[float]]:
    """Hash-derived ±1 projection matrix (Achlioptas, "Database-friendly
    random projections", PODS 2001 — public: JL with entries drawn from
    {+1,-1} preserves pairwise distances with the same guarantee as
    Gaussian entries).  ``s[k][j] = +1 if hash32(f"{seed}:{j}:{k}")
    even else -1`` — no RNG state, so the matrix is a pure function of
    (seed, dim, out_dim): reproducible across runs and cluster sizes,
    regenerable on any executor, and replayable in the DuckDB oracle
    from the same md5 idiom.  dim*out_dim entries (64x16 = 1 KiB of
    literals) — broadcast-free, they ride in the plan."""
    import hashlib

    def h32(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    return [[1.0 if h32(f"{seed}:{j}:{k}") % 2 == 0 else -1.0
             for j in range(dim)] for k in range(out_dim)]


def jl_project(df: DataFrame, vec_col: str = "embedding",
               out_col: str = "jl_vec", out_dim: int = 16,
               dim: int | None = None, seed: str = "jl") -> DataFrame:
    """Project ``vec_col`` (array<float>, length ``dim``) to ``out_dim``
    dimensions: ``out[k] = round(sum_j v[j]*s[k][j] / sqrt(out_dim), 9)``
    — ROW-LOCAL, so at 100 TB it rides the scan for free.  The point at
    scale: every distance computed downstream costs out_dim/dim as much
    (4x compression here), and because JL preserves inner products in
    expectation, the projected space is a drop-in for shortlist
    generation — rerank survivors with full vectors when exactness
    matters (same two-stage pattern as pq_shortlist_rerank).

    Optimization r15 (guide §4.2): ONE Arrow map computes the projection
    as an integer matmul of the per-element fixed-point images against
    the ±1 sign matrix — sign * HALF_UP(x) == HALF_UP(sign * x) (HALF_UP
    is symmetric), integer addition is associative, and the
    decimal->double cast is a correctly-rounded division — so the result
    is the bit-exact image of the interpreted zip_with decimal fold
    (`_dec_sum` per component), which cost ~0.9 ms/row and, worse,
    evaluated INSIDE the pre-spread scan stage: the sf1.0 profile
    measured the whole corpus projection serialized on ONE task for
    17.7 s.  NULL / ragged / NULL-element / non-finite vectors emit
    ``out_dim`` NULL components exactly like the fold's NULL collapse
    (every component sums over every position).  Relational twin kept as
    :func:`jl_project_relational`, pinned by
    test_jl_project_matches_relational."""
    import pandas as pd  # noqa: F401 — fail fast if Arrow unavailable

    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "jl_project: empty corpus (or null first vector) — pass "
                "dim= explicitly to project a possibly-empty frame")
        dim = len(first[0])
    if dim > 2048:  # int64 matmul bound: d * 4.0001e15 < 2^63
        return jl_project_relational(df, vec_col, out_col, out_dim, dim,
                                     seed)
    import numpy as np

    signs = jl_signs(dim, out_dim, seed)
    scale = float(out_dim) ** 0.5
    S_T = np.asarray(signs, dtype=np.int64).T  # (dim, out_dim)
    in_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                          for f in df.schema)
    schema = f"{in_schema}, {out_col} array<double>"

    def run(batches):
        import numpy as np
        import pandas as pd  # noqa: F401
        from localsql_spark.operators.multimodal import _halfup_fixed

        for pdf in batches:
            n = len(pdf)
            out: list = [None] * n
            clean_idx, clean_rows = [], []
            for i, v in enumerate(pdf[vec_col]):
                a = None
                if v is not None:
                    try:
                        a = np.asarray(v, dtype=np.float64)
                    except (TypeError, ValueError):
                        a = None
                if (a is None or a.ndim != 1 or a.shape[0] != dim
                        or not np.isfinite(a).all()):
                    # the fold's NULL collapse: every component is NULL
                    out[i] = [None] * out_dim
                else:
                    clean_idx.append(i)
                    clean_rows.append(a)
            if clean_rows:
                X = np.stack(clean_rows)
                hugerow = (np.abs(X) > 4e3).any(axis=1)
                Xf = np.where(hugerow[:, None], 0.0, X)
                R = _halfup_fixed(Xf.reshape(-1), 12).reshape(Xf.shape)
                P = R @ S_T  # int64-exact: |elem| <= 4.0001e15, d <= 2048
                # decimal -> double: correctly-rounded division (int64
                # < 2^53 fast path, Python int/int otherwise)
                if P.size and np.abs(P).max() < 2 ** 53:
                    D = P.astype(np.float64) / 1e12
                else:
                    D = np.asarray([int(p) / 10 ** 12
                                    for p in P.reshape(-1)],
                                   dtype=np.float64).reshape(P.shape)
                C = D / scale
                big = np.abs(C) > 4e3
                K = (_halfup_fixed(np.where(big, 0.0, C).reshape(-1), 9)
                     .astype(np.float64) / 1e9).reshape(C.shape)
                if big.any():
                    for i, k in zip(*np.nonzero(big)):
                        K[i, k] = _round9_image(float(C[i, k]))
                if hugerow.any():
                    # magnitudes past the fast path: exact Decimal image
                    for i in np.nonzero(hugerow)[0]:
                        row = X[i]
                        for k in range(out_dim):
                            tot = 0
                            for j in range(dim):
                                tot += (_round12_fixed_image(float(row[j]))
                                        * int(S_T[j, k]))
                            K[i, k] = _round9_image(
                                (int(tot) / 10 ** 12) / scale)
                for r_i, i in enumerate(clean_idx):
                    out[i] = [float(x) for x in K[r_i]]
            res = pdf.copy()
            res[out_col] = out
            yield res

    from localsql_spark.operators import spread

    # spread BEFORE the map: the projection must run post-exchange, not
    # inside the (possibly single-split) scan stage
    return spread(df).mapInPandas(run, schema=schema)


def jl_project_relational(df: DataFrame, vec_col: str = "embedding",
                          out_col: str = "jl_vec", out_dim: int = 16,
                          dim: int | None = None,
                          seed: str = "jl") -> DataFrame:
    """The in-plan projection (one zip_with+decimal-fold per output
    component, no shuffle, no Python) — the equivalence reference for
    :func:`jl_project` and the form the DuckDB oracles replay."""
    if dim is None:
        first = df.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "jl_project: empty corpus (or null first vector) — pass "
                "dim= explicitly to project a possibly-empty frame")
        dim = len(first[0])
    signs = jl_signs(dim, out_dim, seed)
    scale = float(out_dim) ** 0.5
    # The sign matrix rides the plan as ONE literal parsed JVM-side
    # (array<array<double>>), and the out_dim components are one
    # ``transform`` lambda over its rows.  Value-identical to building
    # out_dim separate fold expressions each with dim F.lit() calls, but
    # that form cost ~4-7s of DRIVER time per call — dim*out_dim py4j
    # round-trips to construct plus a ~2k-node expression tree re-analyzed
    # by every downstream Dataset op (optimization r14 measurement:
    # knn_jl_top5 spent 4.6s of its 6.1s wall building the two
    # projections before any task ran; this form builds in ~0.1s).
    smat = F.expr("array(" + ",".join(
        "array(" + ",".join(f"{s:.1f}D" for s in row) + ")"
        for row in signs) + ")")
    comp = lambda srow: F.round(  # noqa: E731
        _dec_sum(F.zip_with(F.col(vec_col), srow,
                            lambda x, sgn: x.cast("double") * sgn))
        / F.lit(scale), 9)
    return df.withColumn(out_col, F.transform(smat, comp))


def knn_jl(corpus: DataFrame, queries: DataFrame, k: int = 5,
           id_col: str = "vec_id", vec_col: str = "embedding",
           out_dim: int = 16, dim: int | None = None,
           seed: str = "jl") -> DataFrame:
    """Exact cosine top-k IN THE JL-PROJECTED SPACE: both sides project
    row-locally (below the join, so the fold runs once per row, never
    per pair), then the standard broadcast-queries x corpus scan.  Same
    output shape as :func:`knn_brute_force`; recall vs the full-space
    exact answer is the JL distortion (measured in ANN.md).  The scan's
    pair work drops by dim/out_dim — the cheap first stage of a
    shortlist -> full-vector rerank cascade."""
    if dim is None:
        first = corpus.select(vec_col).first()
        if first is None or first[0] is None:
            raise ValueError(
                "knn_jl: empty corpus (or null first vector) — pass "
                "dim= explicitly")
        dim = len(first[0])
    # project only (id, vec): the Arrow map ships every column it is
    # given (guide §4.1 — opaque functions defeat column pruning)
    cp = jl_project(corpus.select(id_col, vec_col), vec_col, "jl_vec",
                    out_dim, dim, seed).select(id_col, "jl_vec")
    qp = jl_project(queries.select(id_col, vec_col), vec_col, "jl_vec",
                    out_dim, dim, seed).select(id_col, "jl_vec")
    return knn_brute_force(cp, qp, k=k, id_col=id_col, vec_col="jl_vec")


# ---------------------------------------------------------------------------
# PCA: exact covariance + power iteration (embedding curation)
# ---------------------------------------------------------------------------

def covariance_matrix(df: DataFrame,
                      vec_col: str = "embedding") -> DataFrame:
    """EXACT population covariance of an embedding column, as a
    (j, k, cov) table: one pass explodes each row's position pairs
    (dim^2 per row, row-local) and a map-side-combined groupBy folds
    them — the shuffle carries at most dim^2 x partitions partial rows
    whatever the corpus size, which is the distributed-covariance shape
    (MLlib's RowMatrix.computeCovariance does the same fold as a
    treeAggregate of outer products; the production-path twin of that
    shape is :func:`covariance_and_means_arrow`'s per-partition numpy
    outer-product accumulator — same bound, ~40x lower constant,
    minus the bit-replayability).  Products round to 12 decimals and sum
    as DECIMAL (order-insensitive), means and the final
    ``E[xy] - E[x]E[y]`` round to 12 — bit-reproducible cross-engine,
    so a DuckDB oracle can replay the matrix exactly.  Population (1/n)
    normalization."""
    return covariance_and_means(df, vec_col)[0]


def _round12_fixed_image(v: float) -> int:
    """The scaled-int image of Spark's ``Round(v: double, 12)`` followed
    by a decimal cast, for magnitudes past :func:`_halfup_fixed`'s fast
    path (scaled value >= 2^52 — realistically never hit by embedding
    data; pinned against the live relational plan by
    test_cov_exact_arrow_matches_relational's large-magnitude rows).

    Image being reproduced: ``BigDecimal.valueOf(v)`` (Double.toString)
    -> setScale(12, HALF_UP) -> toDouble -> exact decimal cast.  Below
    2^53, Double.toString agrees with Python repr (both shortest
    round-trip); at and above 2^53 doubles are exact integers and the
    JVM prints every digit while Python repr shortens — so the exact
    binary value is the faithful image there."""
    from decimal import ROUND_HALF_UP, Decimal, localcontext

    q = Decimal(1).scaleb(-12)
    with localcontext() as ctx:
        ctx.prec = 340  # any double's digits (<= 309) + the 12-decimal scale

        def _img(x: float) -> Decimal:
            if abs(x) >= 2.0 ** 53:
                return Decimal(x).quantize(q, ROUND_HALF_UP)
            return Decimal(repr(x)).quantize(q, ROUND_HALF_UP)

        d1 = _img(v)
        r = float(d1)  # Round's BigDecimal.toDouble round-trip
        if r != v:
            d1 = _img(r)
        return int(d1.scaleb(12))


def cov_sums_exact_arrow(df: DataFrame, vec_col: str = "embedding",
                         dec: str = _DEC) -> DataFrame:
    """EXACT sufficient statistics of an embedding column from ONE
    corpus pass — the bit-identical Arrow image of the relational
    dim^2-per-row decimal expand (optimization round 14, the
    `_halfup_fixed` discipline the multimodal fingerprints pinned).

    Output is the narrow reduced table ``(j, k, s)``: pair product sums
    (``j, k >= 0``), per-dimension sums (``k = -1``), the row count
    (``j = k = -1``) — dim^2 + dim + 1 rows whatever the corpus.
    Every per-element ``Round(x*y, 12)`` / ``Round(x, 12)`` is
    reproduced exactly: products are computed in float64 (IEEE — the
    same doubles the JVM multiplies), fixed-point-rounded to int64 via
    :func:`localsql_spark.operators.multimodal._halfup_fixed` (repr
    HALF_UP with a tie-band Decimal fallback; values too large for the
    fast path fall inside the widening tie band and take the exact
    Decimal path automatically), and summed as INTEGERS — per-chunk in
    int64 (chunk sized so the sum cannot overflow), across chunks in
    arbitrary-precision Python ints, across partitions as Spark
    DECIMALs.  Integer addition is associative, so the result equals
    the relational ``sum(Round(..) as DECIMAL)`` bit-for-bit at any
    partitioning (pinned by test_cov_exact_arrow_matches_relational
    and by the fold == one-shot store probes).

    Semantics preserved from the explode: NULL-vector rows contribute
    to the count but not to the sums; non-finite elements/products
    (NULL/NaN -> Round -> NULL) are excluded per element, and a grid
    cell whose every product was non-finite yields s = NULL, exactly
    like ``sum`` over an all-NULL group.  Ragged rows contribute pairs
    only up to their own length (posexplode semantics).

    The row count includes every input row (null vectors too) — the
    cov_store contract; :func:`covariance_and_means` pre-filters null
    vectors so its 1/n matches the non-null count."""
    import numpy as np
    import pandas as pd

    df = spread(df)
    # ^ the per-row outer-product work is CPU-bound: a one-split local
    # file would otherwise serialize the fold on one core; at real
    # scale the scan already has >= cores splits and this is a no-op
    col = vec_col

    def _acc(batches):
        from localsql_spark.operators.multimodal import _halfup_fixed

        d_cap = 0
        pair_sum = pair_ok = None  # object (d,d) ints / int64 counts
        dim_sum = dim_ok = None
        n_rows = 0

        def _grow(d):
            nonlocal d_cap, pair_sum, pair_ok, dim_sum, dim_ok
            ps = np.zeros((d, d), dtype=object)
            po = np.zeros((d, d), dtype=np.int64)
            ds = np.zeros(d, dtype=object)
            do = np.zeros(d, dtype=np.int64)
            if d_cap:
                ps[:d_cap, :d_cap] = pair_sum
                po[:d_cap, :d_cap] = pair_ok
                ds[:d_cap] = dim_sum
                do[:d_cap] = dim_ok
            pair_sum, pair_ok, dim_sum, dim_ok = ps, po, ds, do
            d_cap = d

        for pdf in batches:
            n_rows += len(pdf)
            vals = pdf[col].dropna()
            if not len(vals):
                continue
            by_len: dict[int, list] = {}
            for v in vals:
                try:
                    a = np.asarray(v, dtype=np.float64)
                except (TypeError, ValueError):
                    a = np.asarray([np.nan if e is None else float(e)
                                    for e in v], dtype=np.float64)
                if a.ndim != 1:
                    a = a.ravel()
                by_len.setdefault(a.shape[0], []).append(a)
            for d, rows in by_len.items():
                if d == 0:
                    continue
                if d > d_cap:
                    _grow(d)
                X = np.stack(rows)
                # chunk so (rows x d^2) product tensors stay ~32 MB;
                # per-element magnitudes are bounded by the 4e3 escape
                # below, so int64 chunk sums are overflow-safe
                step = max(1, min(512, 4_000_000 // (d * d)))
                for lo in range(0, X.shape[0], step):
                    C = X[lo:lo + step]
                    P = (C[:, :, None] * C[:, None, :]).reshape(-1)
                    ok = np.isfinite(P)
                    Pz = np.where(ok, P, 0.0)
                    # the fast path is exact only while the scaled
                    # value fits float64's integer range (< 2^52):
                    # route larger magnitudes (realistically never hit
                    # by embeddings) through the exact Decimal image
                    # directly into the big-int accumulator
                    huge = np.abs(Pz) > 4e3
                    if huge.any():
                        for i in np.nonzero(huge)[0]:
                            jj = (i // d) % d
                            kk = i % d
                            pair_sum[jj, kk] += _round12_fixed_image(
                                float(Pz[i]))
                        Pz = np.where(huge, 0.0, Pz)
                    R = _halfup_fixed(Pz, 12)
                    R[~ok] = 0
                    m = C.shape[0]
                    # int64 chunk sums cannot overflow: every element is
                    # < 2^52 (the escape above) and chunk rows <= 512,
                    # so |sum| < 512 * 2^52 < 2^63
                    pair_sum[:d, :d] += R.reshape(m, d, d).sum(
                        axis=0, dtype=np.int64)
                    pair_ok[:d, :d] += ok.reshape(m, d, d).sum(
                        axis=0, dtype=np.int64)
                    okx = np.isfinite(C)
                    Cz = np.where(okx, C, 0.0).reshape(-1)
                    hugx = np.abs(Cz) > 4e3
                    if hugx.any():
                        for i in np.nonzero(hugx)[0]:
                            dim_sum[i % d] += _round12_fixed_image(
                                float(Cz[i]))
                        Cz = np.where(hugx, 0.0, Cz)
                    Rx = _halfup_fixed(Cz, 12)
                    Rx[~okx.reshape(-1)] = 0
                    dim_sum[:d] += Rx.reshape(m, d).sum(
                        axis=0, dtype=np.int64)
                    dim_ok[:d] += okx.sum(axis=0, dtype=np.int64)
        if n_rows == 0:
            return
        from decimal import Decimal, localcontext

        js, ks, ss = [], [], []
        # scaleb is context-bound (default prec 28 silently rounds a
        # 29+-digit scaled sum): widen the context for exact emission
        with localcontext() as ctx:
            ctx.prec = 60
            for j in range(d_cap):
                for k in range(d_cap):
                    js.append(j)
                    ks.append(k)
                    ss.append(Decimal(int(pair_sum[j, k])).scaleb(-12)
                              if pair_ok[j, k] else None)
            for j in range(d_cap):
                js.append(j)
                ks.append(-1)
                ss.append(Decimal(int(dim_sum[j])).scaleb(-12)
                          if dim_ok[j] else None)
            js.append(-1)
            ks.append(-1)
            ss.append(Decimal(n_rows * 10 ** 12).scaleb(-12))
        yield pd.DataFrame({"j": pd.array(js, dtype="int32"),
                            "k": pd.array(ks, dtype="int32"),
                            "s": ss})

    part = df.select(col).mapInPandas(_acc, f"j int, k int, s {dec}")
    # an all-empty input yields no partition rows: the literal zero
    # count row keeps the (-1,-1) encoding total (adds 0 otherwise)
    zero = (df.sparkSession.range(0, 1, numPartitions=1)
            .select(F.lit(-1).alias("j"), F.lit(-1).alias("k"),
                    F.lit(0).cast(dec).alias("s")))
    return (part.unionByName(zero)
            .groupBy("j", "k")
            .agg(F.sum("s").cast(dec).alias("s")))


def covariance_and_means(df: DataFrame, vec_col: str = "embedding"
                         ) -> tuple[DataFrame, DataFrame]:
    """(cov, means) from ONE corpus pass — means fall out of the same
    fold the covariance needs, so callers that want both (pca_scores'
    centered projection) don't pay a second exploded aggregate.  means
    is (j, mean) rounded to 12.  NULL-vector rows are EXCLUDED from
    both the sums and the 1/n normalization (the statistically
    consistent choice, and the Arrow twin's semantics — review round
    13: the explode already dropped NULLs from the sums while n counted
    them, silently biasing every entry by n_nonnull/n_total on a corpus
    with missing embeddings).

    Since optimization round 14 the sums come from
    :func:`cov_sums_exact_arrow` (bit-identical integer fixed-point
    fold, ONE corpus pass instead of count + sxy + means = three); the
    finisher below applies the same double casts and 12-decimal
    roundings at the same points, so every consumer's oracle replays
    unchanged.  The relational expand survives as
    :func:`covariance_and_means_relational` for the equivalence test."""
    tot = (cov_sums_exact_arrow(
        df.filter(F.col(vec_col).isNotNull()), vec_col)
        .localCheckpoint(eager=True))
    nrow = tot.filter((F.col("j") == -1) & (F.col("k") == -1)).collect()
    n = int(nrow[0]["s"]) if nrow else 0
    if n == 0:
        raise ValueError(
            "covariance_and_means: covariance is undefined over zero "
            "rows with a non-null vector (the 1/n normalization "
            "divides by the corpus size)")
    means = (tot.filter((F.col("k") == -1) & (F.col("j") >= 0))
             .select("j", (F.col("s").cast("double") / F.lit(float(n)))
                     .alias("mean_raw"))
             .select("j", F.round("mean_raw", 12).alias("mean"))
             # materialized once: the cov join below AND any caller
             # consuming the returned means reuse the dim-row result
             # instead of re-running the fold
             .localCheckpoint(eager=True))
    sxy = (tot.filter((F.col("j") >= 0) & (F.col("k") >= 0))
           .select("j", "k", F.col("s").cast("double").alias("sxy")))
    mj = means.select(F.col("j").alias("j"), F.col("mean").alias("mean_j"))
    mk = means.select(F.col("j").alias("k"), F.col("mean").alias("mean_k"))
    cov = (sxy.join(mj, "j").join(mk, "k")
           .select("j", "k",
                   F.round(F.round(F.col("sxy") / F.lit(float(n)), 12)
                           - F.col("mean_j") * F.col("mean_k"), 12)
                   .alias("cov")))
    return cov, means


def covariance_and_means_relational(df: DataFrame,
                                    vec_col: str = "embedding"
                                    ) -> tuple[DataFrame, DataFrame]:
    """The in-plan dim^2-per-row exact-decimal expand — the original
    body of :func:`covariance_and_means`, kept as the equivalence
    reference for the Arrow integer fold (the *_relational discipline:
    the slow twin IS the specification the fast path must match
    bit-for-bit)."""
    df = spread(df.filter(F.col(vec_col).isNotNull()))
    n = df.count()
    if n == 0:
        raise ValueError(
            "covariance_and_means: covariance is undefined over zero "
            "rows with a non-null vector (the 1/n normalization "
            "divides by the corpus size)")
    e1 = df.select(F.col(vec_col).alias("__v"),
                   F.posexplode(F.col(vec_col)).alias("j", "x"))
    pairs = e1.select(
        "j", F.col("x").cast("double").alias("x"),
        F.posexplode(F.col("__v")).alias("k", "y"))
    sxy = (pairs.groupBy("j", "k")
           .agg(F.sum(F.round(F.col("x") * F.col("y").cast("double"), 12)
                      .cast(_DEC)).cast("double").alias("sxy")))
    means = (e1.groupBy("j")
             .agg((F.sum(F.round(F.col("x").cast("double"), 12)
                         .cast(_DEC)).cast("double") / F.lit(float(n)))
                  .alias("mean_raw"))
             .select("j", F.round("mean_raw", 12).alias("mean"))
             .localCheckpoint(eager=True))
    mj = means.select(F.col("j").alias("j"), F.col("mean").alias("mean_j"))
    mk = means.select(F.col("j").alias("k"), F.col("mean").alias("mean_k"))
    cov = (sxy.join(mj, "j").join(mk, "k")
           .select("j", "k",
                   F.round(F.round(F.col("sxy") / F.lit(float(n)), 12)
                           - F.col("mean_j") * F.col("mean_k"), 12)
                   .alias("cov")))
    return cov, means


def _covariance_partials_arrow(df: DataFrame,
                               vec_col: str = "embedding") -> DataFrame:
    """The Arrow fold behind :func:`covariance_and_means_arrow` —
    FLOAT-TWIN of :func:`covariance_and_means`'s expand: returns the
    REDUCED partial frame ``(j, k, val)`` (sxy entries, per-dim sums
    under k=-1, the count under j=k=-1), computed with a per-partition
    Arrow-batched numpy outer-product accumulator instead of the
    in-plan dim^2-per-row exact-decimal expand.  Split out so the
    plan-shape test can assert the scale contract on the live plan
    (the public finisher checkpoints it away).  This is the
    PRODUCTION path (the docstring switch `covariance_matrix` always
    promised at dim >> 256): each partition folds its rows into ONE
    dim x dim float64 partial (``X.T @ X``, plus the column sums and
    count) inside mapInPandas, so the corpus is read once, nothing
    corpus-sized shuffles, and total work is N*dim^2 BLAS flops
    instead of N*dim^2 codegen'd BigDecimal constructions — measured
    ~40x at 64x sf0.1 (SCALE.md round-13 row).  The tiny final reduce
    (dim^2 rows x partitions) rounds each partial to 12 and
    decimal-sums, so the cross-partition fold is order-exact and the
    result is deterministic for a fixed input layout.

    Equivalence vs the exact fold (ANN.md "float-twin bound"): the
    only divergences are the dropped per-product 1e-12 quantization
    (<= N * 0.5e-12 per entry, signs i.i.d. so typically
    ~sqrt(N)*3e-13) and the within-partition float64 accumulation
    (<= rows_per_partition * eps * max|running sum|).  Both sit
    orders below the 1e-9 output quantum of every consumer at the
    tested scales; callers that need BIT-exact cross-engine replay
    (the DuckDB oracles) use the exact fold — the opq_rotation
    exact-vs-float-twin discipline."""
    import numpy as np
    import pandas as pd

    df = spread(df)
    col = vec_col

    def _acc(batches):
        sxy = None
        sx = None
        n = 0
        for pdf in batches:
            vals = pdf[col].dropna()
            if not len(vals):
                continue
            x = np.stack([np.asarray(v, dtype=np.float64)
                          for v in vals])
            if sxy is None:
                sxy = x.T @ x
                sx = x.sum(axis=0)
            else:
                sxy += x.T @ x
                sx += x.sum(axis=0)
            n += x.shape[0]
        if n == 0:
            return
        d = sx.shape[0]
        jj = np.repeat(np.arange(d, dtype=np.int32), d)
        kk = np.tile(np.arange(d, dtype=np.int32), d)
        yield pd.DataFrame({
            "j": np.concatenate([jj, np.arange(d, dtype=np.int32),
                                 np.array([-1], dtype=np.int32)]),
            "k": np.concatenate([kk, np.full(d, -1, dtype=np.int32),
                                 np.array([-1], dtype=np.int32)]),
            "val": np.concatenate([sxy.ravel(), sx,
                                   np.array([float(n)])])})

    part = df.select(col).mapInPandas(_acc, "j int, k int, val double")
    # order-exact cross-partition reduce over model-sized partials;
    # materialized once — n, means and cov all read it
    tot = (part.groupBy("j", "k")
           .agg(F.sum(F.round(F.col("val"), 12).cast(_DEC))
                .cast("double").alias("val")))
    return tot


def covariance_and_means_arrow(df: DataFrame, vec_col: str = "embedding"
                               ) -> tuple[DataFrame, DataFrame]:
    """See :func:`_covariance_partials_arrow` for the fold itself —
    this finisher materializes the reduced partials once and derives
    (cov, means) exactly as the exact fold does."""
    tot = _covariance_partials_arrow(df, vec_col).localCheckpoint(
        eager=True)
    nrow = tot.filter((F.col("j") == -1) & (F.col("k") == -1)).collect()
    if not nrow:
        raise ValueError(
            "covariance_and_means_arrow: covariance is undefined over "
            "zero rows (the 1/n normalization divides by the corpus "
            "size)")
    n = float(nrow[0]["val"])
    means = (tot.filter((F.col("k") == -1) & (F.col("j") >= 0))
             .select("j", F.round(F.col("val") / F.lit(n), 12)
                     .alias("mean"))
             .localCheckpoint(eager=True))
    mj = means.select("j", F.col("mean").alias("mean_j"))
    mk = means.select(F.col("j").alias("k"), F.col("mean").alias("mean_k"))
    cov = (tot.filter((F.col("j") >= 0) & (F.col("k") >= 0))
           .join(mj, "j").join(mk, "k")
           .select("j", "k",
                   F.round(F.round(F.col("val") / F.lit(n), 12)
                           - F.col("mean_j") * F.col("mean_k"), 12)
                   .alias("cov")))
    return cov, means


def power_iteration_top(cov: DataFrame, rounds: int = 6) -> DataFrame:
    """Top eigenvector of a (j, k, cov) matrix table by power iteration —
    kept IN Spark ops (matrix-vector product = one join + groupBy over
    the dim^2-row table, norm via a broadcast scalar frame, iterates
    rounded to 12 decimals) precisely so the DuckDB oracle can replay
    every round bit-for-bit; the matrix is model-sized (dim^2 rows), so
    each round is milliseconds at any corpus scale.  Deterministic: the
    all-ones start vector and the fixed round count make the sign and
    value a pure function of the input.  Returns (j, vj) unit-normed.
    Convergence is geometric in the eigengap — rounds=6 resolves a
    dominant direction; raise it (or hand the COLLECTED dim^2 matrix to
    a driver-side eigensolver — model-sized state, same license as
    collecting centroids) when the top eigenvalues are close."""
    # materialize the matrix ONCE: every round references cov, and an
    # unCheckpointed lineage would re-run the full covariance fold per
    # round (the exact re-evaluation trap the oracle's MATERIALIZED CTE
    # avoids on the DuckDB side).  coalesce(1): the matrix is dim^2 rows
    # — letting each round's groupBy fan 32 shuffle partitions just buys
    # per-round scheduler overhead (measured: the rounds, not the
    # corpus-sized covariance fold, dominated the sf0.1 wall)
    cov = cov.coalesce(1).localCheckpoint(eager=True)
    dim_rows = cov.select("j").distinct()
    v = dim_rows.select("j", F.lit(1.0).alias("vj")) \
        .localCheckpoint(eager=True)
    for _ in range(rounds):
        w = (cov.join(v.withColumnRenamed("j", "k"), "k")
             .groupBy("j")
             .agg(F.sum(F.round(F.col("cov") * F.col("vj"), 12)
                        .cast(_DEC)).cast("double").alias("w")))
        nrm = w.agg(F.sqrt(F.sum(F.round(F.col("w") * F.col("w"), 12)
                                 .cast(_DEC)).cast("double")).alias("nrm"))
        # zero-norm guard: a zero/rank-deficient matrix (identical
        # embeddings; a deflated rank-1 covariance) folds w to 0 — map
        # the iterate to the zero vector instead of raising
        # DIVIDE_BY_ZERO under ANSI mode (oracle chains mirror the CASE)
        v = (w.crossJoin(F.broadcast(nrm))
             .select("j", F.round(F.when(F.col("nrm") != 0,
                                         F.col("w") / F.col("nrm"))
                                  .otherwise(0.0), 12)
                     .alias("vj"))
             .localCheckpoint(eager=True))
    return v


def pca_scores(df: DataFrame, vec_col: str = "embedding",
               id_col: str = "vec_id", rounds: int = 6) -> DataFrame:
    """First-principal-component scores for every embedding — the
    curation axis (sort by pc1 to see the corpus's dominant variation;
    trim tails as an outlier gate; residual-after-projection feeds the
    next component).  Pipeline: exact covariance
    (:func:`covariance_matrix`), power iteration
    (:func:`power_iteration_top`), then the mean vector and eigenvector
    COLLECT as model-sized state (dim doubles each — the same license
    as centroid collects) and the centered projection
    ``(x - mean) . v`` runs row-locally over the scan with literal
    arrays: no join, no shuffle, corpus never moves.  Returns (id, pc1)
    with pc1 rounded to 9.

    The power chain runs DRIVER-SIDE over the collected dim^2 matrix
    via :func:`power_iteration_local` (optimization round 14) — the
    matrix is model-sized state (the same license as the mean/
    eigenvector collects below, and :func:`pca_project`'s existing
    posture), bit-identical to the in-plan operator (pinned by
    test_power_iteration_local_matches_inplan), and it replaces ~20
    tiny driver-latency-bound jobs per call with a dim^2 loop."""
    cov, means = covariance_and_means(df, vec_col)
    rows = [(r["j"], r["k"], r["cov"]) for r in cov.collect()
            if r["cov"] is not None]
    dim = max(j for j, _k, _c in rows) + 1 if rows else 0
    vloc = power_iteration_local(rows, dim, rounds)
    vmap = dict(enumerate(vloc))
    mmap = {r["j"]: r["mean"] for r in means.collect()}
    varr = F.array(*[F.lit(vmap[j]) for j in range(dim)])
    marr = F.array(*[F.lit(mmap[j]) for j in range(dim)])
    centered = F.zip_with(F.col(vec_col), marr,
                          lambda x, m: x.cast("double") - m)
    proj = _dec_sum(F.zip_with(centered, varr,
                               lambda c, vv: F.round(c * vv, 12)))
    return df.select(F.col(id_col), F.round(proj, 9).alias("pc1"))


def _rayleigh(c: DataFrame, v: DataFrame) -> DataFrame:
    """One-row eigenvalue estimate ``vT C v`` for a unit iterate —
    the decimal-fold Rayleigh quotient both the explained-variance and
    top-k projection paths share."""
    w = (c.join(v.withColumnRenamed("j", "k")
                .withColumnRenamed("vj", "vk"), "k")
         .groupBy("j")
         .agg(F.sum(F.round(F.col("cov") * F.col("vk"), 12)
                    .cast(_DEC)).cast("double").alias("w")))
    return (w.join(v, "j")
            .agg(F.round(F.sum(F.round(F.col("w") * F.col("vj"), 12)
                               .cast(_DEC)).cast("double"), 12)
                 .alias("lam")))


def _deflate(c: DataFrame, v: DataFrame, lam: DataFrame) -> DataFrame:
    """Hotelling deflation ``C - lam * v vT``, rounded to 12 like every
    iterate — removes the found component so the next power run
    converges to the next eigenpair."""
    return (c.join(v, "j")
            .join(v.withColumnRenamed("j", "k")
                  .withColumnRenamed("vj", "vk"), "k")
            .crossJoin(F.broadcast(lam))
            .select("j", "k",
                    F.round(F.col("cov")
                            - F.col("lam") * F.col("vj") * F.col("vk"), 12)
                    .alias("cov")))


def pca_explained(cov: DataFrame, rounds: int = 6) -> DataFrame:
    """Top-2 eigenvalues + explained-variance ratios from a (j, k, cov)
    table: power iteration for the first component, Hotelling deflation
    ``C2 = C - lam1 * v vT`` (rounded to 12 like every iterate) for the
    second — all in Spark ops over the model-sized matrix so the oracle
    replays both chains.  ``trace`` (total variance) is the diagonal
    fold, so ``ratio = lam / trace`` is the curation dashboard number:
    how much of the corpus's variance one axis carries (a near-1 top
    ratio on an embedding corpus usually means a degenerate/constant
    feature dominating — the thing to catch BEFORE training).  Returns
    two rows (component, eigenvalue, trace, ratio).

    Since optimization round 14 the whole chain runs DRIVER-SIDE over
    the collected dim^2 matrix (the :func:`pca_project` posture):
    :func:`power_iteration_local` / :func:`rayleigh_local` replicate
    the in-plan rounding points bit-for-bit (pinned tests), the trace
    and deflation use the same exact-decimal image, and ~45 tiny
    driver-latency-bound jobs per call collapse into one collect.  The
    in-plan operators (:func:`power_iteration_top`, :func:`_rayleigh`,
    :func:`_deflate`) survive for the equivalence tests."""
    import decimal

    rows = [(r["j"], r["k"], r["cov"]) for r in cov.collect()
            if r["cov"] is not None]
    dim = max(j for j, _k, _c in rows) + 1 if rows else 0
    spark = cov.sparkSession
    v1 = power_iteration_local(rows, dim, rounds)
    lam1 = rayleigh_local(rows, dim, v1)
    acc = decimal.Decimal(0)
    for j, k, c in rows:
        if j == k:
            acc += decimal.Decimal(repr(_round12(c)))
    trace = float(acc)
    mat = {(j, k): c for j, k, c in rows}
    rows2 = [(j, k, _round12(mat.get((j, k), 0.0)
                             - lam1 * v1[j] * v1[k]))
             for j in range(dim) for k in range(dim)]
    v2 = power_iteration_local(rows2, dim, rounds)
    lam2 = rayleigh_local(rows2, dim, v2)
    def _ratio(lam: float) -> float:
        import math

        if trace == 0.0:  # IEEE double division, as the in-plan expr
            return (float("nan") if lam == 0.0 or math.isnan(lam)
                    else math.copysign(math.inf, lam))
        return _round_half_up(lam / trace, 9)

    out = [(1, lam1, trace, _ratio(lam1)),
           (2, lam2, trace, _ratio(lam2))]
    return spark.createDataFrame(
        out, "component int, eigenvalue double, trace double, "
             "ratio double")


def pca_project(df: DataFrame, vec_col: str = "embedding",
                id_col: str = "vec_id", n_components: int = 2,
                rounds: int = 6, whiten: bool = False,
                method: str = "arrow") -> DataFrame:
    """Project every embedding onto the top-``n_components`` principal
    axes — the actual dimensionality REDUCER the PCA arc exists for
    (curation plots, cheap downstream clustering, decorrelated
    features), generalizing :func:`pca_scores` (k=1) via repeated
    Hotelling deflation.  All eigen-math stays in Spark ops (oracle-
    replayable chains over the model-sized matrix); the collected
    (mean, component, eigenvalue) state is dim*(k+1) doubles, and the
    projection is ONE row-local pass — the corpus never shuffles.
    ``whiten`` divides each score by sqrt(lam) (unit-variance
    components; lam <= 0 yields NULL, the degenerate-axis signal).
    Returns ``(id, pc1..pck)`` rounded to 9.

    The eigen-chains run DRIVER-SIDE over the collected matrix via
    :func:`power_iteration_local` — bit-identical to the in-plan
    operators (tested), but k components cost a loop over dim^2 floats
    instead of ~15k tiny Spark jobs (which measurably degrade a
    long-lived session's per-job overhead); the corpus-sized work is
    still the one distributed covariance fold.

    ``method`` picks that fold: ``"arrow"`` (default — the production
    path) uses :func:`covariance_and_means_arrow`'s per-partition
    numpy outer-product accumulator, killing the O(N*dim^2)
    decimal-product wall (SCALE.md round-13: 64x re-measure);
    ``"exact"`` keeps the in-plan exact-decimal fold whose every step
    a DuckDB oracle replays bit-for-bit — the oracle twin
    (pca_project_top2 uses it; pca_project_arrow_top10 gates the two
    paths against each other at ranking precision)."""
    if method not in ("arrow", "exact"):
        raise ValueError(f"pca_project method must be arrow|exact, "
                         f"got {method!r}")
    fold = covariance_and_means_arrow if method == "arrow" \
        else covariance_and_means
    cov, means = fold(df, vec_col)
    mmap = {r["j"]: r["mean"] for r in means.collect()}
    dim = len(mmap)
    rows = [(r["j"], r["k"], r["cov"]) for r in cov.collect()]
    comps: list[tuple[dict, float]] = []
    for ci in range(n_components):
        v = power_iteration_local(rows, dim, rounds)
        lam = rayleigh_local(rows, dim, v)
        comps.append(({j: v[j] for j in range(dim)}, lam))
        if ci + 1 < n_components:  # Hotelling deflation, same rounding
            rows = [(j, k, _round12(c - lam * v[j] * v[k]))
                    for j, k, c in rows]
    marr = F.array(*[F.lit(mmap[j]) for j in range(dim)])
    centered = F.zip_with(F.col(vec_col), marr,
                          lambda x, m: x.cast("double") - m)
    cols = [F.col(id_col)]
    for ci, (vmap, lam) in enumerate(comps, start=1):
        varr = F.array(*[F.lit(vmap[j]) for j in range(dim)])
        score = _dec_sum(F.zip_with(centered, varr,
                                    lambda c_, vv: F.round(c_ * vv, 12)))
        if whiten:
            score = F.when(F.lit(lam) > 0,
                           score / F.sqrt(F.lit(lam)))
        cols.append(F.round(score, 9).alias(f"pc{ci}"))
    return df.select(*cols)


def _round12(x: float) -> float:
    """Spark's F.round(double, 12) exactly: BigDecimal.valueOf(double)
    parses Double.toString's shortest decimal repr (== Python repr) and
    rounds HALF_UP — reproduced with decimal.Decimal so driver-side
    eigen-math lands bit-for-bit on the in-plan operators' values."""
    return _round_half_up(x, 12)


def _round_half_up(x: float, scale: int) -> float:
    """:func:`_round12` generalized to any scale; non-finite inputs pass
    through unchanged, matching Spark's Round on double."""
    import decimal
    import math

    if not math.isfinite(x):
        return x
    return float(decimal.Decimal(repr(x)).quantize(
        decimal.Decimal(1).scaleb(-scale),
        rounding=decimal.ROUND_HALF_UP))


def power_iteration_local(cov_rows: list[tuple[int, int, float]],
                          dim: int, rounds: int = 6) -> list[float]:
    """Driver-side power iteration over the COLLECTED matrix, replicating
    the in-plan :func:`power_iteration_top` arithmetic exactly (products
    rounded to 12 HALF_UP, exact-decimal sums, IEEE division/sqrt, the
    zero-norm guard) — verified bit-for-bit against the Spark version by
    test_power_iteration_local_matches_inplan.  The matrix is MODEL
    state (dim^2 doubles, the centroid-collect license); keeping the
    chain on the driver avoids ~15 tiny Spark jobs per component, which
    is what made many-component extraction degrade a long-lived local
    session (uniform per-job overhead growth measured at component 5+).
    The registered correctness gates keep the in-plan chains — the
    oracle replays those; this is the serving path for k > 2."""
    import decimal
    import math

    mat: dict[tuple[int, int], float] = {(j, k): c for j, k, c in cov_rows}
    v = [1.0] * dim
    for _ in range(rounds):
        w = []
        for j in range(dim):
            acc = decimal.Decimal(0)
            for k in range(dim):
                c = mat.get((j, k), 0.0)
                acc += decimal.Decimal(repr(_round12(c * v[k])))
            w.append(float(acc))
        acc = decimal.Decimal(0)
        for x in w:
            acc += decimal.Decimal(repr(_round12(x * x)))
        nrm = math.sqrt(float(acc))
        v = [(_round12(x / nrm) if nrm != 0 else 0.0) for x in w]
    return v


def rayleigh_local(cov_rows: list[tuple[int, int, float]], dim: int,
                   v: list[float]) -> float:
    """Driver-side twin of :func:`_rayleigh` (same rounding points)."""
    import decimal

    mat = {(j, k): c for j, k, c in cov_rows}
    w = []
    for j in range(dim):
        acc = decimal.Decimal(0)
        for k in range(dim):
            acc += decimal.Decimal(repr(_round12(mat.get((j, k), 0.0)
                                                 * v[k])))
        w.append(float(acc))
    acc = decimal.Decimal(0)
    for j in range(dim):
        acc += decimal.Decimal(repr(_round12(w[j] * v[j])))
    return _round12(float(acc))
