"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

The reference has no dedup surface (closest is SELECT DISTINCT via
localsql/localsql.py:230); these are the scale extensions a training-data
pipeline needs.  Design points for 100 TB:

- All per-document work (shingling, hashing, signatures) is row-local
  SQL expressions — no Python UDFs, no shuffle.  Each one is rendered as
  SQL text (cached per argument tuple) and built with ONE ``F.expr``, so a
  signature costs a few py4j round-trips to build, not one or more per
  node of its expression tree (``operators.text.sql_builder``).
- The only shuffles are the ones the algorithms require: one groupBy on the
  content hash (exact), one band-bucket self-join (MinHash-LSH: O(docs×bands)
  rows, not O(docs²)), one shingle-inverted-index join (Jaccard).
- Hot LSH buckets / ultra-common shingles are the skew risk at scale; AQE
  skew-join handles moderate cases, and ``df_cap`` drops degenerate shingles
  (standard document-frequency cap) before the join.

Hash portability: minhash/simhash use md5-derived integers
(``conv(substr(md5(x),1,8),16,10)``) so the DuckDB oracle can reproduce the
exact same signatures — no engine-specific hash functions.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsql_spark.operators import spread, track_persist
from localsql_spark.sinks.locks import locked_by
from localsql_spark.operators.text import (norm_sql, normalize_text, qcol,
                                          sql_builder, word_shingles)

N_MINHASH = 16
N_BANDS = 4  # 4 bands x 4 rows: catches jaccard >~ 0.5 with high prob

# Affine-permutation minhash: each shingle is md5-hashed ONCE, then the n
# components are (a_j*h + b_j) mod P — the classic universal-hash family.
# P = 2^31-1 keeps every product under 2^62 (no int64 overflow on either
# engine); a_j/b_j are fixed LCG-derived constants so the DuckDB oracle can
# reproduce signatures bit-for-bit.
MINHASH_P = 2_147_483_647


def minhash_a(j: int) -> int:
    return (1103515245 * (j + 1) + 12345) % MINHASH_P


def minhash_b(j: int) -> int:
    return (2654435761 * (j + 1) + 1013904223) % MINHASH_P


@sql_builder
def minhash_signature(x: str, n: int = N_MINHASH) -> str:
    """array<long> of n minhash components over distinct 3-word shingles.

    Performance shape: the shingle array is materialized once and folded in a
    single ``aggregate`` pass — one md5 per shingle plus n integer
    multiply-mods, NOT n passes over the text.  (The naive per-component
    formulation re-evaluates the whole normalize+shingle pipeline n times;
    Catalyst does not share subexpressions across aggregate expressions, which
    cost ~26x wall time at sf0.1.)  The (a_j, b_j) constants ride as ONE
    literal struct array."""
    hs = (f"transform({word_shingles.sql(x, 3)}, s -> "
          f"CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT)"
          f" % {MINHASH_P})")
    ab = "array(" + ", ".join(
        f"struct({minhash_a(j)}L AS a, {minhash_b(j)}L AS b)"
        for j in range(n)) + ")"
    return (f"aggregate({hs}, array_repeat(CAST({MINHASH_P} AS BIGINT), {n}),"
            f" (acc, h) -> zip_with(acc, transform({ab},"
            f" p -> (h * p.a + p.b) % {MINHASH_P}), (a, c) -> least(a, c)))")


def band_keys(sig_df: DataFrame, n: int = N_MINHASH,
              bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band_id, band_key) LSH band table from a (doc_id, sig)
    signature table, plus every other column of ``sig_df`` passed through:
    one md5 band key per ``n/bands`` consecutive signature components —
    the unit every LSH bucket join here collides on."""
    other = [c for c in sig_df.columns if c not in ("doc_id", "sig")]
    return sig_df.select("doc_id", *other,
                         F.expr(_band_keys_sql(n, bands)))


@functools.lru_cache(maxsize=64)
def _band_keys_sql(n: int, bands: int) -> str:
    rows = n // bands
    return "posexplode(array(" + ", ".join(
        "md5(concat_ws('|', " + ", ".join(
            f"element_at(sig, {b * rows + r + 1})" for r in range(rows))
        + "))" for b in range(bands)) + ")) AS (band_id, band_key)"


@functools.lru_cache(maxsize=64)
def _est_jaccard(n: int) -> str:
    """Fraction of equal components of the signature columns ``sig_a`` and
    ``sig_b`` (SQL text), aliased ``est_jaccard``."""
    return "CAST((" + " + ".join(
        f"CAST(element_at(sig_a, {j}) = element_at(sig_b, {j}) AS INT)"
        for j in range(1, n + 1)) + f") AS DOUBLE) / {n} AS est_jaccard"


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content-hash groupBy: one shuffle on md5(normalized
    text) (hash keys, not full texts, move in the exchange's groupBy key).
    Returns (text_hash, keep_id, copies)."""
    return (spread(df)
            .select(F.md5(normalize_text(qcol(text_col))).alias("text_hash"),
                    qcol(id_col))
            .groupBy("text_hash")
            .agg(F.min(qcol(id_col)).alias("keep_id"),
                 F.count(F.lit(1)).alias("copies")))


def write_content_hash_store(df: DataFrame, path: str,
                             text_col: str = "text",
                             id_col: str = "doc_id",
                             mode: str = "overwrite") -> None:
    """Persist the (text_hash, keep_id) exact-dedup index — the cheap first
    gate of the incremental ingest loop (run BEFORE the minhash probe; an
    exact duplicate never needs a signature comparison).  Narrow two-column
    parquet, grows only by accepted new content."""
    (exact_dedup(df, text_col, id_col)
     .select("text_hash", "keep_id")
     .write.mode(mode).parquet(path))


def exact_dedup_incremental(spark: SparkSession, store_path: str,
                            new: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Exact-dedup a new batch against the persisted content-hash store:
    returns the batch rows with NEW content only (lowest id wins within the
    batch).  One window on the batch (batch-bounded) + one left-anti join
    against the store's hash column — the corpus side is a two-column scan,
    and at 100 TB the store bucket-joins or broadcast-filters (a bloom over
    text_hash) without changing this shape.  Append the keepers back with
    :func:`write_content_hash_store` ``mode='append'``."""
    from pyspark.sql.window import Window

    store = spark.read.option("recursiveFileLookup", "true").parquet(
        store_path).select("text_hash")
    h = spread(new).select(
        qcol(id_col),
        F.md5(normalize_text(qcol(text_col))).alias("text_hash"))
    w = Window.partitionBy("text_hash").orderBy(qcol(id_col))
    first = (h.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") == 1).drop("__rn"))
    return first.join(store, "text_hash", "left_anti") \
                .select(qcol(id_col), "text_hash")


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", threshold: float = 0.5,
                      n: int = N_MINHASH, bands: int = N_BANDS,
                      bucket_cap: int | None = None) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + banded LSH.

    sig -> band keys -> bucket self-join (the LSH trick: only docs sharing a
    band collide, so the join is linear in docs×bands instead of quadratic)
    -> estimate jaccard as the fraction of equal signature components ->
    filter by threshold.  Returns (doc_a, doc_b, est_jaccard).

    ``bucket_cap``: drop buckets with more than this many members before the
    self-join.  A hot bucket is the LSH skew hazard at scale — thousands of
    boilerplate/identical documents share every band and the bucket joins
    quadratically (2k copies -> 2M pairs per band).  Members of an over-cap
    bucket are near-certain exact/near-exact duplicates, which the far
    cheaper :func:`exact_dedup` hash pass already collapses, so dropping the
    bucket loses nothing a real pipeline needs (run exact dedup first).  The
    over-cap bucket list is tiny by construction and broadcasts.
    """
    # Materialize signatures ONCE (doc_id + n longs — tiny next to the corpus;
    # at real scale this is the classic "write signatures, then self-join"
    # stage).  Without the persist barrier Catalyst's projection collapse
    # inlines the signature fold into every element_at reference — n-fold
    # recompute per side (~25x wall time at sf0.1).
    # registered via track_persist so operators.cleanup() can release it in a
    # long-lived REPL session (repeated dedup calls must not accumulate cache)
    sig = track_persist(compute_signatures(df, text_col, id_col, n))
    banded = band_keys(sig, n, bands)
    if bucket_cap is not None:
        # the histogram probe runs exactly once whether or not hot buckets
        # exist (collect of a bounded over-cap list, then a local isin
        # filter); a clean corpus pays one map-side-combined aggregation
        # and keeps a plan bit-identical to the uncapped one — the probe
        # doubles as the bucket-skew monitoring stat a production run logs
        banded = _drop_hot_buckets(banded, bucket_cap)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band_id", "band_key")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band_id", "band_key")
    # candidate ids only through the join/distinct; signatures re-attached
    # from the cached table afterwards (narrow shuffle payload)
    pairs = (a.join(b, ["band_id", "band_key"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b")
             .distinct())
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    pairsig = pairs.join(sa, "doc_a").join(sb, "doc_b")
    return (pairsig.select("doc_a", "doc_b", F.expr(_est_jaccard(n)))
            .filter(F.col("est_jaccard") >= threshold))


@sql_builder
def simhash32(x: str) -> str:
    """32-bit SimHash over distinct words: bit i is the sign of the sum of
    (+1/-1) votes from each token's md5-derived 32-bit hash.  Row-local.

    Single ``aggregate`` fold carrying all 32 vote counters — one md5 per
    token (32 separate vote aggregates would re-evaluate the token-hash
    array per bit; see minhash_signature for the same pitfall).  The
    finish lambda packs the BOUND accumulator variable — evaluated once,
    so its 32 element_at references are cheap (vs. referencing the whole
    fold expression 32 times, which would re-inline it per bit)."""
    hashes = (f"transform(array_distinct(split({norm_sql(x)}, ' ')), t -> "
              f"CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT))")
    votes = "array(" + ", ".join(
        f"CASE WHEN (h & {1 << i}) != 0 THEN 1 ELSE -1 END"
        for i in range(32)) + ")"
    pack = "CAST(0 AS BIGINT) + " + " + ".join(
        f"CASE WHEN element_at(acc, {i + 1}) > 0 THEN CAST({1 << i} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END" for i in range(32))
    return (f"aggregate({hashes}, array_repeat(0, 32),"
            f" (acc, h) -> zip_with(acc, {votes}, (a, v) -> a + v),"
            f" acc -> {pack})")


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: byte-band LSH on the 32-bit hash (any
    pair with hamming <= 3 shares at least one of 4 bytes, pigeonhole)
    -> linear candidate join -> exact popcount filter.  Same banded-join
    shape as MinHash-LSH but on a 1-word signature — the cheap
    first-pass near-dup detector at scale.  Returns
    ``(doc_a, doc_b, hamming)``.  Four byte-bands guarantee a shared
    band only for hamming <= 3 (pigeonhole: 4 flips can land one per
    band), so ``max_hamming`` above 3 raises rather than silently
    under-recalling."""
    from localsql_spark.operators import track_persist

    if max_hamming > 3:
        raise ValueError(
            "simhash_near_pairs: byte-band LSH guarantees recall only "
            f"for max_hamming <= 3 (got {max_hamming}); use wider bands "
            "or ngram_jaccard_pairs for looser matching")
    sh = track_persist(
        spread(df)
        .select(qcol(id_col).alias("doc_id"),
                simhash32(text_col).alias("simhash")))
    bands = sh.select(
        "doc_id", "simhash",
        F.expr("posexplode(array(" + ", ".join(
            f"shiftright(simhash, {8 * b}) & 255" for b in range(4))
            + ")) AS (b, byte)"))
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("ha"), "b", "byte")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("hb"), "b", "byte")
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (a.join(b, ["b", "byte"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "ha", "hb").distinct()
            .select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", block_col: str = "lang",
                        threshold: float = 0.2,
                        df_cap: int | None = None) -> DataFrame:
    """Exact Jaccard over distinct 3-word shingles for pairs sharing a
    blocking key, via an inverted-index self-join (shuffle on shingle; the
    intersection count falls out of a groupBy, never materializing O(n²)).

    ``df_cap`` optionally drops shingles appearing in more than that many
    docs — the standard degenerate-shingle guard at scale.
    Returns (doc_a, doc_b, jaccard).
    """
    from pyspark.sql import Window

    sh = spread(df).select(qcol(id_col).alias("doc_id"),
                           qcol(block_col).alias("blk"),
                           F.explode(word_shingles(text_col, 3))
                           .alias("s"))
    if df_cap is not None:
        # document frequency as a per-shingle window count ((doc_id, s) is
        # unique, so count(*) == countDistinct(doc)) — a groupBy+anti-join
        # formulation re-computes the whole shingle subtree per reference
        sh = (sh.withColumn("df", F.count(F.lit(1))
                            .over(Window.partitionBy("s")))
              .filter(F.col("df") <= df_cap).drop("df"))
    # per-doc shingle count rides on each row (window over doc), and the
    # finished table is persisted ONCE: the self-join references it twice,
    # which would otherwise run the explode+windows pipeline twice — the
    # same "write the index, then self-join" shape as MinHash-LSH
    sh = track_persist(
        sh.withColumn("n", F.count(F.lit(1))
                      .over(Window.partitionBy("doc_id"))))
    a = sh.select(F.col("doc_id").alias("doc_a"), "blk", "s",
                  F.col("n").alias("na"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "blk", "s",
                  F.col("n").alias("nb"))
    return (a.join(b, ["blk", "s"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("i"),
                 F.min("na").alias("na"), F.min("nb").alias("nb"))
            .select("doc_a", "doc_b",
                    (F.col("i").cast("double")
                     / (F.col("na") + F.col("nb") - F.col("i")))
                    .alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def _cc_local(pair_rows: list[tuple], drop_self_only: bool) -> list[tuple]:
    """Driver-side min-label connected components over the COLLECTED
    pair list — union-find with the min id as every root, so labels are
    IDENTICAL (exact integers/strings, no float anywhere) to both
    distributed formulations' fixed point.  ``drop_self_only`` mirrors
    the operators' self-loop contracts: min-label propagation keeps a
    pure-self-loop node (it appears in the symmetrized edge set), the
    big-star formulation filters u != v before collecting nodes.
    Python's ``<`` on strings is code-point order == Spark's UTF8String
    binary order, so string-id tie-breaks agree too."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pair_rows:
        if a == b:
            if not drop_self_only:
                parent.setdefault(a, a)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra == rb:
            continue
        if rb < ra:
            ra, rb = rb, ra
        parent[rb] = ra
    return [(n, find(n)) for n in parent]


def _cc_local_frame(edges: DataFrame, a_col: str, b_col: str,
                    drop_self_only: bool) -> DataFrame:
    """Collect the (gated, graph-sized) pair list, label locally, and
    return the (node, cluster_id) frame with the edge id type."""
    node_t = edges.schema[a_col].dataType.simpleString()
    rows = [(r[0], r[1]) for r in edges.select(a_col, b_col).collect()]
    return edges.sparkSession.createDataFrame(
        _cc_local(rows, drop_self_only),
        f"node {node_t}, cluster_id {node_t}")


def connected_components(edges: DataFrame, a_col: str = "doc_a",
                         b_col: str = "doc_b",
                         max_iter: int = 25,
                         base: DataFrame | None = None) -> DataFrame:
    """Connected components over an undirected pair list: every node gets the
    MIN node id reachable from it (the canonical duplicate-cluster id).

    Min-label propagation: each round every node takes the min of its own
    label and its neighbors' labels — converges in O(component diameter)
    rounds (near-dup clusters are shallow), each round one join + one
    groupBy, all distributed; the driver only checks a convergence scalar
    (exact label-sum fingerprint for numeric ids, changed-count join for
    anything else). This is the standard large-scale CC formulation.
    Returns (node, cluster_id).

    Each round ends in ``localCheckpoint()``: iterative plans reference the
    previous round's frame more than once, so WITHOUT lineage truncation the
    logical plan grows exponentially in rounds and analysis OOMs the driver
    around round ~30 (persist alone does not cut the logical plan).  On a
    cluster where executor loss must not kill the job, swap in
    ``checkpoint()`` with a durable checkpoint dir — same shape, durable
    lineage cut.

    ``base`` (optional) is the file-backed corpus the edges derive from:
    in the small-input regime (operators.small_input_regime) the
    graph-sized pair list collects and labels locally via union-find —
    identical labels, none of the per-round plan-analysis latency that
    dominates the loop at that size (optimization r14).  The pair frame
    itself usually hides its scan behind persisted LSH intermediates,
    which is why the hint is the caller's base frame.
    """
    from localsql_spark.operators import small_input_regime

    if base is not None and small_input_regime(base):
        return _cc_local_frame(edges, a_col, b_col, drop_self_only=False)
    sym = (edges.select(F.col(a_col).alias("s"), F.col(b_col).alias("t"))
           .unionByName(edges.select(F.col(b_col).alias("s"),
                                     F.col(a_col).alias("t"))))
    sym = track_persist(sym.distinct())
    labels = (sym.select(F.col("s").alias("node")).distinct()
              .withColumn("label", F.col("node")).localCheckpoint())
    # numeric ids admit an exact-sum convergence fingerprint (below); for
    # any other id type fall back to the changed-count join
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(labels.schema["label"].dataType, NumericType)
    prev_sum = None
    for _ in range(max_iter):
        neighbor_min = (sym.join(labels, sym.t == labels.node)
                        .groupBy("s").agg(F.min("label").alias("nmin")))
        # LAZY checkpoint: the convergence scalar below materializes it, so
        # each round runs ONE job instead of an eager-checkpoint job plus
        # the test
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.s, "left")
            .select("node",
                    F.least("label", F.coalesce("nmin", "label"))
                    .alias("label"))
            .localCheckpoint(eager=False))
        if numeric_ids:
            # convergence via the label-sum fingerprint: labels move only
            # DOWNWARD (least of own and neighbor min), so the exact
            # decimal sum is unchanged iff every label is unchanged — one
            # scan of the materializing checkpoint instead of a shuffle
            # join against the previous round's labels (same round count,
            # one less exchange per round)
            label_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
            converged = label_sum == prev_sum
            prev_sum = label_sum
        else:
            converged = (new_labels.alias("n")
                         .join(labels.alias("o"), "node")
                         .filter(F.col("n.label") != F.col("o.label"))
                         .count() == 0)
        labels = new_labels
        if converged:
            break
    else:
        # exhausting max_iter means some component (diameter > max_iter, e.g.
        # a long near-dup chain) still carries SPLIT labels — returning them
        # silently would keep multiple "canonical" docs per cluster
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (components deeper than the round count exist)")
    sym.unpersist()
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def connected_components_bigstar(edges: DataFrame, a_col: str = "doc_a",
                                 b_col: str = "doc_b",
                                 max_iter: int = 20,
                                 base: DataFrame | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star rounds
    (the MapReduce CC formulation of Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14 — public algorithm).

    Same contract as :func:`connected_components` (every node gets the MIN
    reachable node id), different convergence: O(log^2 n) rounds regardless
    of component DIAMETER, vs O(diameter) for min-label propagation.  At
    100 TB a pathological duplicate chain (each doc near-dups its neighbor)
    makes diameter-bound propagation crawl; star contraction doesn't care.

    - large-star: every node's larger neighbors re-attach to its local min;
    - small-star: every node's smaller-or-equal neighbors contract onto it.
    Both are one groupBy (local min) + one equi-join per round, fully
    distributed; the driver only compares a (count, hash-sum) fingerprint
    for the convergence test.

    ``base`` routes the small-input regime to the same local union-find
    as :func:`connected_components` (identical fixed point; self-loops
    dropped here, matching the u != v filter below).
    """
    from localsql_spark.operators import small_input_regime

    if base is not None and small_input_regime(base):
        return _cc_local_frame(edges, a_col, b_col, drop_self_only=True)

    def star(E: DataFrame, larger: bool) -> DataFrame:
        # E is symmetric (u, v); m(u) = min over the closed neighborhood
        m = (E.groupBy("u").agg(F.min("v").alias("mn"))
             .select("u", F.least("u", "mn").alias("m")))
        if larger:   # large-star: rewire strictly-larger neighbors to m(u)
            sel = E.filter(F.col("v") > F.col("u"))
        else:        # small-star: contract smaller-or-equal neighbors onto m(u)
            sel = E.filter(F.col("v") <= F.col("u"))
        out = sel.join(m, "u").select(F.col("v").alias("u"),
                                      F.col("m").alias("v"))
        if not larger:
            out = out.unionByName(m.select("u", F.col("m").alias("v")))
        # drop self-loops, canonicalize, and re-symmetrize for the next op
        canon = (out.filter(F.col("u") != F.col("v"))
                 .select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
                 .distinct())
        return canon.unionByName(
            canon.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def fingerprint(E: DataFrame) -> tuple[int, int]:
        # hash-sum in decimal(38): a LONG sum of 64-bit hashes overflows
        row = E.agg(F.count(F.lit(1)).alias("n"),
                    F.coalesce(F.sum(F.xxhash64("u", "v")
                                     .cast("decimal(38,0)")),
                               F.lit(0).cast("decimal(38,0)"))
                    .alias("h")).collect()[0]
        return row["n"], int(row["h"])

    # localCheckpoint per round: without the lineage cut the alternating-star
    # plan (each round references the previous E several times) grows
    # exponentially and OOMs the driver during analysis — see
    # connected_components for the durability tradeoff.
    sym = (edges.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
           .unionByName(edges.select(F.col(b_col).alias("u"),
                                     F.col(a_col).alias("v")))
           .filter(F.col("u") != F.col("v"))
           .distinct().localCheckpoint())
    nodes = sym.select(F.col("u").alias("node")).distinct()
    E, fp = sym, fingerprint(sym)
    for _ in range(max_iter):
        # lazy: the fingerprint materializes the checkpoint in the same job
        new_E = star(star(E, larger=True),
                     larger=False).localCheckpoint(eager=False)
        new_fp = fingerprint(new_E)
        E = new_E
        if new_fp == fp:
            break
        fp = new_fp
    else:
        raise RuntimeError(
            f"connected_components_bigstar did not converge in {max_iter} "
            "rounds (expected O(log^2 n) — check for pathological input)")
    # fixed point: every component is a star centered at its min node; a
    # non-center's only neighbor is the center, while the center's neighbors
    # are all LARGER — least(u, min(v)) covers both
    centers = (E.groupBy("u").agg(F.min("v").alias("mn"))
               .select("u", F.least("u", "mn").alias("cluster_id")))
    # per-round localCheckpoint blocks are freed by Spark's ContextCleaner
    # once the intermediate DataFrames go out of scope (unpersist() has no
    # effect on checkpointed frames); the returned plan references only the
    # final E
    return (nodes.join(centers, nodes.node == centers.u, "left")
            .select("node", F.coalesce(F.col("cluster_id"), F.col("node"))
                    .alias("cluster_id")))


def compute_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       n: int = N_MINHASH) -> DataFrame:
    """(doc_id, sig) minhash signature table for ``df`` — the unit every
    LSH variant here joins on and the schema the signature store persists."""
    return spread(df).select(
        qcol(id_col).alias("doc_id"),
        minhash_signature(text_col, n).alias("sig"))


@locked_by("path")
def write_signature_store(df: DataFrame, path: str,
                          text_col: str = "text", id_col: str = "doc_id",
                          n: int = N_MINHASH, mode: str = "overwrite") -> None:
    """Persist the corpus (doc_id, sig) table as parquet — the artifact a
    daily-ingest pipeline carries between runs.  Text is processed exactly
    once per document EVER: tomorrow's run reads this narrow table back
    (:func:`read_signature_store`) instead of re-shingling the corpus, so
    the per-day cost tracks the ingest size, not the corpus size.  Append
    the accepted batch with ``mode="append"`` after its dedup decision
    (:func:`append_signature_store`) to commit the day's growth.

    At 100 TB of text the store is ~1% of corpus bytes (128 longs + id per
    doc), scans at full parquet speed, and is the natural bucketing
    candidate (by doc_id) if downstream re-attachment joins dominate.

    A schema-registered store validates the write (ingest semantics:
    unregistered columns raise — evolve first; registered columns the
    batch lacks pad NULL so old producers keep working; explicit NULLs
    store as NULL).
    """
    from localsql_spark.sinks.schema_evolution import (read_registry,
                                                       reconcile_frame)
    sigs = compute_signatures(df, text_col, id_col, n)
    if read_registry(path) is not None:
        sigs = reconcile_frame(sigs, path, mode="write")
    sigs.write.mode(mode).parquet(path)


def append_signature_store(df: DataFrame, path: str,
                           text_col: str = "text", id_col: str = "doc_id",
                           n: int = N_MINHASH) -> None:
    """Commit a new batch's signatures into the store (post-dedup step of
    the daily loop: detect against the store, drop dupes, append keepers)."""
    write_signature_store(df, path, text_col, id_col, n, mode="append")


def read_signature_store(spark: SparkSession, path: str,
                         mode: str = "read") -> DataFrame:
    """The previous run's (doc_id, sig) table — a narrow columnar scan with
    no text processing at all.  Covers all three layouts: flat part-files
    (batch ``write``/``append``), per-batch subdirectories (the streaming
    ingest sink's idempotent layout, streaming/stream_dedup_ingest.py),
    and the compacted-generation layout (streaming/batch_dirs.py) — the
    generation resolver is used whenever an ``upto_*`` dir exists, so a
    compaction that committed but hasn't cleaned up never double-reads.

    A schema-registered store (sinks/schema_evolution.py: _schema.json
    next to the bytes) reads every file vintage under the registry's
    explicit evolved schema and returns ALL registered columns
    reconciled (files written before an evolution yield nulls/read-
    defaults in the added columns); unregistered stores keep the
    original narrow (doc_id, sig) contract bit-unchanged.
    ``mode="write"`` is for reads feeding a REWRITE (compaction, erase):
    it skips the read-default coalesce so rewritten bytes stay
    canonical."""
    from pathlib import Path as _P

    from localsql_spark.sinks.schema_evolution import (evolved_read_schema,
                                                       read_registry,
                                                       reconcile_frame)

    registry = read_registry(path)
    reg = registry is not None
    ddl = evolved_read_schema(path) if reg else None
    cols = list(registry[-1]["columns"]) if reg else ["doc_id", "sig"]

    def _reader():
        r = spark.read.option("recursiveFileLookup", "true")
        return r.schema(ddl) if ddl is not None else r

    def _finish(df: DataFrame) -> DataFrame:
        return reconcile_frame(df, path, mode=mode) if reg else df

    if any(_P(path).glob("upto_*")):
        # the committed-parts rule (newest generation + _SUCCESS-gated
        # batch dirs) lives in read_batches — the schema parameter keeps
        # the registered read on the same single implementation
        from localsql_spark.streaming.batch_dirs import read_batches
        sigs = read_batches(spark, path, schema=ddl).select(*cols)
        flat = [str(p) for p in _P(path).glob("*.parquet")]
        if flat:  # mixed layout: batch-writer flat files + generations
            sigs = sigs.unionByName(
                _reader().parquet(*flat).select(*cols))
        return _finish(sigs)
    return _finish(_reader().parquet(path).select(*cols))


def _carry_schema_registry(store, tmp) -> None:
    """A whole-dir swap replaces the store directory wholesale — the
    schema-evolution registry (_schema.json, sinks/schema_evolution.py)
    lives INSIDE it and must ride into the replacement, or the swap
    silently de-registers the store (found round 13: a compaction
    dropped the registry with the old generation and the next read fell
    back to the narrow unregistered contract)."""
    from localsql_spark.sinks.schema_evolution import carry_registry
    carry_registry(store, tmp)


def _heal_store_swap(path: str) -> None:
    """Recover a signature store whose whole-dir swap (erase or
    compaction) crashed between its two renames: the store then lives
    only at the hidden ``.NAME.old`` backup (and possibly a completed
    ``.NAME.erasing``/``.NAME.compact`` replacement).  A complete
    replacement (Spark's _SUCCESS present) is committed forward;
    otherwise the backup restores the pre-swap state (re-running the
    erase/compaction redoes the work).  Called by the swap writers on
    entry — readers stay read-only."""
    import shutil
    from pathlib import Path

    store = Path(path)
    if store.is_symlink():
        # generation-pointer layout (sinks.generations): swaps commit
        # atomically, so only a dangling pointer needs healing
        from localsql_spark.sinks.generations import heal_store
        heal_store(path)
        return
    if store.exists():
        return
    for suffix in (".erasing", ".compact"):
        tmp = store.parent / f".{store.name}{suffix}"
        if tmp.exists() and (tmp / "_SUCCESS").exists():
            tmp.rename(store)  # roll FORWARD: replacement was complete
            shutil.rmtree(store.parent / f".{store.name}.old",
                          ignore_errors=True)
            return
    old = store.parent / f".{store.name}.old"
    if old.exists():
        old.rename(store)  # roll BACK to the pre-swap state


@locked_by("path")
def compact_signature_store(spark: SparkSession, path: str,
                            target_files: int | None = None) -> int:
    """Rewrite a signature store's accumulated per-batch subdirectories
    (the streaming ingest sink grows one per micro-batch) into flat
    part-files — the small-file compaction every long-running ingest needs:
    thousands of KB-scale batch dirs each cost an open + footer parse +
    task schedule on every probe.  Whole-store swap, committed
    reader-atomically (``sinks.generations`` pointer flip).  Single-writer
    is ENFORCED, not advised: this function holds the store's maintenance
    lock for its whole read→rewrite→flip, and the streaming ingest sink
    takes the same lock around its batch-dir append — a stream batch can
    no longer land between the compactor's read and its commit and ride
    off with the displaced generation (advice r13); it gets
    MaintenanceBusy and is redelivered instead.
    ``target_files`` coalesces the rewrite to at most that many part
    files (the steady-state bound a debris census can gate on —
    without it the rewrite emits one file per shuffle partition and a
    file-count-based "needs compacting?" check would re-trigger every
    pass).  Returns the row count of the compacted store."""
    import shutil
    from pathlib import Path

    store = Path(path)
    _heal_store_swap(path)
    # mode='write': the compacted bytes must stay canonical (no
    # read-default coalesce baked into the rewrite)
    df = read_signature_store(spark, str(store), mode="write")
    if target_files is not None:
        df = df.coalesce(target_files)
    tmp = store.parent / f".{store.name}.compact"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(str(tmp))
    _carry_schema_registry(store, tmp)
    n = spark.read.parquet(str(tmp)).count()
    # READER-atomic commit: one symlink flip over the store pointer
    # (sinks.generations), no store-missing window between renames
    from localsql_spark.sinks.generations import commit_store_swap
    commit_store_swap(store, tmp)
    return n


def _drop_hot_buckets(banded: DataFrame, bucket_cap: int) -> DataFrame:
    """Drop over-cap (band_id, band_key) buckets — the LSH skew guard shared
    by every probe path: a batch doc hitting a mass-duplicate corpus bucket
    would generate |bucket| candidates on its own.  Over-cap members are
    near-certain exact/near-exact duplicates, exact_dedup's job.  Single
    bounded histogram collect, local isin filter (see minhash_lsh_pairs)."""
    hot_keys = [f"{r[0]}:{r[1]}" for r in
                (banded.groupBy("band_id", "band_key")
                 .agg(F.count(F.lit(1)).alias("sz"))
                 .filter(F.col("sz") > bucket_cap)
                 .select("band_id", "band_key")
                 .collect())]
    if not hot_keys:
        return banded
    return banded.filter(
        ~F.concat_ws(":", F.col("band_id"), F.col("band_key"))
        .isin(hot_keys))


def write_banded_index(sigs: DataFrame, path: str, n: int = N_MINHASH,
                       bands: int = N_BANDS, mode: str = "overwrite",
                       bucket_cap: int | None = None) -> None:
    """Persist the LSH band table hive-partitioned by the band key's first
    two hex chars (256 partitions) — the store layout that makes the daily
    probe PARTITION-PRUNED instead of linear in the corpus.

    The flat signature store's probe must scan + band every corpus
    signature each day (SCALE.md: cost tracks the corpus).  This index
    pays the banding shuffle ONCE at write time; a probe then reads only
    the ``bk_prefix=`` directories the new batch's band keys actually hit
    — a small batch touches a fraction of the 256 partitions, and the plan
    carries the prune as a PartitionFilters entry (plan-asserted in
    tests).  A batch large enough to hit all 256 prefixes degrades to the
    flat scan, never worse.  ~32x the signature store's row count but only
    (id, band ids) wide; append new batches with ``mode='append'``.

    ``bucket_cap`` drops over-cap buckets AT WRITE TIME — a mass-duplicate
    corpus bucket would hand every future probe |bucket| candidates per
    colliding batch doc; capping once in the index is cheaper than capping
    every probe (run exact_dedup first, as with minhash_lsh_pairs)."""
    banded = band_keys(sigs, n, bands)
    if bucket_cap is not None:
        banded = _drop_hot_buckets(banded, bucket_cap)
    # repartition ON the partition column before the hive write: without
    # it every task writes into every bk_prefix dir — up to tasks x 256
    # small files per build (measured 17x wall on the store-probe bench);
    # with it, one file per touched prefix dir
    (banded.withColumn("bk_prefix", F.substring("band_key", 1, 2))
     .repartition(F.col("bk_prefix"))
     .write.mode(mode).partitionBy("bk_prefix").parquet(path))


def minhash_lsh_pairs_from_banded_index(
        spark: SparkSession, index_path: str, sig_store_path: str,
        new: DataFrame, text_col: str = "text", id_col: str = "doc_id",
        threshold: float = 0.5, n: int = N_MINHASH,
        bands: int = N_BANDS) -> DataFrame:
    """Incremental near-dup probe against the band-partitioned index:
    candidate generation reads ONLY the index partitions the batch's band
    keys hit (driver sees the ≤256 touched prefixes, nothing else), then
    signatures for scoring re-attach from the flat store restricted to
    candidates.  Same pairs as :func:`minhash_lsh_pairs_from_store`
    (property-tested); the whole-store scan+band+shuffle of the flat path
    is replaced by a pruned columnar read."""
    sig_new = track_persist(compute_signatures(new, text_col, id_col, n))
    new_banded = track_persist(
        band_keys(sig_new, n, bands)
        .withColumn("bk_prefix", F.substring("band_key", 1, 2)))
    prefixes = [r[0] for r in
                new_banded.select("bk_prefix").distinct().collect()]
    # one-string IN predicate: Column.isin(256 values) builds one py4j
    # literal per value (~0.3s of driver time per probe); the prefixes
    # are 2-char hex substrings of md5 output, safe to inline
    in_list = ",".join(f"'{p}'" for p in sorted(prefixes))
    idx = (spark.read.option("basePath", index_path).parquet(index_path)
           .filter(F.expr(f"bk_prefix IN ({in_list})") if prefixes
                   else F.lit(False)))
    a = (idx.select(F.col("doc_id").alias("ida"), "band_id", "band_key")
         .unionByName(new_banded.select(F.col("doc_id").alias("ida"),
                                        "band_id", "band_key")))
    b = new_banded.select(F.col("doc_id").alias("idb"), "band_id",
                          "band_key")
    pairs = (a.join(b, ["band_id", "band_key"])
             .filter(F.col("ida") != F.col("idb"))
             .select(F.least("ida", "idb").alias("doc_a"),
                     F.greatest("ida", "idb").alias("doc_b"))
             .distinct())
    # narrow to the probe contract: a schema-registered store returns
    # ALL registered columns, and the union with compute_signatures'
    # (doc_id, sig) frame must stay shape-stable (review round 13)
    sig_all = (read_signature_store(spark, sig_store_path)
               .select("doc_id", "sig")
               .unionByName(sig_new))
    sa = sig_all.select(F.col("doc_id").alias("doc_a"),
                        F.col("sig").alias("sig_a"))
    sb = sig_all.select(F.col("doc_id").alias("doc_b"),
                        F.col("sig").alias("sig_b"))
    pairsig = pairs.join(sa, "doc_a").join(sb, "doc_b")
    return (pairsig.select("doc_a", "doc_b", F.expr(_est_jaccard(n)))
            .filter(F.col("est_jaccard") >= threshold))


def minhash_lsh_pairs_incremental(corpus: DataFrame, new: DataFrame,
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  threshold: float = 0.5,
                                  n: int = N_MINHASH,
                                  bands: int = N_BANDS,
                                  bucket_cap: int | None = None) -> DataFrame:
    """Near-dup pairs TOUCHING a new batch only — the daily-ingest dedup
    shape: yesterday's corpus was already deduped, so corpus-vs-corpus
    pairs must never be re-compared.  One band join side is restricted to
    the new batch, so join work is O(new x bands) probes against the
    corpus index instead of O(corpus²): ingesting 0.1% new data costs
    ~0.1% of a full re-dedup.

    The corpus signature table here is recomputed from text for oracle
    checkability; :func:`minhash_lsh_pairs_from_store` is the production
    twin that reads the persisted store instead.

    Returns (doc_a, doc_b, est_jaccard) with doc_a < doc_b, where at least
    one side is from the new batch (new-new pairs included once).
    """
    return pairs_touching_new(
        compute_signatures(corpus, text_col, id_col, n),
        compute_signatures(new, text_col, id_col, n),
        threshold=threshold, n=n, bands=bands, bucket_cap=bucket_cap)


def _store_file_listing(store_path: str) -> list[list]:
    """Pure-filesystem fingerprint of a signature store: sorted
    (relative path, size, mtime_ns) of every parquet part-file.
    Detecting index staleness from metadata alone keeps the freshness
    check O(files), never a data scan — the scan is exactly what the
    index exists to avoid.  mtime_ns is in the tuple so a part-file
    rewritten in place with the same name and size (non-Spark writer,
    manual edit, copy-restore) still reads as a change and forces a
    rebuild."""
    from pathlib import Path

    root = Path(store_path)
    return sorted([str(p.relative_to(root)), st.st_size, st.st_mtime_ns]
                  for p in root.rglob("*.parquet")
                  for st in [p.stat()])


class IndexMaintenanceBusy(OSError):
    """Another process holds the index maintenance lock; the caller
    should fall back to the flat store scan for this probe."""


_INDEX_LOCK_STALE_S = 3600.0


def _break_stale_lock(lock, brk) -> None:
    """Serialized stale-lock break.  An O_CREAT|O_EXCL create of the
    sidecar ``.break`` file is the breakers' mutex: exactly one of N
    concurrent breakers wins it (losers fall through to the ordinary
    create/Busy path), and the winner RE-VERIFIES staleness under the
    mutex before unlinking — so a second breaker can never unlink the
    first breaker's fresh lock (the r9-verdict TOCTOU: both observed a
    >1h lock, both unlinked, both acquired).  A ``.break`` file itself
    older than the stale threshold is an abandoned breaker and is
    cleared first."""
    import os
    import time
    try:
        if time.time() - brk.stat().st_mtime > _INDEX_LOCK_STALE_S:
            # breaker crashed mid-break: CLAIM the abandoned .break by
            # renaming it aside (atomic, single-winner) instead of
            # unlinking it in place — two breakers that both stat a
            # stale .break and both unlink could otherwise remove each
            # other's freshly re-created file and run the re-verify
            # section concurrently (advisor r10); rename losers get
            # ENOENT and fall through to the O_EXCL create, which the
            # claim winner then wins or loses normally
            claimed = brk.with_name(f"{brk.name}.claimed.{os.getpid()}")
            os.rename(brk, claimed)
            claimed.unlink(missing_ok=True)
    except OSError:
        pass
    try:
        bfd = os.open(brk, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return  # another breaker is mid-break; the create path decides
    try:
        try:
            if time.time() - lock.stat().st_mtime > _INDEX_LOCK_STALE_S:
                lock.unlink(missing_ok=True)  # still stale under the mutex
        except OSError:
            pass
    finally:
        os.close(bfd)
        brk.unlink(missing_ok=True)


def _index_lock(index_path: str):
    """Advisory single-writer lock for index maintenance, as a context
    manager.  Acquisition is an O_CREAT|O_EXCL create of ``<index>.lock``
    — atomic on POSIX local filesystems.  A lock file older than
    ``_INDEX_LOCK_STALE_S`` is presumed abandoned by a crashed writer and
    broken via :func:`_break_stale_lock` (a serialized, re-verified
    unlink) before one retry; live contention raises
    :class:`IndexMaintenanceBusy` instead of blocking, because the caller
    has a correct (just slower) flat-scan fallback."""
    import contextlib
    import os
    import time
    from pathlib import Path

    @contextlib.contextmanager
    def _cm():
        lock = Path(str(index_path).rstrip("/") + ".lock")
        brk = Path(str(index_path).rstrip("/") + ".lock.break")
        lock.parent.mkdir(parents=True, exist_ok=True)
        for attempt in range(2):
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                break
            except FileExistsError:
                try:
                    age = time.time() - lock.stat().st_mtime
                except OSError:
                    continue  # holder just released; retry the create
                if attempt == 0 and age > _INDEX_LOCK_STALE_S:
                    _break_stale_lock(lock, brk)
                    continue
                raise IndexMaintenanceBusy(
                    f"index maintenance lock held: {lock}")
        else:
            raise IndexMaintenanceBusy(
                f"index maintenance lock held: {lock}")
        try:
            os.write(fd, f"pid={os.getpid()}\n".encode())
            os.close(fd)
            yield
        finally:
            lock.unlink(missing_ok=True)

    return _cm()


def ensure_banded_index(spark: SparkSession, store_path: str,
                        index_path: str, n: int = N_MINHASH,
                        bands: int = N_BANDS,
                        bucket_cap: int | None = None) -> str:
    """Keep a band-partitioned sidecar index in sync with a signature
    store; returns 'fresh' | 'appended' | 'rebuilt'.

    Sync is incremental along the store's own growth pattern: the meta
    file records the store's part-file listing (path, size, mtime_ns)
    and the ``bucket_cap`` at last sync, so a daily
    ``append_signature_store`` shows up as ADDED files only — just those
    files are read, banded and appended (with the same cap), O(new) per
    day.  Any removed or rewritten file (a store compaction), or a cap
    change, forces one full rebuild (written to a mkdtemp-unique staged
    dir, then committed).  The meta commit (tmp+rename) happens AFTER
    the index append; a crash between the two re-appends the same batch
    next run — duplicate index rows are harmless because candidate pairs
    are ``distinct()``-ed, and the next compaction-triggered rebuild
    clears them.

    Concurrency: maintenance is SINGLE-WRITER, enforced by an advisory
    ``<index>.lock`` taken only when the freshness probe says work is
    needed (the steady-state 'fresh' path stays lock-free).  A second
    concurrent maintainer raises :class:`IndexMaintenanceBusy`;
    :func:`minhash_lsh_pairs_from_store` catches it and serves that
    probe from the flat store scan.  The rebuild commit (rmtree + rename
    of the staged dir onto ``index_path``) is safe exactly because the
    lock serializes writers; direct readers of the index that do not go
    through the probing entry point must not run concurrently with a
    compaction-triggered rebuild.

    Note on append + bucket_cap: appends apply the cap per appended
    batch (a global recount would be a full-index scan, defeating the
    O(new) append); a corpus bucket that crosses the cap only across
    batches is re-capped globally at the next compaction-triggered
    rebuild."""
    import json
    import os
    import shutil
    import tempfile
    from pathlib import Path

    meta = Path(index_path) / "_meta.json"

    def _read_meta() -> dict | None:
        if not meta.exists():
            return None
        try:
            m = json.loads(meta.read_text())
        except ValueError:
            return None
        # legacy format (bare listing, pre-mtime): always stale now
        return m if isinstance(m, dict) else None

    cur = _store_file_listing(store_path)
    prev = _read_meta()
    if prev is not None and prev.get("files") == cur \
            and prev.get("bucket_cap") == bucket_cap:
        return "fresh"

    with _index_lock(index_path):
        # double-check under the lock: another maintainer may have
        # synced while we waited for the freshness probe
        cur = _store_file_listing(store_path)
        prev = _read_meta()
        if prev is not None and prev.get("files") == cur \
                and prev.get("bucket_cap") == bucket_cap:
            return "fresh"

        root = Path(store_path)
        state = "rebuilt"
        if prev is not None and prev.get("bucket_cap") == bucket_cap:
            prev_set = {tuple(f) for f in prev.get("files", [])}
            cur_set = {tuple(f) for f in cur}
            if prev_set <= cur_set:  # pure growth: band the added files
                added = [str(root / rel) for rel, _size, _mt in
                         sorted(cur_set - prev_set)]
                sigs = (spark.read.parquet(*added)
                        .select("doc_id", "sig"))
                write_banded_index(sigs, index_path, n, bands,
                                   mode="append", bucket_cap=bucket_cap)
                state = "appended"
        if state == "rebuilt":
            parent = Path(index_path).parent
            parent.mkdir(parents=True, exist_ok=True)
            staged = tempfile.mkdtemp(
                prefix=f".{Path(index_path).name}.staged-", dir=parent)
            try:
                write_banded_index(
                    read_signature_store(spark, store_path)
                    .select("doc_id", "sig"),
                    staged, n, bands, bucket_cap=bucket_cap)
                # a pending partial-erase manifest from a crashed
                # erase_from_signature_store is superseded by this
                # rebuild (built from the post-erase store) — clear it,
                # or the next recover_pending_merge would replay stale
                # pre-rebuild partitions over the fresh index
                from localsql_spark.sinks.merge import _manifest_path
                base = Path(index_path)
                _manifest_path(base).unlink(missing_ok=True)
                shutil.rmtree(base.parent / f".{base.name}.staging",
                              ignore_errors=True)
                # READER-atomic commit: the old rmtree+rename pair left
                # an index-missing window a concurrent probe could hit.
                # retain_displaced=False: a post-erase rebuild's
                # displaced index still maps erased doc_ids
                from localsql_spark.sinks.generations import \
                    commit_store_swap
                commit_store_swap(base, Path(staged),
                                  retain_displaced=False)
            except BaseException:
                shutil.rmtree(staged, ignore_errors=True)
                raise
        tmp = Path(str(meta) + f".tmp.{os.getpid()}")
        tmp.write_text(json.dumps({"files": cur, "bucket_cap": bucket_cap}))
        os.rename(tmp, meta)
        return state


def minhash_lsh_pairs_from_store(spark: SparkSession, store_path: str,
                                 new: DataFrame, text_col: str = "text",
                                 id_col: str = "doc_id",
                                 threshold: float = 0.5,
                                 n: int = N_MINHASH,
                                 bands: int = N_BANDS,
                                 bucket_cap: int | None = None,
                                 index_path: str | None = None,
                                 auto_index: bool = True) -> DataFrame:
    """Production incremental near-dup: probe the PERSISTED signature store
    with a new batch.  The corpus side never re-shingles text — and with
    ``auto_index`` (the default) it is not even a linear store scan: a
    band-partitioned sidecar index (``<store>_banded``, maintained
    incrementally by :func:`ensure_banded_index`) turns candidate
    generation into a partition-pruned read of only the ``bk_prefix=``
    directories the batch's band keys hit.  The flat-scan path remains
    behind ``auto_index=False`` (or a store the index can't mirror) and
    is property-tested equal.  Daily cost: O(new x bands) probes + a
    pruned columnar read + O(new) index maintenance — the store scan
    SCALE.md documents as the flat path's linear term is gone.
    Concurrent probes of the same store are safe: index maintenance is
    serialized by an advisory lock, and a probe that loses the lock race
    serves its batch from the flat scan instead of waiting (same rows,
    property-tested).  Same
    result as :func:`minhash_lsh_pairs_incremental` given the store was
    written by :func:`write_signature_store` over the same corpus
    (property-tested in tests/test_properties.py)."""
    if auto_index:
        # bucket_cap semantics differ between paths (probe-time cap vs
        # write-time cap), so the index fast-path only serves the
        # cap-free probe — the capped call keeps the flat path
        if bucket_cap is None:
            idx = index_path or f"{store_path.rstrip('/')}_banded"
            try:
                ensure_banded_index(spark, store_path, idx, n, bands)
            except IndexMaintenanceBusy:
                pass  # another probe is maintaining; flat scan this one
            else:
                return minhash_lsh_pairs_from_banded_index(
                    spark, idx, store_path, new, text_col, id_col,
                    threshold, n, bands)
    return pairs_touching_new(
        read_signature_store(spark, store_path).select("doc_id", "sig"),
        compute_signatures(new, text_col, id_col, n),
        threshold=threshold, n=n, bands=bands, bucket_cap=bucket_cap)


def pairs_touching_new(sig_corpus: DataFrame, sig_new: DataFrame,
                       threshold: float, n: int, bands: int,
                       bucket_cap: int | None = None) -> DataFrame:
    """Shared banded-LSH core over precomputed signatures: candidate pairs
    where at least one side is from ``sig_new``, scored by signature-
    component agreement.  Join work is O(new×bands) probes — the corpus
    side is never self-joined."""
    sig_all = track_persist(
        sig_corpus.withColumn("is_new", F.lit(False))
        .unionByName(sig_new.withColumn("is_new", F.lit(True))))
    banded = band_keys(sig_all, n, bands)
    if bucket_cap is not None:
        banded = _drop_hot_buckets(banded, bucket_cap)
    a = banded.select(F.col("doc_id").alias("ida"), "band_id", "band_key")
    b = (banded.filter(F.col("is_new"))
         .select(F.col("doc_id").alias("idb"), "band_id", "band_key"))
    pairs = (a.join(b, ["band_id", "band_key"])
             .filter(F.col("ida") != F.col("idb"))
             .select(F.least("ida", "idb").alias("doc_a"),
                     F.greatest("ida", "idb").alias("doc_b"))
             .distinct())
    sa = sig_all.select(F.col("doc_id").alias("doc_a"),
                        F.col("sig").alias("sig_a"))
    sb = sig_all.select(F.col("doc_id").alias("doc_b"),
                        F.col("sig").alias("sig_b"))
    pairsig = pairs.join(sa, "doc_a").join(sb, "doc_b")
    return (pairsig.select("doc_a", "doc_b", F.expr(_est_jaccard(n)))
            .filter(F.col("est_jaccard") >= threshold))


def containment_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", block_col: str = "lang",
                      threshold: float = 0.6,
                      df_cap: int | None = None) -> DataFrame:
    """Shingle CONTAINMENT for pairs sharing a blocking key: |A ∩ B| /
    min(|A|, |B|) over distinct 3-word shingles — the asymmetric near-dup
    measure that catches a short document embedded verbatim inside a long
    one (quote farms, aggregator pages, doc+boilerplate wrappers), which
    symmetric Jaccard scores near 0 when the size ratio is large
    (Broder's containment measure, the same resemblance/containment split
    as the original MinHash paper).

    Same inverted-index shape as :func:`ngram_jaccard_pairs` — shuffle on
    shingle, intersection falls out of a groupBy, O(n²) never
    materializes; ``df_cap`` drops degenerate shingles.  Returns
    (doc_a, doc_b, containment).
    """
    from pyspark.sql import Window

    sh = spread(df).select(qcol(id_col).alias("doc_id"),
                           qcol(block_col).alias("blk"),
                           F.explode(word_shingles(text_col, 3))
                           .alias("s"))
    if df_cap is not None:
        sh = (sh.withColumn("df", F.count(F.lit(1))
                            .over(Window.partitionBy("s")))
              .filter(F.col("df") <= df_cap).drop("df"))
    sh = track_persist(
        sh.withColumn("n", F.count(F.lit(1))
                      .over(Window.partitionBy("doc_id"))))
    a = sh.select(F.col("doc_id").alias("doc_a"), "blk", "s",
                  F.col("n").alias("na"))
    b = sh.select(F.col("doc_id").alias("doc_b"), "blk", "s",
                  F.col("n").alias("nb"))
    return (a.join(b, ["blk", "s"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("i"),
                 F.min("na").alias("na"), F.min("nb").alias("nb"))
            .select("doc_a", "doc_b",
                    (F.col("i").cast("double")
                     / F.least("na", "nb")).alias("containment"))
            .filter(F.col("containment") >= threshold))


@locked_by("store_path")
def erase_from_signature_store(spark: SparkSession, store_path: str,
                               keys: DataFrame, index_path: str | None = None,
                               n: int = N_MINHASH,
                               bands: int = N_BANDS) -> dict:
    """Right-to-be-forgotten PROPAGATION into the persisted near-dup
    state: remove the erased documents' minhash signatures from the flat
    store AND their band rows from the banded sidecar index, so a
    post-erasure :func:`minhash_lsh_pairs_from_store` probe equals one
    against a store rebuilt from the erased corpus (a signature is a
    content fingerprint — leaving it behind keeps the subject linkable).

    Shapes: the store rewrite is one narrow columnar pass (the store is
    ~1% of corpus bytes and carries no partition key that could bound a
    deletion — a compaction-grade pass, amortized by batching deletion
    requests).  The SIDECAR update is pruned: the erased docs' band keys
    (computed from their stored signatures BEFORE the rewrite) name the
    touched ``bk_prefix`` partitions, only those rewrite through the
    manifest protocol, and ``_meta.json`` re-fingerprints the new store
    under the same ``bucket_cap`` so the next probe serves from the
    updated index without a rebuild.  The whole operation holds the
    index maintenance lock (single-writer, same discipline as
    :func:`ensure_banded_index`); :class:`IndexMaintenanceBusy`
    propagates — an erasure must not be silently skipped.

    Crash windows: store swapped but index/meta not yet updated → the
    stale meta forces a full index rebuild on the next probe (correct,
    slower; the rebuild path clears any pending partial-erase manifest
    it supersedes).  The store rewrite itself commits READER-atomically
    (``sinks.generations``: one symlink flip over the store pointer),
    so there is no mid-swap missing-store state to heal; leftovers from
    the pre-generation protocol are still swept by
    :func:`_heal_store_swap`.  Returns ``{"erased": n_removed, "store_rows": n_after,
    "index_prefixes": [...]}``."""
    import json as _json
    import os as _os
    import shutil as _shutil
    import tempfile as _tempfile
    from pathlib import Path as _P

    from localsql_spark.sinks.erase import normalize_erase_keys
    k = normalize_erase_keys(keys)
    idx = index_path or f"{store_path.rstrip('/')}_banded"

    def _erase() -> dict:
        # has_index is decided INSIDE the lock (advisor r9): deciding it
        # before acquisition let a concurrent ensure_banded_index build
        # and meta-stamp an index from the pre-erase store between the
        # check and the store swap
        nonlocal has_index
        has_index = (_P(idx) / "_meta.json").exists()
        _heal_store_swap(store_path)
        # plain persist, unpersisted in the finally: a cached
        # read_signature_store PLAN would otherwise keep serving the
        # PRE-erase rows to any identical post-erase read of the store
        # (Spark's cache manager matches by canonicalized plan, and the
        # path does not change across the swap) — and a failure AFTER the
        # swap but before cleanup must not leak that stale cache either
        sigs = read_signature_store(spark, store_path,
                                    mode="write").persist()
        try:
            return _erase_inner(sigs)
        finally:
            sigs.unpersist()

    def _erase_inner(sigs) -> dict:
        erased_sigs = sigs.join(
            F.broadcast(k), F.col("doc_id") == F.col("_erase_key"), "semi")
        prefixes = sorted({r[0] for r in (
            band_keys(erased_sigs, n, bands)
            .select(F.substring("band_key", 1, 2).alias("bk_prefix"))
            .distinct().collect())})
        n_erased = erased_sigs.count()
        kept = sigs.join(F.broadcast(k),
                         F.col("doc_id") == F.col("_erase_key"),
                         "left_anti")
        # store rewrite: whole-dir swap, same discipline as
        # compact_signature_store (erase doubles as a compaction)
        store = _P(store_path)
        tmp = store.parent / f".{store.name}.erasing"
        _shutil.rmtree(tmp, ignore_errors=True)
        kept.write.mode("overwrite").parquet(str(tmp))
        _carry_schema_registry(store, tmp)
        n_after = spark.read.parquet(str(tmp)).count()
        # READER-atomic commit (sinks.generations): one symlink flip,
        # no store-missing window between renames.
        # retain_displaced=False: the displaced generation holds the
        # PRE-erase rows — RTBF forbids parking them until a later swap
        from localsql_spark.sinks.generations import commit_store_swap
        commit_store_swap(store, tmp, retain_displaced=False)

        if has_index and prefixes:
            from localsql_spark.sinks.merge import (_apply_manifest,
                                                    _manifest_path,
                                                    recover_pending_merge)
            recover_pending_merge(idx)
            live = (spark.read.option("basePath", idx).parquet(idx)
                    .filter(F.col("bk_prefix").isin(prefixes)))
            kept_idx = live.join(F.broadcast(k),
                                 F.col("doc_id") == F.col("_erase_key"),
                                 "left_anti")
            base = _P(idx)
            staging = base.parent / f".{base.name}.staging"
            _shutil.rmtree(staging, ignore_errors=True)
            (kept_idx.repartition(F.col("bk_prefix"))
             .write.mode("overwrite").partitionBy("bk_prefix")
             .parquet(str(staging)))
            # bk_prefix values are two hex chars — path-safe by
            # construction, so emptied prefixes commit as removals by name
            from localsql_spark.sinks.merge import commit_staged_partitions
            commit_staged_partitions(idx, "bk_prefix",
                                     [f"bk_prefix={p}" for p in prefixes])
        if has_index:
            # re-fingerprint the rewritten store so the next probe serves
            # from the just-updated index instead of forcing a rebuild
            meta = _P(idx) / "_meta.json"
            try:
                cap = _json.loads(meta.read_text()).get("bucket_cap")
            except (OSError, ValueError):
                cap = None
            mtmp = _P(str(meta) + f".tmp.{_os.getpid()}")
            mtmp.write_text(_json.dumps(
                {"files": _store_file_listing(store_path),
                 "bucket_cap": cap}))
            _os.rename(mtmp, meta)
        return {"erased": n_erased, "store_rows": n_after,
                "index_prefixes": prefixes if has_index else []}

    # ALWAYS acquire the maintenance lock (advisor r10): the lock file
    # lives NEXT TO the index path and needs no index dir, so nothing is
    # saved by gating acquisition on _P(idx).exists() — and that gate was
    # itself a race (a builder creating the dir just after the check left
    # this erase running unlocked while the builder held the lock)
    has_index = False
    with _index_lock(idx):
        return _erase()
