"""Data-selection operators: DSIR importance resampling and Gopher-style
rule filtering — the "which documents go into the training mix" stage of an
LLM data pipeline.

These extend the reference's surface (localsql has no corpus tooling — its
entire relational layer is a SQLite delegate, localsql/localsql.py:230)
along the same axis as operators.corpus.

DSIR follows Xie et al., "Data Selection for Language Models via Importance
Resampling" (arXiv:2302.03169 — public algorithm): represent documents as
bags of hashed n-gram features, fit unigram bucket distributions for the
TARGET domain and the RAW pool, weight every raw document by its
log-likelihood ratio under the two distributions, and resample with
Gumbel-top-k.  The hashed-feature trick is what makes it 100 TB-friendly:
both "models" are fixed-size bucket histograms (one bounded aggregation
each), and scoring is a broadcast join against a <= n_buckets-row table.

Gopher rule filtering follows Rae et al., "Scaling Language Models: Methods,
Analysis & Insights from Training Gopher" (arXiv:2112.11446, Appendix A) —
the standard battery of row-local document-quality heuristics.

Determinism contract (shared with the whole workload registry): hashing is
the portable md5-prefix ``hash32`` idiom, per-feature log-ratios are rounded
to 9 decimals and summed as DECIMAL(28,9) so partial-aggregation order can
never perturb a document score, and the Gumbel perturbation derives its
uniform from ``hash32`` — bit-reproducible across engines and runs.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from localsql_spark.sinks.locks import locked_by

from localsql_spark.operators import hash32
from localsql_spark.operators import text as T


def _features(text: Column) -> Column:
    """Hashed-feature token stream: normalized unigrams + adjacent bigrams
    (the arXiv:2302.03169 feature set).  Row-local array expression.

    Two trip-wires, both unit-pinned: (1) ``slice``'s length must be the
    exact ``size-1``, NOT an Int32.MaxValue "rest of the array" cap —
    Spark computes start+length in 32-bit, the cap overflows, and the
    silently-truncated slice makes ``zip_with`` pad nulls so every
    "bigram" degrades to its first token; (2) ``zip_with`` pads the
    shorter side with null and ``concat_ws`` SKIPS nulls, so the raw
    zip's last element would be a spurious unigram — slice to the n-1
    true bigrams (slice length 0 -> empty array for 0/1-token docs).
    """
    toks = F.array_remove(F.split(T.normalize_text(text), " "), "")
    rest_len = F.greatest(F.size(toks) - 1, F.lit(0))
    zipped = F.zip_with(toks, F.slice(toks, 2, rest_len),
                        lambda a, b: F.concat_ws(" ", a, b))
    bigrams = F.slice(zipped, 1, rest_len)
    return F.concat(toks, bigrams)


def hashed_feature_stream(docs: DataFrame, n_buckets: int = 1024,
                          doc_id_col: str = "doc_id",
                          text_col: str = "text") -> DataFrame:
    """One row per (doc, feature occurrence) with its hash bucket — the
    exploded stream both the model fit and the scoring pass consume.
    Row-local (explode + hash + mod): zero shuffles on its own."""
    from localsql_spark.operators import spread
    return (spread(docs).select(doc_id_col,
                                F.explode(_features(F.col(text_col)))
                                .alias("feat"))
            .withColumn("bucket",
                        F.pmod(hash32(F.col("feat")), F.lit(n_buckets))))


def dsir_weights(docs: DataFrame, is_target: Column,
                 n_buckets: int = 1024, smoothing: float = 1.0,
                 doc_id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Per-document DSIR importance log-weight: sum over the document's
    hashed features of ``log10 p_target(bucket) - log10 p_raw(bucket)``
    (add-``smoothing`` Laplace estimates over ``n_buckets``).

    ``is_target`` is a boolean Column over ``docs`` marking the in-domain
    exemplar set (the "quality" side of the ratio); the raw model is fit on
    ALL of ``docs``, matching the paper's raw-pool formulation.

    Output: ``doc_id, n_feats, logw`` (9-decimal per-feature ratios summed
    as DECIMAL(28,9) — aggregation-order-proof — then surfaced as a
    6-decimal double).

    Scale shape: one explode pass feeds BOTH distributions (a single
    ``n_buckets``-row conditional aggregation — map-side combined, bounded
    fan-in), the per-bucket ratio table broadcasts (<= n_buckets rows), and
    the per-doc score is one doc-key shuffle.  Nothing driver-side, nothing
    proportional to vocabulary: the hashed model stays exactly
    ``n_buckets`` rows at any corpus size.
    """
    # _tgt rides along the explode so ONE pass fits both histograms
    from localsql_spark.operators import spread
    feats = (spread(docs)
             .select(doc_id_col, is_target.alias("_tgt"),
                     F.explode(_features(F.col(text_col))).alias("feat"))
             .withColumn("bucket",
                         F.pmod(hash32(F.col("feat")), F.lit(n_buckets))))
    hist = (feats.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("raw_cnt"),
                 F.sum(F.col("_tgt").cast("long")).alias("tgt_cnt")))
    # totals as window sums over the BOUNDED n_buckets-row histogram (one
    # task, <= n_buckets rows) — a separate .agg() would make Catalyst
    # expand `hist` twice and re-run the whole corpus explode for it
    from pyspark.sql import Window
    whole = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
                                             Window.unboundedFollowing)
    b, s = float(n_buckets), float(smoothing)
    ratio = (hist
             .withColumn("raw_tot", F.sum("raw_cnt").over(whole))
             .withColumn("tgt_tot", F.sum("tgt_cnt").over(whole))
             .select("bucket",
                     F.round(
                         F.log10((F.col("tgt_cnt") + s)
                                 / (F.col("tgt_tot") + s * b))
                         - F.log10((F.col("raw_cnt") + s)
                                   / (F.col("raw_tot") + s * b)),
                         9).cast("decimal(28,9)").alias("lr")))
    # the DECIMAL sum is exact; the single double cast + round is the
    # engine-portable output form (float64 on both sides of the oracle)
    return (feats.join(F.broadcast(ratio), "bucket")
            .groupBy(doc_id_col)
            .agg(F.count(F.lit(1)).alias("n_feats"),
                 F.round(F.sum("lr").cast("double"), 6).alias("logw")))


def gumbel_key(logw: Column, id_col: Column, seed: int = 0) -> Column:
    """Deterministic Gumbel perturbation for weighted sampling without
    replacement (Gumbel-top-k): ``logw + (-ln(-ln(u)))`` with the uniform
    ``u = (hash32(id || seed) + 0.5) / 2^32`` — reproducible across engines
    (the DuckDB oracle evaluates the identical scalar expression) and runs,
    unlike ``rand()``.  Top-k by this key IS a weighted sample: P(doc in
    sample) follows its softmax weight (Gumbel-max trick, public result).
    """
    u = (hash32(F.concat(id_col.cast("string"), F.lit(f"#{seed}")))
         + F.lit(0.5)) / F.lit(4294967296.0)
    return logw.cast("double") + (-F.log(-F.log(u)))


def dsir_resample(weighted: DataFrame, k: int, seed: int = 0,
                  doc_id_col: str = "doc_id",
                  logw_col: str = "logw") -> DataFrame:
    """Gumbel-top-k resampling over DSIR log-weights: the k documents with
    the largest ``logw + Gumbel(hash-seeded)`` keys — a without-replacement
    weighted sample of the raw pool tilted toward the target domain.

    Output adds ``sample_key`` (rounded to 6 decimals for portable
    comparison); ties broken on ``doc_id`` so LIMIT is engine-stable.

    Scale shape: global top-k = TakeOrderedAndProject (per-partition heaps,
    no full sort, no full shuffle) — the same plan the relational top-k
    family pins in tests/test_plan_shapes.py.
    """
    return (weighted
            .withColumn("sample_key",
                        F.round(gumbel_key(F.col(logw_col),
                                           F.col(doc_id_col), seed), 6))
            .orderBy(F.col("sample_key").desc(), F.col(doc_id_col))
            .limit(k))


# ---------------------------------------------------------------------------
# Gopher-style rule filtering
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(docs: DataFrame, doc_id_col: str = "doc_id",
                         text_col: str = "text",
                         min_words: int = 8, max_words: int = 100_000,
                         min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                         max_symbol_ratio: float = 0.1,
                         min_alpha_ratio: float = 0.8,
                         min_stopwords: int = 2) -> DataFrame:
    """Gopher rule battery (arXiv:2112.11446 Appendix A), one row per doc:
    the measured statistics, one boolean per rule, and the AND of them as
    ``keep``.  The word-count bounds default to the testdata's scale
    (min_words=8) rather than the paper's web-scale 50 — thresholds are
    parameters, the rules are the point.

    - ``rule_word_count``: ``min_words <= n_words <= max_words``;
    - ``rule_mean_word_len``: mean word length in [min_mean_wl, max_mean_wl];
    - ``rule_symbol_ratio``: ('#' or '...') occurrences / words <= max;
    - ``rule_alpha_words``: fraction of words containing an alphabetic
      character >= min_alpha_ratio;
    - ``rule_stopwords``: >= min_stopwords DISTINCT stopwords present.

    Entirely row-local column expressions (split / filter / aggregate over
    the token array): zero shuffles, linear scan, trivially parallel at any
    corpus size — the cheap first gate before any pairwise dedup runs.
    Ratios are rounded to 6 decimals (portable across engines).
    """
    toks = F.filter(F.split(T.normalize_text(F.col(text_col)), " "),
                    lambda w: w != "")
    n_words = F.size(toks)
    # try_divide: empty docs (n_words == 0) yield null ratios rather than
    # an ANSI division-by-zero error; the rule booleans below then force
    # FALSE (never null) for those docs.
    mean_wl = F.round(F.try_divide(
        F.aggregate(toks, F.lit(0).cast("decimal(28,9)"),
                    lambda acc, w: (acc + F.length(w).cast("decimal(28,9)"))
                    .cast("decimal(28,9)")).cast("double"),
        n_words), 6)
    # OCCURRENCE count ('...' is one symbol, not three chars) — must agree
    # with the oracle's len(regexp_extract_all(...))
    n_symbols = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\."))
    symbol_ratio = F.round(F.try_divide(n_symbols.cast("double"), n_words), 6)
    n_alpha = F.size(F.filter(toks, lambda w: w.rlike("[a-z]")))
    alpha_ratio = F.round(F.try_divide(n_alpha.cast("double"), n_words), 6)
    n_stop = F.size(F.array_distinct(
        F.filter(toks, lambda w: functools.reduce(
            operator.or_, [w == F.lit(s) for s in _GOPHER_STOPWORDS]))))
    out = (docs.select(
        doc_id_col,
        n_words.cast("bigint").alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        alpha_ratio.alias("alpha_ratio"),
        n_stop.cast("bigint").alias("n_stopwords"))
        .withColumn("rule_word_count",
                    # NULL text makes n_words/n_stopwords NULL — these
                    # two rules need the same FALSE-not-null guard the
                    # ratio rules below already carry, or a consumer
                    # testing rule == false misses every NULL-text doc
                    F.when((F.col("n_words") >= min_words)
                           & (F.col("n_words") <= max_words), True)
                    .otherwise(False))
        # Empty/whitespace-only docs have n_words == 0 -> null ratios; the
        # ratio-based rules (and keep) must read FALSE, not null, or
        # consumers testing `keep == false` / counting keeps leak them.
        .withColumn("rule_mean_word_len",
                    F.when((F.col("mean_word_len") >= min_mean_wl)
                           & (F.col("mean_word_len") <= max_mean_wl), True)
                    .otherwise(False))
        .withColumn("rule_symbol_ratio",
                    F.when(F.col("symbol_ratio") <= max_symbol_ratio, True)
                    .otherwise(False))
        .withColumn("rule_alpha_words",
                    F.when(F.col("alpha_ratio") >= min_alpha_ratio, True)
                    .otherwise(False))
        .withColumn("rule_stopwords",
                    F.when(F.col("n_stopwords") >= min_stopwords, True)
                    .otherwise(False)))
    return out.withColumn(
        "keep",
        F.col("rule_word_count") & F.col("rule_mean_word_len")
        & F.col("rule_symbol_ratio") & F.col("rule_alpha_words")
        & F.col("rule_stopwords"))


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------

def _nan_last(v: float) -> tuple[bool, float]:
    """Sort key ordering doubles as Spark does: NaN after every other
    value (+inf included), NaN equal to NaN."""
    return (v != v, 0.0 if v != v else v)


def _sketch_edges(vals: list[tuple[float, int]],
                  qs: tuple[float, ...]) -> list[float]:
    """Bucket edges from collected ``(v, rk)`` sketch rows: the value at
    0-based index ``floor(q * (n-1))`` in Spark's ``ORDER BY v, rk``
    order, for each ``q``, sorted ascending."""
    import math

    vals = sorted(vals, key=lambda t: (_nan_last(t[0]), t[1]))
    n = len(vals)
    return sorted((vals[int(math.floor(q * (n - 1)))][0] for q in qs),
                  key=_nan_last) if n else []


def perplexity_buckets(docs: DataFrame, doc_id_col: str = "doc_id",
                       text_col: str = "text",
                       labels: tuple[str, ...] = ("head", "middle", "tail"),
                       k: int = 1024) -> DataFrame:
    """CCNet-style corpus partition by statistical-LM perplexity (Wenzek
    et al., "CCNet", arXiv:1911.00359 — public method): score every
    document with the corpus unigram LM (operators.corpus.unigram_logprob,
    the cheap stand-in for CCNet's KenLM), convert to a perplexity proxy
    (``ppl = -avg_logprob``, higher = less fluent), cut the distribution
    into ``len(labels)`` equi-depth buckets, and label each document
    head / middle / tail — the partition CCNet publishes its corpus in,
    and the knob downstream mixing uses (head-heavy sampling for quality,
    tail kept for diversity audits).

    Scale shape: scoring is the two bounded word-key shuffles of
    unigram_logprob; the bucket edges come from the portable bottom-k
    hash-rank quantile sketch (operators.sketches) — a BOUNDED sample
    folded to one broadcast array row — so assignment is row-local on the
    scored stream and nothing materializes beyond the k-row sketch.
    Values equal to an edge land in the lower bucket (strict ``v > e``),
    deterministic on both engines.

    Eager: building the frame collects the sketch (one Spark job over the
    scored corpus), so the bucket edges are fixed when this function
    returns, not when the result is executed.

    Output: ``(doc_id, ppl, bucket, ccnet_bucket)``.
    """
    from localsql_spark.operators import track_persist
    from localsql_spark.operators.corpus import unigram_logprob
    from localsql_spark.operators.sketches import quantile_sketch

    n_buckets = len(labels)
    # persist the narrow (doc_id, ppl) table: BOTH the sketch sample and
    # the final assignment read it, and without the cut Catalyst expands
    # the whole two-shuffle unigram-LM subtree into each consumer (plan
    # audit measured 40 static exchanges -> 8 with the persist; at scale
    # that is two full corpus scans vs one)
    scored = track_persist(
        unigram_logprob(docs, doc_id_col, text_col)
        .select(doc_id_col, (-F.col("avg_logprob")).alias("ppl")))
    sketch = quantile_sketch(scored, "ppl", doc_id_col, k)
    qs = tuple(i / n_buckets for i in range(1, n_buckets))
    # Edge selection runs DRIVER-SIDE on the collected sketch
    # (optimization r15, guide §7.3): the sketch is <= k rows at ANY
    # corpus size (the same bounded-collect license as the ANN model
    # tables), so the single-partition window + broadcast-crossJoin
    # subtree of quantile_estimates collapses to one TakeOrdered collect
    # and a literal edges array.  The selection reproduces the in-plan
    # arithmetic exactly: (v, rk) sort (Spark normalizes -0.0 == 0.0 in
    # sort keys, as Python tuple sort does, and orders NaN last, which
    # _sketch_edges' key reproduces), 0-based index
    # floor(q * (n-1)) in IEEE double, edges sorted ascending; the
    # strict ppl > e bucket rule is order-insensitive over the edges.
    # quantile_estimates stays the in-plan reference (sketch_quantiles'
    # RESULT is those estimates, so its plan is unchanged).
    edge_vals = _sketch_edges([(r["v"], r["rk"]) for r in sketch.collect()],
                              qs)
    edges_arr = (F.array(*[F.lit(float(e)) for e in edge_vals])
                 if edge_vals else F.expr("CAST(array() AS array<double>)"))
    bucket = F.aggregate(
        edges_arr, F.lit(0),
        lambda acc, e: acc + F.when(F.col("ppl") > e, 1).otherwise(0))
    label_arr = F.array(*[F.lit(x) for x in labels])
    return (scored
            .select(doc_id_col, "ppl", bucket.alias("bucket"))
            .withColumn("ccnet_bucket",
                        F.element_at(label_arr, F.col("bucket") + 1)))


def decontaminate_exact(docs: DataFrame, eval_mod: int = 50,
                        k: int = 3) -> DataFrame:
    """Benchmark decontamination, exact inverted-index form: flag every
    training document (``doc_id % eval_mod != 0``) sharing ANY k-word
    shingle with the held-out eval set.  ONE scan + two shuffles: the
    eval/train split of the shingle table is a per-shingle window flag,
    so Catalyst computes the normalize+shingle explode once.  Returns
    (doc_id, n_shared, contaminated).  The standard n-gram overlap check
    run before training (GPT-3 appendix C discipline, public method)."""
    from pyspark.sql import Window

    from localsql_spark.operators import spread

    sh = (spread(docs)
          .select("doc_id",
                  F.explode(T.word_shingles("text", k)).alias("s"),
                  (F.col("doc_id") % eval_mod == 0).alias("is_eval")))
    in_eval = F.max(F.col("is_eval").cast("int")).over(
        Window.partitionBy("s"))
    return (sh.withColumn("in_eval", in_eval)
            .filter(~F.col("is_eval"))
            .groupBy("doc_id")
            .agg(F.sum("in_eval").alias("n_shared"))
            .select("doc_id", "n_shared",
                    (F.col("n_shared") > 0).alias("contaminated")))


def decontaminate_bloom(docs: DataFrame, eval_mod: int = 50, k: int = 3,
                        m: int = 1 << 22) -> DataFrame:
    """Bloom-prefiltered decontamination — the shape the exact check
    takes at 100 TB.  :func:`decontaminate_exact` shuffles EVERY training
    shingle on the shingle key; here the eval set's shingles compress
    into a portable Bloom bit table (sketches.bloom_build — <= min(K*n,
    m) rows, broadcastable at any corpus scale), train shingles prefilter
    against it as K successive broadcast-hash joins — one per hash
    function, so the streaming train side is NEVER shuffled and ~97% of
    its mass drops at the first map-side join — and only the tiny
    surviving candidate set pays the exact verification join that
    removes the filter's false positives.  Identical output to
    :func:`decontaminate_exact`: false positives verified away, no false
    negatives by construction."""
    from localsql_spark.operators import spread, track_persist
    from localsql_spark.operators.sketches import (BLOOM_K,
                                                   _bloom_positions,
                                                   bloom_build)

    sh = track_persist(
        spread(docs)
        .select("doc_id",
                F.explode(T.word_shingles("text", k)).alias("s"),
                (F.col("doc_id") % eval_mod == 0).alias("is_eval")))
    eval_sh = sh.filter("is_eval").select("s").distinct()
    train_sh = sh.filter(~F.col("is_eval")).select("doc_id", "s")
    bits = track_persist(bloom_build(eval_sh, "s", m=m))
    cand = train_sh.select("doc_id", "s", *_bloom_positions(F.col("s"), m))
    for j in range(BLOOM_K):
        cand = cand.join(
            F.broadcast(bits.withColumnRenamed("bit", f"bit{j}")), f"bit{j}")
    verified = (cand.select("doc_id", "s")
                .join(eval_sh, "s", "left_semi")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_shared")))
    train_docs = train_sh.select("doc_id").distinct()
    return (train_docs.join(verified, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
                    F.col("n_shared").isNotNull().alias("contaminated")))


def leakage_safe_split(docs: DataFrame, pairs: DataFrame,
                       doc_id_col: str = "doc_id", train_pct: int = 80,
                       val_pct: int = 10) -> DataFrame:
    """Train/val/test split that cannot leak near-duplicates across the
    boundary: documents first group into near-dup clusters (connected
    components over the pair list; singletons group as themselves), then
    the WHOLE GROUP hashes into one split — a val document can never have
    a near-copy in train, the leakage mode a plain per-doc hash split
    (``split_train_val_test``) does not prevent and a real eval pipeline
    must (arXiv:2107.06499 §6 measures exactly this train/test overlap).

    Membership is a pure function of the group id (portable salted hash,
    the independent-family discipline of hash32's salting note), so the
    split is stable across runs, engines and cluster sizes.  Returns one
    row per document: (doc_id, group_id, split).

    Scale shape: the components loop runs over match EDGES only; the
    group assignment is one left join; the split is row-local arithmetic
    on the group id.
    """
    from localsql_spark.operators.dedup import connected_components

    cc = connected_components(pairs, base=docs)
    base = (docs.select(F.col(doc_id_col).alias("doc_id"))
            .join(cc.withColumnRenamed("node", "doc_id"), "doc_id", "left"))
    gid = F.coalesce("cluster_id", F.col("doc_id"))
    bucket = F.pmod(
        hash32(F.concat(F.lit("split:"), gid.cast("string"))), F.lit(100))
    split = (F.when(bucket < train_pct, "train")
             .when(bucket < train_pct + val_pct, "val").otherwise("test"))
    return base.select("doc_id", gid.alias("group_id"),
                       split.alias("split"))


_NB_DOCROW = "<DOCS>"  # normalize_text lowercases every token, so an
#                         uppercase sentinel can never collide with a word


def _nb_words(docs: DataFrame, positive: Column, doc_id_col: str,
              text_col: str) -> tuple[DataFrame, DataFrame]:
    """Labeled doc frame + its exploded token stream (shared tokenizer:
    text.normalize_text, empty tokens removed)."""
    from localsql_spark.operators import spread

    lab = docs.select(F.col(doc_id_col).alias("doc_id"),
                      positive.cast("boolean").alias("is_pos"),
                      F.col(text_col).alias("_text"))
    words = (spread(lab).select(
        "doc_id", "is_pos",
        F.explode(F.array_remove(F.split(T.normalize_text(F.col("_text")),
                                         " "), "")).alias("word")))
    return lab, words


def _nb_counts(words: DataFrame) -> DataFrame:
    """Per-word class occurrence counts ``(word, cp, cn)`` — the entire
    trained state of a multinomial NB, and ADDITIVE across batches (which
    is what makes the persisted model incrementally maintainable)."""
    return words.groupBy("word").agg(
        F.sum(F.col("is_pos").cast("long")).alias("cp"),
        F.sum((~F.col("is_pos")).cast("long")).alias("cn"))


def _nb_doc_counts(lab: DataFrame) -> DataFrame:
    """One row ``(np_docs, nn_docs)`` — the class-prior inputs."""
    return lab.agg(F.sum(F.col("is_pos").cast("long")).alias("np_docs"),
                   F.sum((~F.col("is_pos")).cast("long")).alias("nn_docs"))


def _nb_score(lab: DataFrame, words: DataFrame, model: DataFrame,
              doc_counts: DataFrame) -> DataFrame:
    """Score every doc in ``lab`` against a count model (word, cp, cn)
    and prior inputs (np_docs, nn_docs).  Fixed-point e9 longs throughout
    — see nb_seed_scores' determinism note."""
    tot = model.agg(F.sum("cp").alias("tp"), F.sum("cn").alias("tn"),
                    F.count(F.lit(1)).alias("v"))
    lr = (model.crossJoin(F.broadcast(tot))
          .select("word",
                  F.round(
                      (F.log10((F.col("cp") + F.lit(1.0))
                               / (F.col("tp") + F.col("v")))
                       - F.log10((F.col("cn") + F.lit(1.0))
                                 / (F.col("tn") + F.col("v"))))
                      * F.lit(1e9), 0)
                  .cast("long").alias("lr_e9")))
    pri = doc_counts.select(
        F.round(F.log10(F.col("np_docs").cast("double")
                        / F.col("nn_docs")) * F.lit(1e9), 0)
        .cast("long").alias("prior_e9"))
    # out-of-vocabulary tokens (scoring NEW docs against a persisted
    # model) contribute the Laplace-smoothed UNSEEN ratio
    # log10(1/(tp+v)) - log10(1/(tn+v)) — an inner join silently dropped
    # them (zero contribution AND an under-reported n_tokens), biasing
    # nb_score toward the prior for OOV-heavy documents
    unseen = tot.select(
        F.round((F.log10(F.lit(1.0) / (F.col("tp") + F.col("v")))
                 - F.log10(F.lit(1.0) / (F.col("tn") + F.col("v"))))
                * F.lit(1e9), 0).cast("long").alias("unseen_e9"))
    per_doc = (words.join(lr, "word", "left")
               .crossJoin(F.broadcast(unseen))
               .groupBy("doc_id")
               .agg(F.count(F.lit(1)).alias("n_tokens"),
                    F.sum(F.coalesce("lr_e9", "unseen_e9")).alias("_s")))
    total = F.coalesce(F.col("_s"), F.lit(0)) + F.col("prior_e9")
    return (lab.select("doc_id", "is_pos")
            .join(per_doc, "doc_id", "left")
            .crossJoin(F.broadcast(pri))
            .select("doc_id", "is_pos",
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.round(total.cast("double") / F.lit(1e9), 9)
                    .alias("nb_score"),
                    (total > 0).alias("pred_pos")))


def nb_seed_scores(docs: DataFrame, positive: Column,
                   doc_id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """Multinomial Naive-Bayes seed classifier, trained and applied
    in-engine — the classic corpus quality filter (GPT-3 trained a
    classifier on WebText-vs-CommonCrawl seeds, arXiv:2005.14165 App. A;
    CCNet's LM filter plays the same role, arXiv:1911.00359): label a
    seed split with ``positive`` (e.g. curated sources), fit per-class
    unigram token distributions with Laplace smoothing, then score EVERY
    document by its summed log-likelihood ratio plus the class prior.

    Output: one row per input document —
    ``doc_id, is_pos (seed label), n_tokens, nb_score, pred_pos``.
    ``nb_score`` = sum over token occurrences of
    log10((c_pos(w)+1)/(T_pos+V)) - log10((c_neg(w)+1)/(T_neg+V))
    plus log10(N_pos/N_neg); ``pred_pos`` is the sign test on the EXACT
    decimal sum (compared before any double rounding).

    Scale shape: training is ONE groupBy(word) with map-side combine
    (vocabulary-bounded output, Heaps-law sublinear); the two class
    totals and the vocabulary size are a single 1-row aggregate; scoring
    re-attaches the log-ratio table to the token stream by a word-key
    join (broadcast while the vocabulary fits, repartition join beyond)
    and aggregates per document.  No Python in the hot path, no driver
    loops — the "train a quality model over the whole corpus" step costs
    two shuffles regardless of corpus size.

    Determinism (registry contract): per-word log-ratios and the prior
    are fixed-point e9 LONGS (round(x * 1e9) — exact integer addition,
    so neither partial-aggregation order nor double->decimal rounding
    ties at any output precision can perturb a score; a plain
    round(sum, 6) hit real half-way ties at sf0.01).  ``nb_score`` is
    the e9 sum divided back to a double and rounded to 9 — a multiple of
    1e-9 is never itself a rounding tie.  Token-less documents are
    preserved by a left join and score exactly the prior.
    """
    lab, words = _nb_words(docs, positive, doc_id_col, text_col)
    return _nb_score(lab, words, _nb_counts(words), _nb_doc_counts(lab))


@locked_by("model_dir")
def nb_model_update(spark, model_dir: str, new_docs: DataFrame,
                    positive: Column, n_buckets: int = 16,
                    doc_id_col: str = "doc_id",
                    text_col: str = "text") -> list:
    """Fold a labeled document batch into a PERSISTED NB count model —
    incremental classifier training: because the trained state is pure
    additive counts, fold(base) then fold(batch) is EXACTLY equal to one
    training pass over base ∪ batch (no approximation, no decay), so the
    daily crawl delta updates the quality filter without ever re-reading
    the historical corpus.  Fold cost = batch tokenization + one
    vocabulary-sized merge; history contributes only its (bounded,
    Heaps-sublinear) count table.

    Store layout: hive-partitioned parquet ``wb=<hash32(word) % n>``
    rows ``(word, cp, cn)``, plus the class doc-count row under the
    reserved partition ``wb=n_buckets`` with ``word='<DOCS>'`` (tokens
    are lowercased, so the sentinel cannot collide) — doc counts commit
    ATOMICALLY with the word counts they accompany.  Commit protocol is
    the shared staged-write + manifest-rename (sinks.merge): one rename
    is the commit point, and a crashed fold heals on the next call.

    Exactly-once is the CALLER's contract (same as maintain_rollup): the
    fold is additive, so redelivering a batch double-counts it — drive
    this from a marker-committed landing loop (streaming/stream_rollup's
    fold_landed_with) when the source can redeliver.

    Returns the list of rewritten ``wb`` partition values.  Natural-
    language batches touch nearly every bucket (common words hash
    everywhere) — the partitioning bounds the REWRITE unit and lets the
    scoring read prune, it does not promise sparse folds.
    """
    import json
    import os
    import shutil
    from pathlib import Path

    from localsql_spark.sinks.merge import (_apply_manifest,
                                            _manifest_path,
                                            read_base_partitions,
                                            recover_pending_merge)

    recover_pending_merge(model_dir)
    lab, words = _nb_words(new_docs, positive, doc_id_col, text_col)
    wb = F.pmod(hash32(F.col("word")), F.lit(n_buckets)).cast("int")
    delta_words = _nb_counts(words).select("word", "cp", "cn",
                                           wb.alias("wb"))
    delta_docs = _nb_doc_counts(lab).select(
        F.lit(_NB_DOCROW).alias("word"),
        F.coalesce("np_docs", F.lit(0)).alias("cp"),
        F.coalesce("nn_docs", F.lit(0)).alias("cn"),
        F.lit(int(n_buckets)).cast("int").alias("wb"))
    delta = delta_words.unionByName(delta_docs)
    # validate the fold output BEFORE the stored union: on an evolved
    # registry this raises the clear strict message instead of a union
    # shape error (same discipline as rollup/IVM/inverted-index)
    from localsql_spark.sinks.schema_evolution import gate_fold_write
    delta = gate_fold_write(delta, model_dir, "wb")
    parts = [r[0] for r in delta.select("wb").distinct().collect()]
    stored = read_base_partitions(spark, model_dir, "wb", parts,
                                  mode="write")
    both = delta if stored is None else stored.unionByName(delta)
    merged = both.groupBy("word", "wb").agg(F.sum("cp").alias("cp"),
                                            F.sum("cn").alias("cn"))
    # schema-registered model: the same strict fold write gate as the
    # other fold stores (evolve registry + extend fold code together)
    merged = gate_fold_write(merged, model_dir, "wb")

    base = Path(model_dir)
    staging = base.parent / f".{base.name}.staging"
    shutil.rmtree(staging, ignore_errors=True)
    (merged.repartition(F.col("wb"))
     .write.mode("overwrite").partitionBy("wb")
     .parquet(str(staging)))
    base.mkdir(parents=True, exist_ok=True)
    pnames = sorted(p.name for p in staging.glob("wb=*"))
    manifest = _manifest_path(base)
    tmp = manifest.with_suffix(".json.tmp")
    tmp.write_text(json.dumps({"staging": staging.name,
                               "partitions": pnames}))
    os.rename(tmp, manifest)  # COMMIT POINT — one rename
    _apply_manifest(base, manifest)
    return parts


def nb_model_read(spark, model_dir: str,
                  n_buckets: int = 16) -> tuple[DataFrame, DataFrame]:
    """Read back a persisted NB model: ``(model, doc_counts)`` where
    ``model`` is the word-count table and ``doc_counts`` the one-row
    prior input — exactly the inputs ``nb_score_with_model`` needs.
    Heals any crashed fold first (manifest replay)."""
    from localsql_spark.sinks.merge import recover_pending_merge
    from localsql_spark.sinks.schema_evolution import (evolved_read_schema,
                                                       read_registry,
                                                       reconcile_frame,
                                                       registered_partition)

    recover_pending_merge(model_dir)
    if read_registry(model_dir) is None:
        df = spark.read.option("basePath", model_dir).parquet(model_dir)
    else:  # registered model: reconcile every partition vintage
        part = registered_partition(model_dir) or ("wb", "int")
        ddl = evolved_read_schema(model_dir, extra={part[0]: part[1]})
        df = reconcile_frame(
            spark.read.schema(ddl).option("basePath", model_dir)
            .parquet(model_dir), model_dir, keep_extra=[part[0]])
    model = (df.filter(F.col("wb") != n_buckets)
             .select("word", "cp", "cn"))
    doc_counts = (df.filter(F.col("wb") == n_buckets)
                  .agg(F.sum("cp").alias("np_docs"),
                       F.sum("cn").alias("nn_docs")))
    return model, doc_counts


def nb_score_with_model(docs: DataFrame, model: DataFrame,
                        doc_counts: DataFrame, positive: Column,
                        doc_id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Score documents against an externally-trained count model (e.g.
    one maintained by ``nb_model_update``) — same arithmetic, columns
    and determinism contract as ``nb_seed_scores``, so a model folded
    incrementally scores bit-identically to a single-pass train."""
    lab, words = _nb_words(docs, positive, doc_id_col, text_col)
    return _nb_score(lab, words, model, doc_counts)


def perplexity_buckets_by_lang(docs: DataFrame, doc_id_col: str = "doc_id",
                               text_col: str = "text",
                               lang_col: str = "lang",
                               labels: tuple[str, ...] = ("head", "middle",
                                                          "tail"),
                               k: int = 1024) -> DataFrame:
    """CCNet head/middle/tail with PER-LANGUAGE models and thresholds —
    the paper's actual semantics (Wenzek et al. arXiv:1911.00359 train a
    KenLM per language and cut percentiles per language): a corpus-global
    cut lets a high-resource language's fluency distribution set the bar
    for every other language, so low-resource text lands wholesale in
    'tail' — the fidelity gap :func:`perplexity_buckets` (the global
    variant, kept for single-language corpora) has by construction.

    Per-language unigram LM: frequencies keyed (lang, word), totals per
    lang (the LM join stays one word-key shuffle — lang rides along);
    per-language tercile edges from the GROUPED bottom-k quantile sketch
    (operators.sketches.quantile_sketch_by — WindowGroupLimit-bounded,
    never corpus-bound); assignment is row-local against the broadcast
    (lang, edges) table.  Same determinism discipline as the global
    variant: per-word log10 rounded to 9 and decimal-summed, ppl rounded
    to 6, strict ``v > e`` bucket rule.

    Output: ``(doc_id, lang, ppl, bucket, ccnet_bucket)``."""
    from localsql_spark.operators import spread, track_persist
    from localsql_spark.operators.corpus import _tokens
    from localsql_spark.operators.sketches import (quantile_estimates_by,
                                                   quantile_sketch_by)

    n_buckets = len(labels)
    words = (spread(docs)
             .select(doc_id_col, lang_col,
                     F.explode(_tokens(F.col(text_col))).alias("word"))
             .filter(F.col("word") != ""))
    freq = (words.groupBy(lang_col, "word")
            .agg(F.count(F.lit(1)).alias("cnt")))
    total = freq.groupBy(lang_col).agg(F.sum("cnt").alias("total"))
    lp = (freq.join(F.broadcast(total), lang_col)
          .select(lang_col, "word",
                  F.round(F.log10(F.col("cnt").cast("double")
                                  / F.col("total")), 9)
                  .cast("decimal(28,9)").alias("lp")))
    scored = track_persist(
        words.join(lp, [lang_col, "word"])
        .groupBy(doc_id_col, lang_col)
        .agg(F.count(F.lit(1)).alias("n_tokens"),
             F.sum("lp").alias("_sum_lp"))
        .select(doc_id_col, lang_col,
                (-F.round(F.col("_sum_lp").cast("double")
                          / F.col("n_tokens"), 6)).alias("ppl")))
    sketch = quantile_sketch_by(scored, "ppl", doc_id_col, lang_col, k)
    qs = tuple(i / n_buckets for i in range(1, n_buckets))
    edges = (quantile_estimates_by(sketch, qs=qs)
             .groupBy("grp")
             .agg(F.sort_array(F.collect_list("estimate")).alias("edges")))
    bucket = F.aggregate(
        "edges", F.lit(0),
        lambda acc, e: acc + F.when(F.col("ppl") > e, 1).otherwise(0))
    label_arr = F.array(*[F.lit(x) for x in labels])
    return (scored.join(F.broadcast(edges),
                        scored[lang_col] == F.col("grp"))
            .select(doc_id_col, lang_col, "ppl", bucket.alias("bucket"))
            .withColumn("ccnet_bucket",
                        F.element_at(label_arr, F.col("bucket") + 1)))
