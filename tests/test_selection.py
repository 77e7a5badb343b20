"""Data-selection operators (operators.selection) and the deterministic
training-shard export (sinks.shards): DSIR weighting/resampling, Gopher rule
flags, shard round-trip reproducibility — plus pins on the two Catalyst
expression traps the feature builder engineered around."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# feature stream
# ---------------------------------------------------------------------------

def test_features_unigrams_plus_exact_bigrams(spark):
    """Pins the two traps in operators.selection._features: (1) slicing the
    token tail with an Int32.MaxValue length overflows start+length inside
    Spark's slice and silently truncates (zip_with then pads nulls and
    concat_ws degrades every bigram to its first token); (2) the raw
    zip_with tail element is a spurious unigram.  The feature bag must be
    exactly unigrams + n-1 bigrams."""
    from localsql_spark.operators.selection import _features

    df = spark.createDataFrame([("alpha  beta gamma",)], "text string")
    [row] = df.select(_features(F.col("text")).alias("f")).collect()
    assert row["f"] == ["alpha", "beta", "gamma", "alpha beta", "beta gamma"]


def test_features_short_docs(spark):
    from localsql_spark.operators.selection import _features

    df = spark.createDataFrame([(1, "solo"), (2, "two words")],
                               "doc_id long, text string")
    got = {r["doc_id"]: r["f"] for r in
           df.select("doc_id", _features(F.col("text")).alias("f")).collect()}
    assert got[1] == ["solo"]
    assert got[2] == ["two", "words", "two words"]


# ---------------------------------------------------------------------------
# DSIR
# ---------------------------------------------------------------------------

def test_dsir_weights_tilt_toward_target_vocabulary(spark):
    """Docs sharing the target domain's vocabulary must outscore docs made
    of off-domain vocabulary (the defining property of the importance
    weight)."""
    from localsql_spark.operators.selection import dsir_weights

    target = [(i, "physics energy quantum field theory", "en")
              for i in range(8)]
    raw_like = [(100, "physics energy quantum field theory", "xx")]
    raw_off = [(101, "pizza recipe cheese tomato oven", "xx")]
    docs = _docs(spark, target + raw_like + raw_off)
    w = {r["doc_id"]: r["logw"] for r in
         dsir_weights(docs, is_target=F.col("lang") == "en",
                      n_buckets=64).collect()}
    assert w[100] > w[101]


def test_dsir_resample_deterministic_and_weight_biased(spark):
    from localsql_spark.operators.selection import dsir_resample

    weighted = spark.createDataFrame(
        [(i, 5.0 if i < 10 else -5.0) for i in range(100)],
        "doc_id long, logw double")
    a = dsir_resample(weighted, k=10, seed=0).collect()
    b = dsir_resample(weighted, k=10, seed=0).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    # a 10-logit gap dwarfs Gumbel noise: the high-weight block must dominate
    picked = {r["doc_id"] for r in a}
    assert len(picked & set(range(10))) >= 9
    # a different seed re-deals the perturbation
    c = dsir_resample(weighted, k=10, seed=7).collect()
    assert [r["sample_key"] for r in c] != [r["sample_key"] for r in a]


# ---------------------------------------------------------------------------
# Gopher rules
# ---------------------------------------------------------------------------

def test_gopher_rules_flag_each_violation(spark):
    from localsql_spark.operators.selection import gopher_quality_flags

    good = "the quick brown fox jumps over that lazy dog with some more text"
    rows = [
        (1, good, "en"),                        # passes everything
        (2, "too short", "en"),                 # word count
        (3, "the of " + "a " * 40, "en"),       # mean word length < 3
        (4, good + " ###### ## # # # #", "en"),  # symbol ratio
        (5, "the of 111 222 333 444 555 666 777 888 999 000", "en"),  # alpha
        (6, "zebra yak xylophone walrus vulture toucan seal rhino", "en"),
        (7, good + " ...", "en"),  # ONE ellipsis occurrence, not 3 chars
    ]
    flags = {r["doc_id"]: r for r in
             gopher_quality_flags(_docs(spark, rows)).collect()}
    assert flags[1]["keep"]
    assert not flags[2]["rule_word_count"] and not flags[2]["keep"]
    assert not flags[3]["rule_mean_word_len"] and not flags[3]["keep"]
    assert not flags[4]["rule_symbol_ratio"] and not flags[4]["keep"]
    assert not flags[5]["rule_alpha_words"] and not flags[5]["keep"]
    assert not flags[6]["rule_stopwords"] and not flags[6]["keep"]
    # '...' counts as ONE symbol occurrence (1/14 <= 0.1); the char-count
    # formulation would read 3/14 and wrongly reject
    assert flags[7]["rule_symbol_ratio"] and flags[7]["keep"]


def test_gopher_rules_empty_doc_is_false_not_null(spark):
    """n_words == 0 leaves the ratio columns null (0/0), but every rule
    boolean and keep must be FALSE — null keep leaks through consumers
    that test keep == false or count keeps."""
    from localsql_spark.operators.selection import gopher_quality_flags

    rows = [(1, "", "en"), (2, "   \t  ", "en")]
    flags = {r["doc_id"]: r for r in
             gopher_quality_flags(_docs(spark, rows)).collect()}
    for d in (1, 2):
        assert flags[d]["n_words"] == 0
        assert flags[d]["mean_word_len"] is None  # ratio stays null
        for rule in ("rule_word_count", "rule_mean_word_len",
                     "rule_symbol_ratio", "rule_alpha_words",
                     "rule_stopwords", "keep"):
            assert flags[d][rule] is False, (d, rule, flags[d][rule])


# ---------------------------------------------------------------------------
# training shards
# ---------------------------------------------------------------------------

def test_shard_export_roundtrip_and_determinism(spark, tmp_path):
    """Two exports of the same corpus must be byte-for-byte equivalent in
    manifest terms (assignment, counts, content hashes), and the read-back
    manifest must equal the pre-write manifest computed directly on the
    input — the write path loses nothing."""
    from localsql_spark.sinks.shards import (read_training_shards,
                                             shard_assignment, shard_manifest,
                                             write_training_shards)

    docs = _docs(spark, [(i, f"token{i} alpha beta gamma word{i % 7}", "en")
                         for i in range(200)])
    pre = shard_manifest(shard_assignment(docs, 8))
    p1, p2 = tmp_path / "a", tmp_path / "b"
    write_training_shards(docs, p1, n_shards=8)
    write_training_shards(docs, p2, n_shards=8)
    m1 = {r["shard_id"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
          for r in shard_manifest(read_training_shards(spark, p1)).collect()}
    m2 = {r["shard_id"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
          for r in shard_manifest(read_training_shards(spark, p2)).collect()}
    m0 = {r["shard_id"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
          for r in pre.collect()}
    assert m1 == m2 == m0
    assert len(m1) == 8 and sum(v[0] for v in m1.values()) == 200


def test_shard_within_file_order_is_hash_order(spark, tmp_path):
    """The written row order inside a shard must follow ord_key (the
    deterministic global shuffle), not the input order."""
    from localsql_spark.sinks.shards import (read_training_shards,
                                             write_training_shards)

    docs = _docs(spark, [(i, f"text {i}", "en") for i in range(100)])
    out = tmp_path / "s"
    write_training_shards(docs, out, n_shards=2)
    one = read_training_shards(spark, out).filter(F.col("shard_id") == 0)
    got = [r["doc_id"] for r in one.collect()]
    by_ord = [r["doc_id"] for r in one.orderBy("ord_key", "doc_id").collect()]
    assert got == by_ord
    assert got != sorted(got)  # hash order decorrelates the input sequence


def test_token_budget_plan_capped_flag_and_shares(spark):
    """A budget larger than a small source's tokens flags capped=true with
    rate 1.0; shares sum to ~1; targets split by c^alpha."""
    from localsql_spark.operators.corpus import token_budget_plan

    rows = ([(i, "w " * 1000, "en", "big") for i in range(10)]
            + [(100, "w w w", "en", "tiny")])
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    plan = {r["source"]: r for r in
            token_budget_plan(docs, budget_tokens=5_000,
                              alpha=0.5).collect()}
    assert plan["tiny"]["c_tokens"] == 3
    assert plan["tiny"]["capped"] and plan["tiny"]["rate"] == 1.0
    assert not plan["big"]["capped"]
    assert abs(plan["big"]["share"] + plan["tiny"]["share"] - 1.0) < 1e-6
    assert plan["big"]["target_tokens"] > plan["tiny"]["target_tokens"]


# ---------------------------------------------------------------------------
# curriculum shards
# ---------------------------------------------------------------------------


def test_curriculum_shards_exact_ntile_and_order(spark, tmp_path):
    """The curriculum assignment is a true ntile (sizes exact to +-1,
    bucket = global (score, tie, id) rank), shard score ranges are
    monotone non-decreasing, and the written layout preserves the
    within-shard (score, tie, id) order — easy shards first."""
    from localsql_spark.operators import hash32
    from localsql_spark.sinks.shards import (curriculum_shard_assignment,
                                             write_curriculum_shards)

    n, shards = 103, 4
    docs = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(n)], "doc_id long, score double")
    got = curriculum_shard_assignment(docs, shards).collect()
    assert len(got) == n
    sizes = {}
    for r in got:
        sizes[r.shard_id] = sizes.get(r.shard_id, 0) + 1
    assert sorted(sizes) == list(range(shards))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # replay the rank single-node: bucket must equal the global sort rank
    ties = {r.doc_id: r.tie for r in docs.select(
        "doc_id", hash32(F.concat(F.col("doc_id").cast("string"),
                                  F.lit("#c"))).alias("tie")).collect()}
    order = sorted(((float(i % 7), ties[i], i) for i in range(n)))
    expect = {key[2]: (rank * shards) // n
              for rank, key in enumerate(order)}
    assert {r.doc_id: r.shard_id for r in got} == expect
    # written layout: shard dirs ascend in difficulty, in-shard order kept
    out = tmp_path / "curr"
    write_curriculum_shards(docs, out, shards)
    back = spark.read.parquet(str(out))
    prev_max = None
    for s in range(shards):
        rows = [(r.score, ties[r.doc_id], r.doc_id) for r in
                back.filter(F.col("shard_id") == s).collect()]
        assert rows, f"shard {s} empty"
        if prev_max is not None:
            assert min(rows) >= prev_max
        prev_max = max(rows)


def test_leakage_safe_split_keeps_clusters_together(spark):
    """Every near-dup cluster lands in exactly one split; singletons use
    their own id as group; all three splits appear given enough groups."""
    from localsql_spark.operators.selection import leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(200)],
                                 "doc_id long")
    # chain 0-1-2 and pair 10-11 are clusters; everything else singleton
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11)], "doc_a long, doc_b long")
    out = {r.doc_id: (r.group_id, r.split)
           for r in leakage_safe_split(docs, pairs).collect()}
    assert len(out) == 200
    assert out[0] == out[1] == out[2] == (0, out[0][1])
    assert out[10] == out[11] == (10, out[10][1])
    assert out[42][0] == 42
    assert {s for _, s in out.values()} == {"train", "val", "test"}


# ---------------------------------------------------------------------------
# Naive-Bayes seed classifier
# ---------------------------------------------------------------------------

def test_nb_seed_scores_separates_seed_vocabularies(spark):
    """Disjoint class vocabularies must score held-out docs toward the
    class whose words they use; every input doc appears exactly once."""
    from localsql_spark.operators.selection import nb_seed_scores

    rows = [
        (1, "alpha beta alpha gamma", "en"),
        (2, "alpha beta beta", "en"),
        (3, "zump qorx zump", "en"),
        (4, "qorx zump qorx qorx", "en"),
        (5, "alpha alpha beta gamma alpha", "en"),   # pos-voc, neg label
        (6, "zump zump qorx", "en"),                  # neg-voc, pos label
    ]
    docs = _docs(spark, rows)
    out = nb_seed_scores(docs, F.col("doc_id") <= 2).orderBy("doc_id")
    got = {r.doc_id: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 4, 5, 6}
    # seed docs classify to their own side; held-out docs follow vocabulary
    assert got[1].pred_pos and got[2].pred_pos
    assert not got[3].pred_pos and not got[4].pred_pos
    assert got[5].pred_pos          # pure positive vocabulary
    assert not got[6].pred_pos      # pure negative vocabulary
    assert got[5].nb_score > 0 > got[6].nb_score
    assert got[1].n_tokens == 4


def test_nb_seed_scores_tokenless_doc_scores_prior(spark):
    """A whitespace-only document survives the left join with n_tokens=0
    and scores exactly the class prior."""
    import math

    from localsql_spark.operators.selection import nb_seed_scores

    rows = [(1, "good words here", "en"), (2, "bad stuff", "en"),
            (3, "bad junk", "en"), (4, "   ", "en")]
    docs = _docs(spark, rows)
    out = {r.doc_id: r for r in
           nb_seed_scores(docs, F.col("doc_id") == 1).collect()}
    assert out[4].n_tokens == 0
    prior = round(round(math.log10(1 / 3) * 1e9) / 1e9, 9)
    assert abs(out[4].nb_score - prior) < 1e-12


def test_nb_model_incremental_fold_equals_full_train(spark, tmp_path):
    """Additive count folds: fold(base) + fold(delta) then score ==
    nb_seed_scores over the union, bit-for-bit; the <DOCS> sentinel row
    never leaks into the word table."""
    from localsql_spark.operators.selection import (
        _NB_DOCROW, nb_model_read, nb_model_update, nb_score_with_model,
        nb_seed_scores)

    rows = [(i, f"tok{i % 7} alpha beta" if i % 2 else "gamma delta qorx",
             "en") for i in range(20)]
    docs = _docs(spark, rows)
    is_pos = F.col("doc_id") < 8
    d = str(tmp_path / "model")
    nb_model_update(spark, d, docs.filter(F.col("doc_id") % 3 != 0), is_pos,
                    n_buckets=4)
    nb_model_update(spark, d, docs.filter(F.col("doc_id") % 3 == 0), is_pos,
                    n_buckets=4)
    model, dc = nb_model_read(spark, d, n_buckets=4)
    assert model.filter(F.col("word") == _NB_DOCROW).count() == 0
    np_docs, nn_docs = dc.collect()[0]
    assert (np_docs, nn_docs) == (8, 12)
    inc = {tuple(r) for r in
           nb_score_with_model(docs, model, dc, is_pos).collect()}
    full = {tuple(r) for r in nb_seed_scores(docs, is_pos).collect()}
    assert inc == full


def test_nb_model_crashed_fold_heals_on_read(spark, tmp_path):
    """A fold that crashed between manifest commit and partition swap is
    replayed by nb_model_read (manifest IS the durable state)."""
    import json

    from localsql_spark.operators.selection import (nb_model_read,
                                                    nb_model_update)
    from localsql_spark.sinks.merge import _manifest_path

    docs = _docs(spark, [(1, "a b c", "en"), (2, "c d", "en")])
    d = tmp_path / "model"
    nb_model_update(spark, str(d), docs, F.col("doc_id") == 1, n_buckets=2)
    model, dc = nb_model_read(spark, str(d), n_buckets=2)
    before = {tuple(r) for r in model.collect()}

    # simulate the crash window: re-stage the same partitions under the
    # staging dir and commit the manifest WITHOUT applying it
    staging = d.parent / f".{d.name}.staging"
    staging.mkdir()
    for p in sorted(d.glob("wb=*")):
        (staging / p.name).mkdir()
        for f in p.glob("*.parquet"):
            (staging / p.name / f.name).write_bytes(f.read_bytes())
    manifest = _manifest_path(d)
    manifest.write_text(json.dumps(
        {"staging": staging.name,
         "partitions": sorted(p.name for p in staging.glob("wb=*"))}))

    model2, _ = nb_model_read(spark, str(d), n_buckets=2)
    assert {tuple(r) for r in model2.collect()} == before
    assert not manifest.exists()


def test_nb_scoring_handles_out_of_vocabulary_tokens(spark):
    """Scoring NEW docs against a persisted model: OOV tokens contribute
    the Laplace-smoothed unseen ratio (an inner join silently dropped
    them, biasing scores toward the prior and under-counting n_tokens —
    code-review r9)."""
    import math

    from pyspark.sql import functions as F

    from localsql_spark.operators.selection import (nb_model_read,
                                                    nb_model_update,
                                                    nb_score_with_model)

    train = spark.createDataFrame(
        [(1, "good words here", "s1"), (2, "bad words there", "s9")],
        "doc_id long, text string, source string")
    is_pos = F.col("source") == "s1"
    import tempfile
    model_dir = tempfile.mkdtemp(prefix="nb_oov_")
    nb_model_update(spark, model_dir, train, is_pos)
    model, doc_counts = nb_model_read(spark, model_dir)
    # a doc of PURELY unseen words still counts its tokens and scores
    # the unseen ratio, not a bare prior
    new = spark.createDataFrame([(9, "zzz qqq", "s1")],
                                "doc_id long, text string, source string")
    row = nb_score_with_model(new, model, doc_counts, is_pos).collect()[0]
    assert row.n_tokens == 2
    # tp = tn = 3 tokens, v = 5 vocab -> unseen ratio log10(8/8) = 0;
    # prior = log10(1/1) = 0 -> score exactly 0 here, but the TOKENS were
    # counted (the old inner join reported n_tokens=0)
    assert math.isclose(row.nb_score, 0.0, abs_tol=1e-9)


def test_gopher_null_text_rules_read_false(spark):
    """NULL-text docs: every rule column reads FALSE, never NULL —
    consumers filtering rule == False must see them (code-review r9)."""
    from pyspark.sql import functions as F

    from localsql_spark.operators.selection import gopher_quality_flags

    docs = spark.createDataFrame([(1, None), (2, "")],
                                 "doc_id long, text string")
    rows = gopher_quality_flags(docs).collect()
    for r in rows:
        assert r.rule_word_count is False
        assert r.rule_stopwords is False
        assert r.keep is False


def test_ccnet_by_lang_thresholds_are_language_relative(spark):
    """Each language is cut against its OWN distribution: a language
    whose documents are globally improbable still splits ~1/3 per
    bucket, where the global variant would push it wholesale into
    'tail' (the fidelity gap the per-lang variant closes)."""
    from pyspark.sql import functions as F

    from localsql_spark.operators.selection import (
        perplexity_buckets, perplexity_buckets_by_lang)

    common = [f"w{i}" for i in range(8)]
    rare = [f"zq{i}" for i in range(40)]
    rows = []
    for i in range(60):  # fluent majority language
        toks = [common[(i + j) % 8] for j in range(20)]
        rows.append((i, "en", " ".join(toks)))
    for i in range(60, 120):  # minority language: disjoint rare vocab
        toks = [rare[(i * 7 + j * 3) % 40] for j in range(20)]
        rows.append((i, "xx", " ".join(toks)))
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    by_lang = perplexity_buckets_by_lang(docs).collect()
    for lang in ("en", "xx"):
        counts = {}
        for r in by_lang:
            if r.lang == lang:
                counts[r.ccnet_bucket] = counts.get(r.ccnet_bucket, 0) + 1
        # every bucket populated within its own language
        assert set(counts) == {"head", "middle", "tail"}, (lang, counts)
        assert min(counts.values()) >= 10, (lang, counts)

    # the global cut, by contrast, ranks against ONE distribution: the
    # minority language's docs (rare words -> high ppl) skew into tail
    glob = {r.doc_id: r.ccnet_bucket
            for r in perplexity_buckets(docs).collect()}
    xx_tail = sum(1 for i in range(60, 120) if glob[i] == "tail")
    # a language-fair tercile would put ~20 of 60 in tail; the global
    # cut roughly doubles that (measured 38) — the skew the variant fixes
    assert xx_tail >= 30


def test_sketch_edges_order_nan_last_like_spark(spark):
    """A NaN perplexity must not scramble the bucket edges: the driver-side
    edge pick sorts as Spark's ORDER BY v, rk does (NaN after +inf)."""
    import math

    from localsql_spark.operators.selection import _sketch_edges

    nan, inf = float("nan"), float("inf")
    rows = [(3.0, 7), (nan, 2), (1.0, 9), (nan, 1), (inf, 4), (-0.0, 5),
            (0.0, 3), (2.5, 8), (nan, 6), (-1.0, 0), (2.5, 1)]
    qs = (0.1, 1 / 3, 0.5, 2 / 3, 0.9, 1.0)
    ordered = [tuple(r) for r in spark.createDataFrame(
        rows, "v double, rk long").orderBy("v", "rk").collect()]
    n = len(ordered)
    want = [ordered[int(math.floor(q * (n - 1)))][0] for q in qs]
    got = _sketch_edges(rows, qs)

    def key(v):
        return (math.isnan(v), 0.0 if math.isnan(v) else v)

    assert [key(v) for v in got] == sorted(key(v) for v in want)
    assert math.isnan(got[-1]) and not math.isnan(got[0])
