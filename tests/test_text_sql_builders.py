"""The SQL-text column builders of operators.text / operators.dedup: each
renders its whole expression as SQL text and returns ONE ``F.expr``.

Pinned here: their values on edge rows (taken from the earlier
``pyspark.sql.functions`` formulation of the same expressions), the
normalization fragment against ``normalize_text``, the column-name quoting,
and the py4j round-trips it takes to BUILD the corpus commands."""

from __future__ import annotations

import gc
import hashlib

import pytest
from pyspark.sql import functions as F

from localsql_spark.operators import dedup as D
from localsql_spark.operators import text as T

EDGE = [None, "", "   ", "'\"\\[]{}-", "it's 42 \"q\" [x] {y} - z\\w",
        "123 456 7890", "hello", "Hello  world", "The cat is",
        "the and is of to der die",
        "The quick brown fox jumps over the lazy dog and the cat is asleep."]

BUILDERS = {
    "langid": lambda c: T.langid(c),
    "ls_en": lambda c: T.lang_score(c, "en"),
    "ls_de": lambda c: T.lang_score(c, "de"),
    "tokens_ws": lambda c: T.token_count_ws(c),
    "punct": lambda c: T.punct_ratio(c),
    "digit": lambda c: T.digit_ratio(c),
    "stop_en": lambda c: T.stopword_ratio(c),
    "stop_de": lambda c: T.stopword_ratio(c, "de"),
    "avg_wlen": lambda c: T.avg_word_len(c),
    "quality": lambda c: T.quality_score(c),
    "sh1": lambda c: T.word_shingles(c, 1),
    "sh2": lambda c: T.word_shingles(c, 2),
    "sh3": lambda c: T.word_shingles(c),
    "mh4": lambda c: D.minhash_signature(c, 4),
    "simhash": lambda c: D.simhash32(c),
}
SCHEMA = ("struct<langid:string,ls_en:int,ls_de:int,tokens_ws:bigint,"
          "punct:double,digit:double,stop_en:double,stop_de:double,"
          "avg_wlen:double,quality:bigint,sh1:array<string>,"
          "sh2:array<string>,sh3:array<string>,mh4:array<bigint>,"
          "simhash:bigint>")
# one row per EDGE text, columns in BUILDERS order
EXPECTED = [
    ('und', None, None, None, None, None, None, None, None, 0, [None],
     [None], [None], [2147483647, 2147483647, 2147483647, 2147483647], None),
    ('und', 0, 0, 0, None, None, None, None, 0.0, 0, [''], [''], [''],
     [1727561956, 1283764783, 839967610, 396170437], 3558706393),
    ('und', 0, 0, 0, 0.0, 0.0, None, None, 0.0, 2, [''], [''], [''],
     [1727561956, 1283764783, 839967610, 396170437], 3558706393),
    ('und', 0, 0, 1, 0.875, 0.0, 0.0, 0.0, 8.0, 2, ['\'"\\[]{}-'],
     ['\'"\\[]{}-'], ['\'"\\[]{}-'],
     [1247169455, 841401767, 435634079, 29866391], 2234513283),
    ('und', 0, 0, 7, 0.32, 0.08, 0.0, 0.0, 2.7142857142857144, 2,
     ["it's", '42', '"q"', '[x]', '{y}', '-', 'z\\w'],
     ["it's 42", '42 "q"', '"q" [x]', '[x] {y}', '{y} -', '- z\\w'],
     ['it\'s 42 "q"', '42 "q" [x]', '"q" [x] {y}', '[x] {y} -',
      '{y} - z\\w'],
     [244091997, 289636917, 710493353, 261230228], 828495592),
    ('und', 0, 0, 3, 0.0, 0.8333333333333334, 0.0, 0.0, 3.3333333333333335,
     2, ['123', '456', '7890'], ['123 456', '456 7890'], ['123 456 7890'],
     [573175844, 1773315397, 825971303, 2026110856], 623687968),
    ('und', 0, 0, 1, 0.0, 0.0, 0.0, 0.0, 5.0, 3, ['hello'], ['hello'],
     ['hello'], [1794274327, 434546772, 1222302864, 2010058956], 1564557354),
    ('und', 0, 0, 2, 0.0, 0.0, 0.0, 0.0, 5.0, 3, ['hello', 'world'],
     ['hello world'], ['hello world'],
     [1417976899, 718521558, 19066217, 1467094523], 1564540962),
    ('en', 2, 0, 3, 0.0, 0.0, 0.6666666666666666, 0.0, 2.6666666666666665,
     3, ['the', 'cat', 'is'], ['the cat', 'cat is'], ['the cat is'],
     [1330904827, 1362990383, 1395075939, 1427161495], 2196074596),
    ('en', 5, 2, 7, 0.0, 0.0, 0.7142857142857143, 0.2857142857142857,
     2.5714285714285716, 3,
     ['the', 'and', 'is', 'of', 'to', 'der', 'die'],
     ['the and', 'and is', 'is of', 'of to', 'to der', 'der die'],
     ['the and is', 'and is of', 'is of to', 'of to der', 'to der die'],
     [444800493, 271680012, 733526109, 204976982], 2348026127),
    ('en', 3, 0, 14, 0.015151515151515152, 0.0, 0.35714285714285715, 0.0,
     3.7857142857142856, 4,
     ['the', 'quick', 'brown', 'fox', 'jumps', 'over', 'lazy', 'dog', 'and',
      'cat', 'is', 'asleep.'],
     ['the quick', 'quick brown', 'brown fox', 'fox jumps', 'jumps over',
      'over the', 'the lazy', 'lazy dog', 'dog and', 'and the', 'the cat',
      'cat is', 'is asleep.'],
     ['the quick brown', 'quick brown fox', 'brown fox jumps',
      'fox jumps over', 'jumps over the', 'over the lazy', 'the lazy dog',
      'lazy dog and', 'dog and the', 'and the cat', 'the cat is',
      'cat is asleep.'],
     [222515278, 302796955, 156184317, 200962543], 265639972),
]


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(EDGE)],
                                 "i int, text string")


def _values(df):
    return [tuple(r)[1:] for r in df.orderBy("i").collect()]


def test_builders_pin_edge_row_values_and_types(edge):
    out = edge.select("i", *[b("text").alias(k)
                             for k, b in BUILDERS.items()])
    assert out.drop("i").schema.simpleString() == SCHEMA
    got = _values(out)
    for text, g, want in zip(EDGE, got, EXPECTED):
        # repr: exact float bits, and -0.0 != 0.0
        assert repr(g) == repr(want), text


def test_column_name_is_one_quoted_identifier(edge):
    """A dotted (flattened-JSON) name and a name holding a backtick resolve
    as one column each, not as a struct path or broken SQL."""
    keys = ("langid", "quality", "sh2", "simhash")
    odd = edge.select("i", F.col("text").alias("nest.a"),
                      F.col("text").alias("we`ird"))
    out = odd.select("i", *[BUILDERS[k](name).alias(f"{k}{j}")
                            for j, name in enumerate(("nest.a", "we`ird"))
                            for k in keys])
    pos = [list(BUILDERS).index(k) for k in keys]
    for g, want in zip(_values(out), EXPECTED):
        assert repr(g) == repr(tuple(want[p] for p in pos) * 2)


def test_sql_literal_escaping_round_trips(spark):
    tricky = ["'", "\\", "\\'", "''", T.PUNCT_RE, r"\s+", "%_\\%"]
    row = spark.range(1).select(
        *[F.expr(T.sql_str(s)).alias(f"c{i}")
          for i, s in enumerate(tricky)]).first()
    assert list(row) == tricky


def test_normalize_text_matches_sql_fragment(edge):
    a = edge.select(T.normalize_text(F.col("text")).alias("n"))
    b = edge.select(F.expr(T.norm_sql("`text`")).alias("n"))
    assert a._jdf.queryExecution().analyzed().sameResult(
        b._jdf.queryExecution().analyzed())
    assert a.collect() == b.collect()


def test_band_keys_and_est_jaccard_on_known_signatures(spark):
    """Band keys are md5 of '|'-joined consecutive components; the pair
    score is the fraction of equal components."""
    old = list(range(1, 17))
    new = list(range(1, 9)) + list(range(100, 108))
    sig = spark.createDataFrame([(1, old), (2, new)],
                                "doc_id long, sig array<bigint>")
    got = {(r.doc_id, r.band_id): r.band_key
           for r in D.band_keys(sig).collect()}
    want = {(d, b): hashlib.md5("|".join(
                map(str, s[4 * b:4 * b + 4])).encode()).hexdigest()
            for d, s in ((1, old), (2, new)) for b in range(4)}
    assert got == want
    pair = spark.createDataFrame([(old, new), (old, old), (new, old[::-1])],
                                 "sig_a array<bigint>, sig_b array<bigint>")
    assert [r.est_jaccard for r in
            pair.select(F.expr(D._est_jaccard(16))).collect()] == \
        [0.5, 1.0, 0.0]


def test_quality_command_on_dotted_column_name(spark, edge):
    from localsql_spark.engine import LocalSparkSQL

    eng = LocalSparkSQL(spark)
    edge.select(F.col("i").alias("doc_id"), F.col("text").alias("nest.a")) \
        .createOrReplaceTempView("q_dotted")
    edge.select(F.col("i").alias("doc_id"), "text") \
        .createOrReplaceTempView("q_plain")
    try:
        got = eng.pipeline_command("\\quality", "q_dotted text=nest.a AS v1")
        want = eng.pipeline_command("\\quality", "q_plain AS v2")
        assert got.columns == want.columns
        assert sorted(map(repr, got.collect())) == \
            sorted(map(repr, want.collect()))
    finally:
        eng.close()


# a dotted and a backticked name for every column a corpus command takes
ODD_NAMES = {"doc_id": "we`ird", "text": "nest.a", "lang": "b.l`k",
             "vec_id": "we`ird", "embedding": "nest.a"}
CORPUS_CMDS = [
    ("\\dedup", "exact {t}_docs text={text} id={doc_id}"),
    ("\\dedup", "minhash {t}_docs text={text} id={doc_id} threshold=0.3"),
    ("\\dedup", "simhash {t}_docs text={text} id={doc_id}"),
    ("\\dedup", "ngram {t}_docs text={text} id={doc_id} block={lang}"),
    ("\\knn", "{t}_vecs k=3 vec={embedding} id={vec_id}"),
    ("\\quality", "{t}_docs text={text} id={doc_id}")]


def test_corpus_commands_on_dotted_and_backticked_names(spark):
    from localsql_spark.engine import LocalSparkSQL
    from localsql_spark.workload import load
    from tests.conftest import SF_SMALL

    tables = load(spark, SF_SMALL)
    inputs = {"docs": tables["documents"].where("doc_id < 200")
              .select("doc_id", "text", "lang"),
              "vecs": tables["embeddings"].where("vec_id < 100")
              .select("vec_id", "embedding")}
    plain = {c: c for c in ODD_NAMES}
    for t, names in (("n", plain), ("o", ODD_NAMES)):
        for table, df in inputs.items():
            df.select(*[F.col(c).alias(names[c]) for c in df.columns]) \
                .createOrReplaceTempView(f"{t}_{table}")
    eng = LocalSparkSQL(spark)
    try:
        for i, (cmd, args) in enumerate(CORPUS_CMDS):
            want = eng.pipeline_command(
                cmd, args.format(t="n", **plain) + f" AS n{i}")
            got = eng.pipeline_command(
                cmd, args.format(t="o", **ODD_NAMES) + f" AS o{i}")
            # only \quality passes an input column (its id) through
            assert got.columns == [ODD_NAMES[c] if c == "doc_id" else c
                                   for c in want.columns]
            rows = sorted(repr(tuple(r)) for r in want.collect())
            assert rows and sorted(
                repr(tuple(r)) for r in got.collect()) == rows, args
    finally:
        eng.close()


# py4j round-trips the test thread makes to BUILD each command (no Spark
# job runs): twice the 159 / 173 / 59 the SQL-text builders take; the
# per-node F.* formulation took 4,161 / 1,858 / 2,022
BUILD_CALL_BOUND = {"simhash": 320, "minhash": 350, "quality": 120}


def test_corpus_commands_build_in_few_py4j_calls(spark):
    from localsql_spark.engine import LocalSparkSQL
    from localsql_spark.workload import load
    from tests.conftest import SF_SMALL
    from tools.profile_query import Py4jCalls

    eng = LocalSparkSQL(spark)
    load(spark, SF_SMALL)["documents"].createOrReplaceTempView("b_docs")
    cmds = {"simhash": ("\\dedup", "simhash b_docs AS b1"),
            "minhash": ("\\dedup", "minhash b_docs AS b2"),
            "quality": ("\\quality", "b_docs AS b3")}
    calls = Py4jCalls()
    try:
        got = {}
        for rep in range(2):  # the first pass warms per-process caches
            for key, (cmd, args) in cmds.items():
                gc.collect()
                n0 = calls.n
                eng.pipeline_command(cmd, args)
                got[key] = calls.n - n0
    finally:
        calls.close()
        eng.close()
    over = {k: (n, BUILD_CALL_BOUND[k]) for k, n in got.items()
            if n > BUILD_CALL_BOUND[k]}
    assert not over, over
