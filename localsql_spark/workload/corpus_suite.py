"""Round-5 corpus-preparation queries: sequence chunking, substring-level
(repeated-span) duplication, corpus unigram-LM scoring, one-pass column
profiling, and HLL set algebra — the between-ingest-and-tokenization
operations of an LLM training-data pipeline, each with an exact DuckDB
oracle (portable md5 hashing, decimal-summed reductions).

Extends the reference (localsql has no corpus tooling; its relational layer
is the SQLite delegate at localsql/localsql.py:230) along the same axis as
workload.extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsql_spark.workload import load, query

# Shared DuckDB fragment: normalized text -> whitespace tokens, mirroring
# operators.corpus._tokens (= split(normalize_text(text), ' ')).
_TOK_CTE = r"""
norm AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
         FROM documents),
tok AS (SELECT doc_id, string_split(t, ' ') AS toks FROM norm)
"""


@query("chunk_documents_64_16", oracle=f"""
WITH {_TOK_CTE.strip()},
nc AS (SELECT doc_id, toks,
              greatest(CAST(ceil((CAST(len(toks) AS DOUBLE) - 16) / 48)
                            AS INT), 1) AS n_chunks
       FROM tok)
SELECT doc_id, CAST(i AS INT) AS chunk_id,
       CAST(len(list_slice(toks, i*48 + 1, i*48 + 64)) AS BIGINT) AS n_tok,
       md5(array_to_string(list_slice(toks, i*48 + 1, i*48 + 64), ' '))
         AS chunk_hash
FROM nc, UNNEST(range(n_chunks)) u(i)
""")
def chunk_documents_64_16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride chunking (operators.corpus.chunk_documents): every document
    split into 64-token windows with 16-token overlap — the training-
    sequence preparation step before packing/tokenization.  Entirely
    row-local (tokenize, arithmetic chunk count, explode, slice): zero
    shuffles, linear in total tokens, parallel at any corpus size."""
    from localsql_spark.operators.corpus import chunk_documents

    docs = load(spark, sf_dir)["documents"]
    return chunk_documents(docs, chunk=64, overlap=16)


@query("dedup_repeated_spans", oracle=f"""
WITH {_TOK_CTE.strip()},
sp AS (SELECT doc_id,
              md5(array_to_string(list_slice(toks, i + 1, i + 8), ' '))
                AS span_hash
       FROM tok, UNNEST(range(CASE WHEN len(toks) >= 8
                                   THEN len(toks) - 7 ELSE 0 END)) u(i))
SELECT span_hash, count(DISTINCT doc_id) AS n_docs,
       count(*) AS n_occurrences,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM sp GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
""")
def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication (operators.corpus.repeated_spans,
    arXiv:2107.06499): 8-token windows appearing verbatim in >= 2 distinct
    documents — the boilerplate/license-block/templated-paragraph signal
    document-level MinHash misses.  Rolling window is row-local; the one
    shuffle is the span-hash groupBy with map-side combine."""
    from localsql_spark.operators.corpus import repeated_spans

    docs = load(spark, sf_dir)["documents"]
    return repeated_spans(docs, span=8, min_docs=2)


@query("text_unigram_logprob", oracle=f"""
WITH {_TOK_CTE.strip()},
w AS (SELECT doc_id, word FROM tok, UNNEST(toks) u(word) WHERE word <> ''),
freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM freq),
lp AS (SELECT word,
              CAST(round(log10(CAST(cnt AS DOUBLE) / total), 9)
                   AS DECIMAL(28,9)) AS lp
       FROM freq, tot)
SELECT doc_id, count(*) AS n_tokens,
       round(CAST(SUM(lp) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM w JOIN lp USING (word)
GROUP BY doc_id
""")
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus unigram-LM document scoring (operators.corpus.
    unigram_logprob): mean per-token base-10 log-probability under the
    corpus's own unigram distribution — the cheap CCNet-style statistical
    quality signal (globally-improbable token streams are noise/mojibake).
    Two key shuffles (word frequencies, per-doc aggregate); per-word log10
    rounded to 9 decimals and summed as DECIMAL so aggregation order can't
    perturb the result."""
    from localsql_spark.operators.corpus import unigram_logprob

    docs = load(spark, sf_dir)["documents"]
    return unigram_logprob(docs)


@query("profile_orders_columns", oracle="""
SELECT 'o_orderkey' AS col_name,
       count(*) FILTER (WHERE o_orderkey IS NULL) AS n_nulls,
       count(DISTINCT o_orderkey) AS n_distinct,
       round(CAST(min(o_orderkey) AS DOUBLE), 4) AS min_num,
       round(CAST(max(o_orderkey) AS DOUBLE), 4) AS max_num,
       CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
FROM orders
UNION ALL
SELECT 'o_custkey', count(*) FILTER (WHERE o_custkey IS NULL),
       count(DISTINCT o_custkey),
       round(CAST(min(o_custkey) AS DOUBLE), 4),
       round(CAST(max(o_custkey) AS DOUBLE), 4), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderstatus', count(*) FILTER (WHERE o_orderstatus IS NULL),
       count(DISTINCT o_orderstatus), NULL, NULL,
       min(o_orderstatus), max(o_orderstatus)
FROM orders
UNION ALL
SELECT 'o_totalprice', count(*) FILTER (WHERE o_totalprice IS NULL),
       count(DISTINCT o_totalprice),
       round(CAST(min(o_totalprice) AS DOUBLE), 4),
       round(CAST(max(o_totalprice) AS DOUBLE), 4), NULL, NULL
FROM orders
UNION ALL
SELECT 'o_orderdate', count(*) FILTER (WHERE o_orderdate IS NULL),
       count(DISTINCT o_orderdate), NULL, NULL,
       strftime(min(o_orderdate), '%Y-%m-%d'),
       strftime(max(o_orderdate), '%Y-%m-%d')
FROM orders
UNION ALL
SELECT 'o_orderpriority', count(*) FILTER (WHERE o_orderpriority IS NULL),
       count(DISTINCT o_orderpriority), NULL, NULL,
       min(o_orderpriority), max(o_orderpriority)
FROM orders
""")
def profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass table profiling (operators.corpus.profile_columns): per
    column, null count + exact distinct + canonical min/max, computed in a
    SINGLE aggregation pass (multi-COUNT(DISTINCT) compiles to one Expand +
    two-phase hash aggregate), then exploded row-local into the per-column
    layout — profiling cost is one table scan however many columns are
    profiled, no driver loop."""
    from localsql_spark.operators.corpus import profile_columns

    orders = load(spark, sf_dir)["orders"]
    return profile_columns(orders, [
        ("o_orderkey", "num"), ("o_custkey", "num"),
        ("o_orderstatus", "str"), ("o_totalprice", "num"),
        ("o_orderdate", "date"), ("o_orderpriority", "str")])


def _hll_overlap_oracle() -> str:
    from localsql_spark.operators.sketches import HLL_ALPHA, HLL_B, HLL_M

    m, w = HLL_M, 32 - HLL_B

    def est(src: str) -> str:
        return (f"round(CASE WHEN ({HLL_ALPHA * m * m!r} / ({src}.ps + ({m} "
                f"- {src}.seen))) <= {2.5 * m} AND ({m} - {src}.seen) > 0 "
                f"THEN {m} * ln({float(m)!r} / ({m} - {src}.seen)) "
                f"ELSE {HLL_ALPHA * m * m!r} / ({src}.ps + ({m} - {src}.seen))"
                f" END, 6)")

    return f"""
WITH h AS (SELECT event_type AS grp,
                  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                       AS BIGINT) AS h
           FROM events
           WHERE user_id IS NOT NULL
             AND event_type IN ('click', 'purchase')),
r AS (SELECT grp, h % {m} AS bucket,
             CASE WHEN (h >> {HLL_B}) = 0 THEN {w + 1}
                  ELSE {w} - CAST(floor(log2(CAST(h >> {HLL_B} AS DOUBLE)))
                                  AS INT) END AS rank
      FROM h),
regs AS (SELECT grp, bucket, max(rank) AS m_rank FROM r GROUP BY 1, 2),
ga AS (SELECT count(*) AS seen, SUM(pow(2.0, -m_rank)) AS ps
       FROM regs WHERE grp = 'click'),
gb AS (SELECT count(*) AS seen, SUM(pow(2.0, -m_rank)) AS ps
       FROM regs WHERE grp = 'purchase'),
mg AS (SELECT bucket, max(m_rank) AS m_rank FROM regs GROUP BY 1),
gu AS (SELECT count(*) AS seen, SUM(pow(2.0, -m_rank)) AS ps FROM mg),
ests AS (SELECT {est('ga')} AS est_a, {est('gb')} AS est_b,
                {est('gu')} AS est_union
         FROM ga, gb, gu)
SELECT est_a, est_b, est_union,
       round(greatest(est_a + est_b - est_union, 0.0), 6) AS est_intersect
FROM ests
"""


@query("hll_user_overlap", oracle=_hll_overlap_oracle())
def hll_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL set algebra (operators.sketches.hll_set_estimates): distinct
    users of 'click' vs 'purchase', their union (per-bucket max register
    merge — the standard distributed-HLL property) and intersection
    (inclusion-exclusion, clamped at 0).  One scan + one fixed-fan-in
    shuffle builds the registers; the entire set algebra then runs on
    <= 256-row broadcast-size state — the "how many users overlap between
    sources?" question at 100 TB."""
    from localsql_spark.operators.sketches import hll_set_estimates

    ev = load(spark, sf_dir)["events"]
    return hll_set_estimates(ev, "user_id", "event_type",
                             "click", "purchase")


def _zorder_oracle() -> str:
    from localsql_spark.sinks.layout import ZORDER_BITS

    b = ZORDER_BITS
    terms = " + ".join(
        f"(((qx >> {i}) & 1) << {2 * i}) + (((qy >> {i}) & 1) << {2 * i + 1})"
        for i in range(b))
    return f"""
WITH st AS (SELECT min(o_custkey) AS x0, max(o_custkey) AS x1,
                   min(o_totalprice) AS y0, max(o_totalprice) AS y1
            FROM orders),
q AS (SELECT o_orderkey,
             CAST(least(floor((CAST(o_custkey AS DOUBLE) - x0) * {1 << b}
                              / ((x1 - x0) + 1e-9)), {(1 << b) - 1})
                  AS BIGINT) AS qx,
             CAST(least(floor((CAST(o_totalprice AS DOUBLE) - y0) * {1 << b}
                              / ((y1 - y0) + 1e-9)), {(1 << b) - 1})
                  AS BIGINT) AS qy
      FROM orders, st)
SELECT o_orderkey, {terms} AS zval FROM q
"""


@query("zorder_zvalue_orders", oracle=_zorder_oracle())
def zorder_zvalue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton z-value computation (sinks.layout.zvalue): every order's
    interleaved (o_custkey, o_totalprice) cell id — the clustering key
    write_zordered sorts by so parquet min/max stats skip files for range
    predicates on EITHER dimension.  Closed-form quantize + unrolled bit
    interleave: pure codegen arithmetic, no joins, no shuffles beyond the
    one-row stats pre-aggregate."""
    from localsql_spark.sinks.layout import zvalue

    orders = load(spark, sf_dir)["orders"]
    st = orders.agg(F.min("o_custkey"), F.max("o_custkey"),
                    F.min("o_totalprice"), F.max("o_totalprice")
                    ).collect()[0]
    z = zvalue(F.col("o_custkey"), F.col("o_totalprice"),
               st[0], st[1], st[2], st[3])
    return orders.select("o_orderkey", z.alias("zval"))


@query("dedup_containment_pairs", oracle=r"""
WITH norm AS (SELECT doc_id, lang,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
              FROM documents),
tok AS (SELECT doc_id, lang, string_split(t, ' ') AS toks FROM norm),
sh AS (SELECT DISTINCT doc_id, lang,
              concat_ws(' ', toks[i+1], toks[i+2], toks[i+3]) AS s
       FROM tok, UNNEST(range(greatest(len(toks) - 2, 1))) u(i)),
n AS (SELECT doc_id, lang, s, count(*) OVER (PARTITION BY doc_id) AS n
      FROM sh)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS DOUBLE) / least(min(a.n), min(b.n)) AS containment
FROM n a JOIN n b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING CAST(count(*) AS DOUBLE) / least(min(a.n), min(b.n)) >= 0.6
""")
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle containment |A∩B|/min(|A|,|B|) (operators.dedup.
    containment_pairs, Broder's containment measure): the asymmetric
    near-dup check that catches a short document embedded verbatim in a
    long one — symmetric Jaccard scores such pairs near 0.  Inverted-index
    self-join blocked by lang; intersection counts fall out of a groupBy,
    O(n²) never materializes."""
    from localsql_spark.operators.dedup import containment_pairs

    docs = load(spark, sf_dir)["documents"]
    return containment_pairs(docs, threshold=0.6)


@query("mix_sources_temperature", oracle="""
WITH c AS (SELECT source, count(*) AS c FROM documents GROUP BY 1),
m AS (SELECT min(c) AS mc FROM c),
r AS (SELECT source,
             CAST(floor(least(1.0, pow(CAST(c AS DOUBLE) / mc, -0.5))
                        * 1000000) AS BIGINT) AS thr
      FROM c, m)
SELECT d.doc_id, d.source, r.thr
FROM documents d JOIN r USING (source)
WHERE CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT)
        % 1000000 < r.thr
""")
def mix_sources_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-rebalanced source mixing (operators.corpus.
    temperature_mix, alpha=0.5): per-source keep probability
    min(1, (c_s/c_min)^(alpha-1)) so effective counts scale like c^alpha —
    the multilingual/multi-source mixture recipe between natural
    proportions (alpha=1) and uniform (alpha->0).  Deterministic hash-mod
    selection; one tiny count aggregate broadcast back, then a row-local
    filter."""
    from localsql_spark.operators.corpus import temperature_mix

    docs = load(spark, sf_dir)["documents"]
    return temperature_mix(docs, alpha=0.5)


@query("corpus_health_by_source", oracle=r"""
WITH norm AS (
  SELECT doc_id, source, text,
         trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
  FROM documents),
q AS (SELECT doc_id, source, md5(t) AS text_hash,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END
               AS ws_tokens,
             COALESCE(CAST((length(text) BETWEEN 50 AND 20000) AS INT)
               + CAST((CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE) / NULLIF(length(text), 0) < 0.10) AS INT)
               + CAST((CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / NULLIF(length(text), 0) < 0.20) AS INT)
               + CAST((CAST(length(regexp_replace(t, '\s', '', 'g')) AS DOUBLE) / len(string_split(t, ' ')) BETWEEN 2.0 AND 12.0) AS INT), 0)
               AS quality
      FROM norm)
SELECT source,
       count(*) AS n_docs,
       count(*) - count(DISTINCT text_hash) AS n_dup_docs,
       round(CAST(SUM(quality) AS DOUBLE) / count(*), 6) AS avg_quality,
       round(CAST(SUM(ws_tokens) AS DOUBLE) / count(*), 6) AS avg_tokens
FROM q GROUP BY 1
""")
def corpus_health_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health dashboard: doc count, exact-duplicate count
    (docs minus distinct content hashes), mean quality score, mean token
    count — the monitoring row a pipeline emits per ingest source.  One
    pass of row-local scoring + a single groupBy(source); integer sums
    divided once, so aggregation order can't perturb the averages."""
    from localsql_spark.operators import text as T

    docs = load(spark, sf_dir)["documents"]
    scored = docs.select(
        "source",
        F.md5(T.normalize_text(F.col("text"))).alias("text_hash"),
        T.token_count_ws("text").alias("ws_tokens"),
        T.quality_score("text").alias("quality"))
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 (F.count(F.lit(1)) - F.countDistinct("text_hash"))
                 .alias("n_dup_docs"),
                 F.round(F.sum("quality").cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_quality"),
                 F.round(F.sum("ws_tokens").cast("double")
                         / F.count(F.lit(1)), 6).alias("avg_tokens")))


@query("bpe_pair_stats", oracle=f"""
WITH {_TOK_CTE.strip()},
w AS (SELECT word, count(*) AS cnt
      FROM tok, UNNEST(toks) u(word) WHERE word <> '' GROUP BY 1),
p AS (SELECT substring(word, i + 1, 1) || '|' || substring(word, i + 2, 1)
        AS pair, cnt
      FROM w, UNNEST(range(length(word) - 1)) u(i))
SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
FROM p GROUP BY 1
ORDER BY n DESC, pair
LIMIT 40
""")
def bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-1 BPE pair statistics (operators.corpus.bpe_pair_counts,
    Sennrich et al. arXiv:1508.07909): adjacent character-pair frequencies
    weighted by word count — the aggregation every BPE training round runs
    and argmaxes.  The loop operates on the DISTINCT-WORD table
    (Zipf-bounded, ~O(corpus^0.5)), so training cost is vocabulary-, not
    corpus-, proportional; the full driver-looped trainer (bpe_train) is
    pinned by unit test against the hand-computable reference example."""
    from localsql_spark.operators.corpus import (bpe_pair_counts, _chars,
                                                 word_frequencies)

    docs = load(spark, sf_dir)["documents"]
    syms = (word_frequencies(docs)
            .select("word", "cnt", _chars(F.col("word")).alias("syms")))
    return (bpe_pair_counts(syms).select("pair", "n")
            .orderBy(F.col("n").desc(), F.col("pair")).limit(40))


@query("bpe_encode_fixed", oracle=rf"""
WITH {_TOK_CTE.strip()},
w AS (SELECT doc_id, word
      FROM tok, UNNEST(toks) u(word) WHERE word <> ''),
enc AS (SELECT doc_id,
               length(replace(replace(replace(word,
                       'th', chr(1)), chr(1) || 'e', chr(2)),
                       'an', chr(3))) AS n_syms
        FROM w)
SELECT doc_id, count(*) AS n_tokens_ws,
       CAST(sum(n_syms) AS BIGINT) AS n_bpe_symbols
FROM enc GROUP BY doc_id
""")
def bpe_encode_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application (operators.corpus.bpe_encode) under a FIXED merge
    list ('t'+'h', 'th'+'e', 'a'+'n'): per-document whitespace-token and
    BPE-symbol counts.  The oracle exploits that leftmost-non-overlapping
    adjacent-pair merging over single-char-origin symbols is EXACTLY
    string replace with sentinel substitution — so the row-local
    fold-based rewrite is verified bit-for-bit without replaying the fold
    in SQL.  Fixed merges keep the oracle closed-form; the trained path
    runs through the same _apply_merge fold (unit-tested)."""
    from localsql_spark.operators.corpus import bpe_encode

    docs = load(spark, sf_dir)["documents"]
    merges = [("t", "h", 0), ("th", "e", 0), ("a", "n", 0)]
    return bpe_encode(docs, merges)


@query("bpe_pair_stats_round2", oracle=f"""
WITH {_TOK_CTE.strip()},
w AS (SELECT word, count(*) AS cnt
      FROM tok, UNNEST(toks) u(word) WHERE word <> '' GROUP BY 1),
p1 AS (SELECT substring(word, i + 1, 1) || '|' || substring(word, i + 2, 1)
         AS pair, sum(cnt) AS n
       FROM w, UNNEST(range(length(word) - 1)) u(i)
       GROUP BY 1),
m1 AS (SELECT split_part(pair, '|', 1) AS a, split_part(pair, '|', 2) AS b
       FROM p1 ORDER BY n DESC, pair LIMIT 1),
enc AS (SELECT w.cnt, replace(w.word, m1.a || m1.b, chr(1)) AS e,
               m1.a, m1.b
        FROM w, m1),
p2 AS (SELECT cnt, a, b,
              substring(e, i + 1, 1) AS sa, substring(e, i + 2, 1) AS sb
       FROM enc, UNNEST(range(length(e) - 1)) u(i)),
dec AS (SELECT cnt,
               CASE WHEN sa = chr(1) THEN a || b ELSE sa END || '|'
                 || CASE WHEN sb = chr(1) THEN a || b ELSE sb END AS pair
        FROM p2)
SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
FROM dec GROUP BY 1
ORDER BY n DESC, pair
LIMIT 40
""")
def bpe_pair_stats_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 BPE pair statistics with the LEARNED round-1 merge applied —
    the data-dependent step of the training loop, checked cross-engine:
    the oracle re-derives the same argmax merge from the corpus (round-1
    tie-break on raw characters, so ordering is engine-identical), applies
    it via the sentinel-replace equivalence (leftmost-non-overlapping
    adjacent merge == string replace, see bpe_encode_fixed), and decodes
    the sentinel back to the multi-character symbol name so round-2
    tie-breaks compare the same strings.  Only the single argmax row
    crosses the driver, per training round."""
    from localsql_spark.operators.corpus import (_apply_merge, _chars,
                                                 bpe_pair_counts,
                                                 word_frequencies)

    docs = load(spark, sf_dir)["documents"]
    syms = (word_frequencies(docs)
            .select("word", "cnt", _chars(F.col("word")).alias("syms")))
    top = (bpe_pair_counts(syms)
           .orderBy(F.col("n").desc(), F.col("pair")).limit(1).collect())
    a, b = top[0]["a"], top[0]["b"]  # exact symbols (struct-keyed count)
    syms2 = syms.select(
        "word", "cnt", _apply_merge(F.col("syms"), a, b).alias("syms"))
    return (bpe_pair_counts(syms2).select("pair", "n")
            .orderBy(F.col("n").desc(), F.col("pair")).limit(40))


@query("winnowing_fingerprints", oracle=r"""
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
              FROM documents),
nm AS (SELECT doc_id, t, length(t) - 8 + 1 AS ng
       FROM norm WHERE length(t) - 8 + 1 >= 1),
g AS (SELECT doc_id, i,
             CAST('0x' || substr(md5(substr(t, CAST(i AS INT) + 1, 8)), 1, 8)
                  AS BIGINT) AS h
      FROM nm, UNNEST(range(ng)) u(i)),
wins AS (SELECT doc_id, ws
         FROM nm, UNNEST(range(greatest(ng - 4 + 1, 1))) u(ws)),
sel AS (SELECT doc_id, h, i FROM (
          SELECT w.doc_id, w.ws, g.h, g.i,
                 ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.ws
                                    ORDER BY g.h, g.i) AS rn
          FROM wins w JOIN g ON g.doc_id = w.doc_id
                            AND g.i >= w.ws AND g.i <= w.ws + 3) s
        WHERE rn = 1),
fp AS (SELECT DISTINCT doc_id, h, i FROM sel)
SELECT nm.doc_id, CAST(nm.ng AS BIGINT) AS n_grams,
       count(*) AS n_fps,
       CAST(sum(CAST(h AS HUGEINT) * 1099511627776 + i) AS VARCHAR)
         AS fp_checksum
FROM fp JOIN nm USING (doc_id)
GROUP BY nm.doc_id, nm.ng
""")
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators.text.
    winnowing_fingerprints, Schleimer et al. SIGMOD 2003 — the MOSS
    core): k=8 character-gram hashes, w=4 window minima, leftmost
    tie-break — any shared substring >= 11 chars between documents is
    guaranteed to share a selected fingerprint at ~2/(w+1) gram density.
    Row-local array folds, zero shuffles before the per-doc projection;
    the checksum is the order-insensitive DECIMAL sum of the selected
    (hash, position) set, so the oracle verifies the exact selection,
    not just its count."""
    from localsql_spark.operators.text import winnowing_fingerprints as wfp

    docs = load(spark, sf_dir)["documents"]
    return wfp(docs, k=8, w=4)


@query("winnowing_shared_pairs", oracle=r"""
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
              FROM documents),
nm AS (SELECT doc_id, t, length(t) - 8 + 1 AS ng
       FROM norm WHERE length(t) - 8 + 1 >= 1),
g AS (SELECT doc_id, i,
             CAST('0x' || substr(md5(substr(t, CAST(i AS INT) + 1, 8)), 1, 8)
                  AS BIGINT) AS h
      FROM nm, UNNEST(range(ng)) u(i)),
wins AS (SELECT doc_id, ws
         FROM nm, UNNEST(range(greatest(ng - 4 + 1, 1))) u(ws)),
sel AS (SELECT doc_id, h FROM (
          SELECT w.doc_id, w.ws, g.h, g.i,
                 ROW_NUMBER() OVER (PARTITION BY w.doc_id, w.ws
                                    ORDER BY g.h, g.i) AS rn
          FROM wins w JOIN g ON g.doc_id = w.doc_id
                            AND g.i >= w.ws AND g.i <= w.ws + 3) s
        WHERE rn = 1),
fpv AS (SELECT DISTINCT doc_id, h FROM sel),
pn AS (SELECT h, count(*) AS pn FROM fpv GROUP BY 1),
kept AS (SELECT f.doc_id, f.h FROM fpv f JOIN pn USING (h) WHERE pn <= 50)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 25
""")
def winnowing_shared_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate copy pairs by shared winnowing fingerprints
    (operators.text.winnowing_shared_pairs — the MOSS match step):
    inverted fingerprint index, boilerplate fingerprints (posting > 50
    docs) dropped before the pair join (the LSH bucket_cap discipline),
    pairs sharing >= 25 distinct fingerprint values (8-char grams of a
    shared vocabulary make low thresholds pure noise: >= 2 flags 70% of
    all pairs on this corpus, >= 25 flags 76 genuine-overlap pairs) —
    LOCAL similarity
    document-level MinHash misses, e.g. one lifted paragraph inside an
    otherwise-unrelated document.  Pair-join cost is capped at
    posting_cap x postings — linear in fingerprints at any corpus
    size."""
    from localsql_spark.operators.text import winnowing_shared_pairs as wsp

    docs = load(spark, sf_dir)["documents"]
    return wsp(docs, k=8, w=4, min_shared=25, posting_cap=50)


@query("mix_token_budget_plan", oracle=r"""
WITH norm AS (SELECT source,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
              FROM documents),
c AS (SELECT source,
             CAST(sum(len(list_filter(string_split(t, ' '), w -> w <> '')))
                  AS BIGINT) AS c_tokens
      FROM norm GROUP BY 1),
s AS (SELECT source, c_tokens,
             round(pow(CAST(c_tokens AS DOUBLE), 0.5)
                   / sum(pow(CAST(c_tokens AS DOUBLE), 0.5)) OVER (), 9)
               AS share
      FROM c)
SELECT source, c_tokens, share,
       CAST(round(share * 1000000) AS BIGINT) AS target_tokens,
       round(least(1.0, CAST(round(share * 1000000) AS DOUBLE) / c_tokens),
             9) AS rate,
       CAST(round(share * 1000000) AS BIGINT) > c_tokens AS capped
FROM s
""")
def mix_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mix planning (operators.corpus.token_budget_plan): a
    1M-token training budget split across sources by temperature share
    (c^0.5), with the sampling rate realizing each allocation and a
    capped flag where a source cannot fill its share — the planning
    table read BEFORE launching a 100 TB selection job, surfaced rather
    than silently waterfilled.  One |sources|-row aggregate + bounded
    window normalization; nothing corpus-sized moves."""
    from localsql_spark.operators.corpus import token_budget_plan

    docs = load(spark, sf_dir)["documents"]
    return token_budget_plan(docs, budget_tokens=1_000_000, alpha=0.5)


@query("doc_novelty_scores", oracle=f"""
WITH {_TOK_CTE.strip()},
sp AS (SELECT doc_id,
              md5(array_to_string(list_slice(toks, i + 1, i + 8), ' '))
                AS span_hash
       FROM tok, UNNEST(range(CASE WHEN len(toks) >= 8
                                   THEN len(toks) - 7 ELSE 0 END)) u(i)),
sh AS (SELECT span_hash FROM sp GROUP BY 1
       HAVING count(DISTINCT doc_id) >= 2),
pd AS (SELECT sp.doc_id, count(*) AS n_spans,
              CAST(count(sh.span_hash) AS BIGINT) AS n_shared_spans
       FROM sp LEFT JOIN sh USING (span_hash) GROUP BY 1)
SELECT d.doc_id,
       coalesce(pd.n_spans, 0) AS n_spans,
       coalesce(pd.n_shared_spans, 0) AS n_shared_spans,
       coalesce(round(1.0 - CAST(pd.n_shared_spans AS DOUBLE) / pd.n_spans,
                      6), 1.0) AS novelty
FROM documents d LEFT JOIN pd USING (doc_id)
""")
def doc_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty (operators.corpus.doc_novelty_scores,
    arXiv:2107.06499's duplication fraction inverted): the fraction of a
    doc's 8-token windows appearing in no other document — low novelty
    means mostly boilerplate/template even without any single
    near-duplicate partner.  One persisted span stream feeds both the
    global frequency aggregate and the per-doc count (corpus scanned
    once); windowless short docs report novelty 1.0 over 0 spans."""
    from localsql_spark.operators.corpus import doc_novelty_scores as dns

    docs = load(spark, sf_dir)["documents"]
    return dns(docs, span=8)


@query("remove_repeated_spans", oracle=f"""
WITH {_TOK_CTE.strip()},
sp AS (SELECT doc_id, i AS pos,
              md5(array_to_string(list_slice(toks, i + 1, i + 8), ' '))
                AS span_hash
       FROM tok, UNNEST(range(CASE WHEN len(toks) >= 8
                                   THEN len(toks) - 7 ELSE 0 END)) u(i)),
sh AS (SELECT span_hash FROM sp GROUP BY 1
       HAVING count(DISTINCT doc_id) >= 2),
cov AS (SELECT sp.doc_id, list(DISTINCT pos ORDER BY pos) AS cps
        FROM sp JOIN sh USING (span_hash) GROUP BY 1),
j AS (SELECT t.doc_id, t.toks, coalesce(cov.cps, []) AS cps
      FROM tok t LEFT JOIN cov USING (doc_id)),
k AS (SELECT doc_id, toks,
             list_filter(range(len(toks)),
                         jx -> len(list_filter(cps,
                                  p -> p <= jx AND jx <= p + 7)) = 0)
               AS kept
      FROM j)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens_before,
       CAST(len(kept) AS BIGINT) AS n_tokens_after,
       md5(coalesce(array_to_string(list_transform(kept, jx -> toks[jx + 1]),
                                    ' '), '')) AS cleaned_hash
FROM k
""")
def remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-substring REMOVAL (operators.corpus.
    remove_repeated_spans, arXiv:2107.06499's remediation): every token
    covered by an 8-token window shared verbatim across >= 2 documents
    is excised and the text rebuilt — the action the repeated-span
    detector exists for (boilerplate lives inside otherwise-good pages,
    so dropping whole documents is wrong).  The oracle rebuilds the
    cleaned token stream independently and compares its md5, so the gate
    checks token-exact surgery, not just counts."""
    from localsql_spark.operators.corpus import remove_repeated_spans as rrs

    docs = load(spark, sf_dir)["documents"]
    return rrs(docs, span=8)


_PACK_CTE = f"""
{_TOK_CTE.strip()},
d AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                       AS BIGINT) % 8 AS INT) AS shard,
             CAST('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),
                                 1, 8) AS BIGINT) AS oh
      FROM tok),
o AS (SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY oh, doc_id) AS rn
      FROM d),
p AS (
  SELECT shard, rn, doc_id, n_tok, oh, 0 AS seq, n_tok AS fill
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.doc_id, o.n_tok, o.oh,
         CASE WHEN p.fill + o.n_tok <= 128 THEN p.seq ELSE p.seq + 1 END,
         CASE WHEN p.fill + o.n_tok <= 128 THEN p.fill + o.n_tok
              ELSE o.n_tok END
  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
)
"""


@query("pack_sequences_cap128", oracle=f"""
WITH RECURSIVE {_PACK_CTE.strip()}
SELECT doc_id, shard, CAST(seq AS INT) AS seq,
       CAST(row_number() OVER (PARTITION BY shard, seq
                               ORDER BY oh, doc_id) - 1 AS INT) AS pos,
       n_tok, n_tok > 128 AS oversize
FROM p
""")
def pack_sequences_cap128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy next-fit sequence packing (operators.corpus.pack_sequences):
    whole documents assigned to 128-token training sequences in a
    deterministic salted-hash order within hash shards — the batch-
    construction step that fills context windows instead of padding them.
    The fold is order-dependent by construction, so it runs as ONE
    Arrow-batched per-shard pandas pass after row-local token counting and
    shard hashing; shards are independent streams, so the result is
    identical at any parallelism.  The oracle replays the fold as a
    per-shard recursive CTE — bin state (fill, seq) threaded row by row —
    proving the distributed pass equals the sequential definition."""
    from localsql_spark.operators.corpus import pack_sequences

    docs = load(spark, sf_dir)["documents"]
    return pack_sequences(docs, capacity=128, n_shards=8)


@query("pack_fill_stats", oracle=f"""
WITH RECURSIVE {_PACK_CTE.strip()}
SELECT shard, CAST(seq AS INT) AS seq,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS fill_tok,
       round(sum(n_tok) / 128.0, 9) AS fill_frac
FROM p GROUP BY 1, 2
""")
def pack_fill_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing efficiency audit over pack_sequences' bins: documents and
    token fill per (shard, seq) plus the fill fraction against the
    128-token budget — the utilization number (vs padding waste) that
    justifies packing; one bounded groupBy over the packed assignment."""
    from localsql_spark.operators.corpus import pack_sequences

    docs = load(spark, sf_dir)["documents"]
    packed = pack_sequences(docs, capacity=128, n_shards=8)
    return (packed.groupBy("shard", "seq")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("fill_tok"),
                 F.round(F.sum("n_tok") / F.lit(128.0), 9)
                 .alias("fill_frac")))


@query("pack_chunks_cap128", oracle=f"""
WITH RECURSIVE {_TOK_CTE.strip()},
nc AS (SELECT doc_id, toks,
              greatest(CAST(ceil((CAST(len(toks) AS DOUBLE) - 16) / 48)
                            AS INT), 1) AS n_chunks
       FROM tok),
ch AS (SELECT doc_id * 100 + i AS item,
              CAST(len(list_slice(toks, i*48 + 1, i*48 + 64)) AS BIGINT)
                AS n_tok
       FROM nc, UNNEST(range(n_chunks)) u(i)),
d AS (SELECT item, n_tok,
             CAST(CAST('0x' || substr(md5(CAST(item AS VARCHAR)), 1, 8)
                       AS BIGINT) % 8 AS INT) AS shard,
             CAST('0x' || substr(md5('pack:' || CAST(item AS VARCHAR)),
                                 1, 8) AS BIGINT) AS oh
      FROM ch),
o AS (SELECT *, row_number() OVER (PARTITION BY shard
                                   ORDER BY oh, item) AS rn
      FROM d),
p AS (
  SELECT shard, rn, item, n_tok, oh, 0 AS seq, n_tok AS fill
  FROM o WHERE rn = 1
  UNION ALL
  SELECT o.shard, o.rn, o.item, o.n_tok, o.oh,
         CASE WHEN p.fill + o.n_tok <= 128 THEN p.seq ELSE p.seq + 1 END,
         CASE WHEN p.fill + o.n_tok <= 128 THEN p.fill + o.n_tok
              ELSE o.n_tok END
  FROM p JOIN o ON o.shard = p.shard AND o.rn = p.rn + 1
)
SELECT item AS doc_id, shard, CAST(seq AS INT) AS seq,
       CAST(row_number() OVER (PARTITION BY shard, seq
                               ORDER BY oh, item) - 1 AS INT) AS pos,
       n_tok, n_tok > 128 AS oversize
FROM p
""")
def pack_chunks_cap128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The realistic pipeline ORDER — chunk, then pack: documents stride-
    chunk into 64-token windows (chunk_documents) and the CHUNKS pack
    into 128-token training sequences (pack_sequences with the
    precomputed n_tok — no re-tokenization), keyed by the synthetic item
    id doc_id*100 + chunk_id.  Chunking bounds every item at 64 tokens,
    so no bin is ever oversize and fill efficiency is structurally
    higher than packing raw variable-length documents — exactly why
    pipelines chunk before packing.  Oracle replays chunking AND the
    per-shard next-fit recursion end-to-end."""
    from localsql_spark.operators.corpus import (chunk_documents,
                                                 pack_sequences)

    docs = load(spark, sf_dir)["documents"]
    chunks = (chunk_documents(docs, chunk=64, overlap=16)
              .select((F.col("doc_id") * 100 + F.col("chunk_id"))
                      .alias("item"), "n_tok"))
    return pack_sequences(chunks, capacity=128, n_shards=8,
                          doc_id_col="item", n_tok_col="n_tok")


@query("corpus_bigram_diversity", oracle=r"""
WITH norm AS (
  SELECT source,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
           AS toks
  FROM documents),
bg AS (
  SELECT source, g
  FROM norm, UNNEST(CASE WHEN len(toks) >= 2
                         THEN list_transform(range(len(toks) - 1),
                                i -> concat_ws(' ', toks[i+1], toks[i+2]))
                         ELSE [] END) u(g)),
agg AS (SELECT source, count(*) AS total_ngrams,
               count(DISTINCT g) AS distinct_ngrams
        FROM bg GROUP BY 1),
d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT d.source, d.n_docs,
       COALESCE(agg.total_ngrams, 0) AS total_ngrams,
       COALESCE(agg.distinct_ngrams, 0) AS distinct_ngrams,
       round(CASE WHEN COALESCE(agg.total_ngrams, 0) > 0
                  THEN CAST(agg.distinct_ngrams AS DOUBLE) / agg.total_ngrams
                  ELSE 0.0 END, 6) AS ttr
FROM d LEFT JOIN agg USING (source)
""")
def corpus_bigram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document bigram diversity per source (operators.corpus.
    ngram_diversity): corpus-level type/token ratio — the mixing audit
    that catches globally-templated sources (mirrors, boilerplate farms,
    machine generation) whose per-document repetition profile looks
    normal.  One explode + one per-group count-distinct shuffle; groups
    parallelize independently."""
    from localsql_spark.operators.corpus import ngram_diversity

    docs = load(spark, sf_dir)["documents"]
    return ngram_diversity(docs, n=2, group_col="source")


def _hll_diversity_oracle() -> str:
    from localsql_spark.operators.sketches import HLL_ALPHA, HLL_B, HLL_M

    m, w = HLL_M, 32 - HLL_B
    return rf"""
WITH norm AS (SELECT source,
        string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
          AS toks
      FROM documents),
g AS (SELECT source, g
      FROM norm, UNNEST(CASE WHEN len(toks) >= 2
                             THEN list_transform(range(len(toks) - 1),
                                    i -> concat_ws(' ', toks[i+1], toks[i+2]))
                             ELSE [] END) u(g)),
h AS (SELECT source, CAST('0x' || substr(md5(g), 1, 8) AS BIGINT) AS h
      FROM g),
r AS (SELECT source, h % {m} AS bucket,
             CASE WHEN (h >> {HLL_B}) = 0 THEN {w + 1}
                  ELSE {w} - CAST(floor(log2(CAST(h >> {HLL_B} AS DOUBLE)))
                                  AS INT) END AS rank
      FROM h),
regs AS (SELECT source, bucket, max(rank) AS m_rank FROM r GROUP BY 1, 2),
agg AS (SELECT source, count(*) AS seen,
               SUM(pow(2.0, -m_rank)) AS present_sum
        FROM regs GROUP BY 1),
cnt AS (SELECT source, count(*) AS total_ngrams FROM g GROUP BY 1),
d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
est AS (SELECT source, seen,
               round(CASE WHEN ({HLL_ALPHA * m * m!r}
                               / (present_sum + ({m} - seen))) <= {2.5 * m}
                           AND ({m} - seen) > 0
                          THEN {m} * ln({float(m)!r} / ({m} - seen))
                          ELSE {HLL_ALPHA * m * m!r}
                               / (present_sum + ({m} - seen))
                     END, 6) AS approx_distinct
        FROM agg)
SELECT d.source, d.n_docs,
       CAST(COALESCE(cnt.total_ngrams, 0) AS BIGINT) AS total_ngrams,
       CAST(COALESCE(est.seen, 0) AS BIGINT) AS n_buckets_seen,
       COALESCE(est.approx_distinct, 0.0) AS approx_distinct,
       round(CASE WHEN COALESCE(cnt.total_ngrams, 0) > 0
                  THEN COALESCE(est.approx_distinct, 0.0) / cnt.total_ngrams
                  ELSE 0.0 END, 9) AS ttr_approx
FROM d LEFT JOIN cnt USING (source) LEFT JOIN est USING (source)
"""


@query("corpus_diversity_hll_incremental", oracle=_hll_diversity_oracle())
def corpus_diversity_hll_incremental(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """Sketch-valued INCREMENTAL diversity view (sinks.sketch_view): the
    exact audit's distinct-n-gram count is not mergeable, so the
    incremental form stores per-group portable-HLL registers instead —
    per-bucket max merges, state <= HLL_M rows per group, fold cost
    tracks the batch.  Two halves of the corpus fold in sequence; the
    folded registers are BIT-IDENTICAL to one full-corpus sketch
    (deterministic portable HLL), so this shares an exact full-corpus
    oracle despite the view being approximate — an exact gate on an
    approximate structure (the Druid-style sketch rollup pattern)."""
    import shutil
    import tempfile
    from pathlib import Path

    from localsql_spark.sinks.sketch_view import (sketch_view_read,
                                                  sketch_view_update)

    docs = load(spark, sf_dir)["documents"]
    scratch = Path(tempfile.mkdtemp(prefix="sketch_view_"))
    view = str(scratch / "view")
    sketch_view_update(spark, view, docs.filter(F.col("doc_id") % 2 == 0))
    sketch_view_update(spark, view, docs.filter(F.col("doc_id") % 2 == 1))
    out = sketch_view_read(spark, view).localCheckpoint(eager=True)
    shutil.rmtree(scratch, ignore_errors=True)
    return out


@query("streaming_sketch_ingest", oracle=_hll_diversity_oracle())
def streaming_sketch_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the sketch-valued diversity view, driver-
    gated end-to-end (streaming.stream_sketch_ingest): documents arrive
    as three micro-batches (hash-mod split, mtime-ordered,
    maxFilesPerTrigger=1); each lands in an idempotent per-batch dir,
    then folds its HLL registers (idempotent max) and totals (additive —
    the applied marker carries exactly-once) into the persisted view.
    The streamed registers are bit-identical to one full-corpus sketch,
    so this shares the batch view's exact full-corpus oracle."""
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from localsql_spark.catalog import _CACHE_DIR
    from localsql_spark.operators import hash32
    from localsql_spark.sinks.sketch_view import sketch_view_read
    from localsql_spark.streaming.stream_sketch_ingest import \
        stream_sketch_ingest

    docs = load(spark, sf_dir)["documents"]
    src_dir = (_CACHE_DIR.parent / "stream_sketch_src"
               / Path(sf_dir.rstrip("/")).name)
    if not src_dir.exists():
        src_dir.parent.mkdir(parents=True, exist_ok=True)
        build = Path(tempfile.mkdtemp(prefix=f".{src_dir.name}.build_",
                                      dir=src_dir.parent))
        names = ("a_batch0.parquet", "b_batch1.parquet", "c_batch2.parquet")
        for i, name in enumerate(names):
            tmp = tempfile.mkdtemp(prefix="sksplit_")
            (docs.filter(hash32(F.col("doc_id")) % 3 == i).coalesce(1)
             .write.mode("overwrite").parquet(tmp))
            part = next(Path(tmp).glob("part-*.parquet"))
            shutil.move(str(part), build / name)
            shutil.rmtree(tmp, ignore_errors=True)
        t0 = (build / names[0]).stat().st_mtime
        for i, name in enumerate(names):
            os.utime(build / name, (t0 + 100 * i, t0 + 100 * i))
        try:
            os.rename(build, src_dir)
        except OSError:
            shutil.rmtree(build, ignore_errors=True)

    schema = spark.read.parquet(str(src_dir / "a_batch0.parquet")).schema
    scratch = Path(tempfile.mkdtemp(prefix="stream_sketch_"))
    stream_sketch_ingest(
        spark, source_dir=str(src_dir), schema=schema,
        land_dir=str(scratch / "land"), view_dir=str(scratch / "view"),
        checkpoint_dir=str(scratch / "ck"))
    out = sketch_view_read(spark, str(scratch / "view")) \
        .localCheckpoint(eager=True)
    shutil.rmtree(scratch, ignore_errors=True)
    return out


def _bpe_train_oracle(n_merges: int) -> str:
    """Generate the EXACT unrolled DuckDB oracle for ``n_merges`` rounds
    of BPE training — the bpe_pair_stats_round2 sentinel technique
    generalized: each round works on sentinel-ENCODED words (every merged
    token is one control char, so adjacent symbols stay 2-char
    substrings and merge application is leftmost-non-overlapping
    replace()), while the argmax ORDERS on the DECODED pair string,
    mirroring bpe_train's (n DESC, pair, a) key exactly."""

    def dec(col: str, k: int) -> str:
        if k == 1:
            return col
        arms = " ".join(
            f"WHEN chr({j}) THEN (SELECT da || db FROM m{j})"
            for j in range(1, k))
        return f"CASE {col} {arms} ELSE {col} END"

    parts = [_TOK_CTE.strip(), """
w0 AS MATERIALIZED (SELECT word AS e, CAST(count(*) AS BIGINT) AS cnt
       FROM tok, UNNEST(toks) u(word) WHERE word <> '' GROUP BY 1)"""]
    for k in range(1, n_merges + 1):
        da, db = dec("sa", k), dec("sb", k)
        parts.append(f"""
p{k} AS MATERIALIZED (SELECT substring(e, i + 1, 1) AS sa,
               substring(e, i + 2, 1) AS sb, cnt
        FROM w{k - 1}, UNNEST(range(length(e) - 1)) u(i)),
c{k} AS MATERIALIZED (SELECT sa, sb, SUM(cnt) AS n
        FROM p{k} GROUP BY 1, 2),
m{k} AS MATERIALIZED (SELECT sa, sb, {da} AS da, {db} AS db, n
        FROM c{k}
        ORDER BY n DESC, {da} || '|' || {db}, {da} LIMIT 1),
w{k} AS MATERIALIZED (SELECT replace(w.e, m.sa || m.sb, chr({k})) AS e,
               w.cnt
        FROM w{k - 1} w, m{k} m)""")
    union = "\nUNION ALL ".join(
        f"SELECT {k} AS merge_idx, da, db, n FROM m{k}"
        for k in range(1, n_merges + 1))
    return ("WITH " + ",".join(parts) + f"""
SELECT CAST(merge_idx AS INT) AS merge_idx, da AS a, db AS b,
       CAST(n AS BIGINT) AS n
FROM ({union})
ORDER BY merge_idx
""")


@query("bpe_train_merges", oracle=_bpe_train_oracle(6))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE tokenizer training (operators.corpus.bpe_train, Sennrich
    et al. arXiv:1508.07909), six merge rounds end-to-end — the step a
    training-data pipeline runs to fit the tokenizer to the corpus.  The
    loop aggregates the DISTINCT-WORD table (Zipf-bounded, vocabulary-
    not corpus-sized), each round is one bounded pair aggregation + a
    row-local symbol-array rewrite, and only the argmax row reaches the
    driver per round.  The oracle unrolls all six rounds in SQL
    (sentinel-encoded words, decoded-pair argmax ordering), upgrading the
    trainer from unit-pinned to exact-oracled: pick order, merge
    application, and counts all match DuckDB bit-for-bit."""
    from localsql_spark.operators.corpus import bpe_train

    docs = load(spark, sf_dir)["documents"]
    merges = bpe_train(docs, n_merges=6)
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "merge_idx int, a string, b string, n long")
