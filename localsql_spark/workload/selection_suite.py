"""Round-5 data-selection queries: DSIR importance weighting/resampling
(arXiv:2302.03169), Gopher rule filtering (arXiv:2112.11446), and the
deterministic training-shard export — the "choose the mix, then ship it"
tail of an LLM data pipeline, each with an exact DuckDB oracle.

Extends the reference (localsql has no corpus tooling; its relational layer
is the SQLite delegate at localsql/localsql.py:230) along the same axis as
workload.corpus_suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from localsql_spark.workload import load, query

# Shared DuckDB fragments -----------------------------------------------------
# hash32(x) == the portable md5-prefix idiom in operators.hash32
_H32 = "CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"

# normalized non-empty tokens + hashed unigram/bigram feature stream with the
# target flag riding along (mirrors operators.selection.dsir_weights)
_FEAT_CTE = r"""
norm AS (SELECT doc_id, lang,
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
         FROM documents),
tok AS (SELECT doc_id, lang,
               list_filter(string_split(t, ' '), w -> w <> '') AS toks
        FROM norm),
feat AS (
  SELECT doc_id, lang, f FROM tok, UNNEST(toks) u(f)
  UNION ALL
  SELECT doc_id, lang, toks[i + 1] || ' ' || toks[i + 2] AS f
  FROM tok, UNNEST(range(len(toks) - 1)) u(i)
),
b AS (SELECT doc_id, lang,
             CAST('0x' || substr(md5(f), 1, 8) AS BIGINT) % 1024 AS bucket
      FROM feat),
hist AS (SELECT bucket, count(*) AS raw_cnt,
                sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_cnt
         FROM b GROUP BY 1),
tot AS (SELECT sum(raw_cnt) AS raw_tot, sum(tgt_cnt) AS tgt_tot FROM hist),
ratio AS (SELECT bucket,
                 CAST(round(log10((tgt_cnt + 1.0) / (tgt_tot + 1.0 * 1024))
                            - log10((raw_cnt + 1.0) / (raw_tot + 1.0 * 1024)),
                            9) AS DECIMAL(28,9)) AS lr
          FROM hist, tot),
w AS (SELECT doc_id, count(*) AS n_feats,
             round(CAST(sum(lr) AS DOUBLE), 6) AS logw
      FROM b JOIN ratio USING (bucket) GROUP BY doc_id)
"""


@query("dsir_importance_weights", oracle=f"""
WITH {_FEAT_CTE.strip()}
SELECT doc_id, n_feats, logw FROM w
""")
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (operators.selection.dsir_weights,
    arXiv:2302.03169): every document scored by the log-likelihood ratio of
    its hashed unigram+bigram features under the target-domain (lang='en')
    vs raw-pool bucket distributions — the learned "how target-like is this
    document" signal that replaces hand-tuned rules for mix selection.
    One explode feeds BOTH histograms (single bounded 1024-row conditional
    aggregation), the ratio table broadcasts, one doc-key shuffle; the
    model size is fixed at n_buckets rows regardless of corpus size."""
    from localsql_spark.operators.selection import dsir_weights

    docs = load(spark, sf_dir)["documents"]
    return dsir_weights(docs, is_target=F.col("lang").eqNullSafe("en"),
                        n_buckets=1024, smoothing=1.0)


@query("dsir_resample_top200", oracle=f"""
WITH {_FEAT_CTE.strip()}
SELECT doc_id, n_feats, logw,
       round(CAST(logw AS DOUBLE)
             + (-ln(-ln(({_H32.format(x="CAST(doc_id AS VARCHAR) || '#0'")}
                          + 0.5) / 4294967296.0))), 6) AS sample_key
FROM w
ORDER BY sample_key DESC, doc_id
LIMIT 200
""")
def dsir_resample_top200(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k importance resampling (operators.selection.
    dsir_resample): 200 documents sampled without replacement with
    probability tilted by their DSIR weight — the actual selection step of
    arXiv:2302.03169.  The Gumbel perturbation's uniform comes from the
    portable hash (reproducible across engines/runs, unlike rand());
    global top-k is TakeOrderedAndProject (per-partition heaps, no full
    sort), the same scale shape as the relational top-k family."""
    from localsql_spark.operators.selection import dsir_resample, dsir_weights

    docs = load(spark, sf_dir)["documents"]
    weighted = dsir_weights(docs, is_target=F.col("lang").eqNullSafe("en"),
                            n_buckets=1024, smoothing=1.0)
    return dsir_resample(weighted, k=200, seed=0)


@query("gopher_quality_rules", oracle=r"""
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t,
                     text AS raw
              FROM documents),
tok AS (SELECT doc_id, raw,
               list_filter(string_split(t, ' '), w -> w <> '') AS toks
        FROM norm),
m AS (SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             round(CAST(list_sum(list_transform(toks, w -> length(w)))
                        AS DOUBLE) / len(toks), 6) AS mean_word_len,
             round(CAST(len(regexp_extract_all(raw, '#|\.\.\.'))
                        AS DOUBLE) / len(toks), 6) AS symbol_ratio,
             round(CAST(len(list_filter(toks,
                                        w -> regexp_matches(w, '[a-z]')))
                        AS DOUBLE) / len(toks), 6) AS alpha_ratio,
             CAST(len(list_distinct(list_filter(toks,
                 w -> list_contains(['the','be','to','of','and','that',
                                     'have','with'], w)))) AS BIGINT)
               AS n_stopwords
      FROM tok)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_ratio,
       n_stopwords,
       n_words BETWEEN 8 AND 100000 AS rule_word_count,
       coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false)
         AS rule_mean_word_len,
       coalesce(symbol_ratio <= 0.1, false) AS rule_symbol_ratio,
       coalesce(alpha_ratio >= 0.8, false) AS rule_alpha_words,
       n_stopwords >= 2 AS rule_stopwords,
       (n_words BETWEEN 8 AND 100000)
         AND coalesce(mean_word_len BETWEEN 3.0 AND 10.0, false)
         AND coalesce(symbol_ratio <= 0.1, false)
         AND coalesce(alpha_ratio >= 0.8, false) AND n_stopwords >= 2
         AS keep
FROM m
""")
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule battery (operators.selection.gopher_quality_flags,
    arXiv:2112.11446 Appendix A): word-count bounds, mean-word-length
    bounds, symbol ratio, alphabetic-word fraction, distinct-stopword
    floor — per-doc measurements, per-rule booleans, AND-combined keep.
    Entirely row-local token-array expressions: zero shuffles, the cheap
    first gate a 100 TB pipeline runs before any pairwise work."""
    from localsql_spark.operators.selection import gopher_quality_flags

    docs = load(spark, sf_dir)["documents"]
    return gopher_quality_flags(docs)


_SHARD_H = _H32.format(x="CAST(doc_id AS VARCHAR) || '#s0'")
_ROW_H = _H32.format(x="CAST(doc_id AS VARCHAR) || '|' || md5(text)")


@query("export_training_shards", oracle=rf"""
SELECT CAST({_SHARD_H} % 16 AS INT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(len(string_split_regex(text, '\s+'))) AS BIGINT) AS n_tokens,
       CAST(sum(CAST({_ROW_H} AS DECIMAL(38,0))) AS VARCHAR) AS content_hash
FROM documents
GROUP BY 1
""")
def export_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard export (sinks.shards): documents dealt
    into 16 hash-assigned shards, written as shard_id=K/ parquet (one file
    per shard, rows in independent-hash order — the reproducible global
    shuffle a training job needs), then read BACK and manifested: per-shard
    row count, token count, order-insensitive DECIMAL content hash.  The
    oracle computes the same manifest directly from `documents`, so the
    round-trip (assign -> repartition -> sorted write -> read) is verified
    end-to-end.  One hash-key shuffle + bounded 16-row aggregation; skew is
    impossible by construction (hash-uniform assignment)."""
    import shutil
    from pathlib import Path

    from localsql_spark.sinks.shards import (read_training_shards,
                                             shard_manifest,
                                             write_training_shards)

    docs = load(spark, sf_dir)["documents"]
    scratch = (Path(__file__).resolve().parent.parent.parent / ".cache"
               / "training_shards" / Path(sf_dir.rstrip("/")).name)
    shutil.rmtree(scratch, ignore_errors=True)
    write_training_shards(docs, scratch, n_shards=16, seed=0)
    return shard_manifest(read_training_shards(spark, str(scratch)))


_TIE_H = _H32.format(x="CAST(doc_id AS VARCHAR) || '#c'")
_QUALITY_SQL = r"""
CAST((length(text) BETWEEN 50 AND 20000) AS INT)
  + CAST((CAST(len(regexp_extract_all(text, '[.,;:!?''"()\[\]{}-]')) AS DOUBLE) / NULLIF(length(text), 0) < 0.10) AS INT)
  + CAST((CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE) / NULLIF(length(text), 0) < 0.20) AS INT)
  + CAST((CAST(length(regexp_replace(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s', '', 'g')) AS DOUBLE)
          / len(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) BETWEEN 2.0 AND 12.0) AS INT)
""".strip()


@query("export_curriculum_shards", oracle=rf"""
WITH s AS (SELECT doc_id, CAST(({_QUALITY_SQL}) AS BIGINT) AS score
           FROM documents),
k AS (SELECT doc_id, score, {_TIE_H} AS tie FROM s),
r AS (SELECT doc_id, score,
             row_number() OVER (ORDER BY score, tie, doc_id) AS rn,
             count(*) OVER () AS n
      FROM k)
SELECT doc_id, score, CAST(((rn - 1) * 8) // n AS INT) AS shard_id
FROM r
""")
def export_curriculum_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-ordered shard export (sinks.shards.
    curriculum_shard_assignment / write_curriculum_shards): documents
    ranked by the composite quality score and dealt into 8 EXACT
    rank-buckets (a true ntile — sizes exact to +-1, easy shards first),
    written shard_id=K/ and read back per-doc.  The engine computes the
    global rank with a bounded two-level scheme (corpus-independent
    (score, tie-bucket) cumsum + balanced within-bucket windows — no
    corpus-sized window partition anywhere); the oracle replays it as a
    plain row_number() ntile, proving bounded two-level rank == global
    sort rank.  The curriculum-learning layout step of a training
    pipeline (easy-to-hard data ordering, public method)."""
    import shutil
    from pathlib import Path

    from localsql_spark.operators import text as T
    from localsql_spark.sinks.shards import write_curriculum_shards

    docs = load(spark, sf_dir)["documents"]
    scored = docs.select("doc_id", "text",
                         T.quality_score("text").alias("score"))
    scratch = (Path(__file__).resolve().parent.parent.parent / ".cache"
               / "curriculum_shards" / Path(sf_dir.rstrip("/")).name)
    shutil.rmtree(scratch, ignore_errors=True)
    write_curriculum_shards(scored, scratch, n_shards=8)
    back = spark.read.parquet(str(scratch))
    return back.select("doc_id", "score",
                       F.col("shard_id").cast("int").alias("shard_id"))


@query("ccnet_perplexity_buckets", oracle=r"""
WITH norm AS (SELECT doc_id,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
              FROM documents),
tok AS (SELECT doc_id,
               list_filter(string_split(t, ' '), w -> w <> '') AS toks
        FROM norm),
w AS (SELECT doc_id, word FROM tok, UNNEST(toks) u(word) WHERE word <> ''),
freq AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
tot AS (SELECT SUM(cnt) AS total FROM freq),
lp AS (SELECT word,
              CAST(round(log10(CAST(cnt AS DOUBLE) / total), 9)
                   AS DECIMAL(28,9)) AS lp
       FROM freq, tot),
scored AS (SELECT doc_id,
                  -round(CAST(SUM(lp) AS DOUBLE) / count(*), 6) AS ppl
           FROM w JOIN lp USING (word) GROUP BY doc_id),
s AS (SELECT ppl AS v,
             CAST('0x' || substr(md5('qsk:' || CAST(doc_id AS VARCHAR)), 1, 8)
               AS BIGINT) AS rk
      FROM scored WHERE ppl IS NOT NULL
      ORDER BY rk, v LIMIT 1024),
r AS (SELECT v, row_number() OVER (ORDER BY v, rk) AS rn,
             count(*) OVER () AS n
      FROM s),
qs AS (SELECT i / 3.0 AS q FROM UNNEST(range(1, 3)) t(i)),
ed AS (SELECT v AS e FROM r JOIN qs
       ON rn = CAST(floor(q * (n - 1)) AS BIGINT) + 1),
bk AS (SELECT doc_id, ppl,
              (SELECT count(*) FROM ed WHERE scored.ppl > ed.e) AS bucket
       FROM scored)
SELECT doc_id, ppl, CAST(bucket AS INT) AS bucket,
       CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                   ELSE 'tail' END AS ccnet_bucket
FROM bk
""")
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail corpus partition (operators.selection.
    perplexity_buckets, Wenzek et al. arXiv:1911.00359): every document
    scored by corpus-unigram perplexity (the cheap stand-in for CCNet's
    KenLM), tercile edges from the portable bottom-k quantile sketch, and
    a row-local bucket assignment — the quality partition CCNet publishes
    its corpus in and the knob downstream mixing turns.  The oracle
    replays the LM, the sketch sample, the edge selection, and the
    strict-greater bucket rule bit-for-bit."""
    from localsql_spark.operators.selection import perplexity_buckets

    docs = load(spark, sf_dir)["documents"]
    return (perplexity_buckets(docs)
            .withColumn("bucket", F.col("bucket").cast("int")))


@query("ccnet_perplexity_by_lang", oracle=r"""
WITH norm AS (SELECT doc_id, lang,
                     trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
              FROM documents),
tok AS (SELECT doc_id, lang,
               list_filter(string_split(t, ' '), w -> w <> '') AS toks
        FROM norm),
w AS (SELECT doc_id, lang, word FROM tok, UNNEST(toks) u(word)
      WHERE word <> ''),
freq AS (SELECT lang, word, count(*) AS cnt FROM w GROUP BY 1, 2),
tot AS (SELECT lang, SUM(cnt) AS total FROM freq GROUP BY 1),
lp AS (SELECT f.lang, f.word,
              CAST(round(log10(CAST(f.cnt AS DOUBLE) / t.total), 9)
                   AS DECIMAL(28,9)) AS lp
       FROM freq f JOIN tot t ON f.lang = t.lang),
scored AS (SELECT w.doc_id, w.lang,
                  -round(CAST(SUM(lp.lp) AS DOUBLE) / count(*), 6) AS ppl
           FROM w JOIN lp ON w.lang = lp.lang AND w.word = lp.word
           GROUP BY 1, 2),
s AS (SELECT * FROM (
        SELECT lang, ppl AS v,
               CAST('0x' || substr(md5('qsk:' || CAST(doc_id AS VARCHAR)),
                    1, 8) AS BIGINT) AS rk,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY CAST('0x' || substr(md5('qsk:'
                                    || CAST(doc_id AS VARCHAR)), 1, 8)
                                    AS BIGINT), ppl) AS srn
        FROM scored WHERE ppl IS NOT NULL) z
      WHERE srn <= 1024),
r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang
                                         ORDER BY v, rk) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM s),
qs AS (SELECT i / 3.0 AS q FROM UNNEST(range(1, 3)) t(i)),
ed AS (SELECT lang, v AS e FROM r JOIN qs
       ON rn = CAST(floor(q * (n - 1)) AS BIGINT) + 1),
bk AS (SELECT sc.doc_id, sc.lang, sc.ppl,
              (SELECT count(*) FROM ed
               WHERE ed.lang = sc.lang AND sc.ppl > ed.e) AS bucket
       FROM scored sc)
SELECT doc_id, lang, ppl, CAST(bucket AS INT) AS bucket,
       CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
                   ELSE 'tail' END AS ccnet_bucket
FROM bk
""")
def ccnet_perplexity_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet partition with PER-LANGUAGE LMs and thresholds
    (operators.selection.perplexity_buckets_by_lang) — the paper's
    actual semantics: Wenzek et al. train a model per language and cut
    percentiles per language, because a global cut lets the dominant
    language's fluency distribution classify every low-resource
    document as 'tail'.  Per-language unigram LM (one word-key shuffle,
    lang rides along), per-language tercile edges from the GROUPED
    bottom-k sketch (WindowGroupLimit-bounded), row-local assignment
    against the broadcast (lang, edges) table.  The oracle replays the
    per-language LM, the per-language sketch sample, the edge
    selection, and the strict-greater rule bit-for-bit."""
    from localsql_spark.operators.selection import perplexity_buckets_by_lang

    docs = load(spark, sf_dir)["documents"]
    return (perplexity_buckets_by_lang(docs)
            .withColumn("bucket", F.col("bucket").cast("int")))
