"""Text-analysis operators for large-scale training-data pipelines:
language-ID (stopword heuristic), quality scoring, token counting, document
fingerprinting.

These go beyond the reference (which has no text operators; its whole text
surface is SQLite string functions via localsql/localsql.py:230).  The
per-document builders (``langid``, ``quality_score``, ``word_shingles`` and
the ratios they are made of) take a column NAME and render their whole
expression as SQL text — a pure-Python string cached per argument tuple —
returned as ONE ``F.expr``: the JVM parses it in a single call, where
composing the same tree from ``pyspark.sql.functions`` calls cost one or
more round-trips per node (thousands per ``\\quality``).  They stay
JVM-side, whole-stage-codegen-able expressions, no Python in the hot path,
so they scan-scale linearly to 100 TB with zero shuffles (all row-local).
"""

from __future__ import annotations

import functools

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small, fixed, deterministic stopword sets per language.  A heuristic
# classifier, not a model: the point is distributed plumbing with an
# SQL-expressible oracle, and it is easily swapped for fastText & co.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "is", "of", "to"),
    "de": ("der", "die", "und", "nicht", "das"),
    "fr": ("le", "la", "et", "les", "une"),
    "es": ("el", "los", "que", "una", "por"),
    "zh": ("de", "le_zh", "shi", "wo", "bu"),
}
PUNCT_RE = r"[.,;:!?'\"()\[\]{}-]"
WORD_RE = r"[a-z0-9]+"


# ---------------------------------------------------------------------------
# SQL-text rendering
# ---------------------------------------------------------------------------

def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: backslash and single quote
    escaped, so regex classes such as :data:`PUNCT_RE` survive the
    parser's unescaping unchanged."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def sql_ident(name: str) -> str:
    """A column name as ONE backticked identifier (backticks doubled), so
    a flattened-JSON column such as ``nest.a`` is not read as a struct
    path."""
    return "`" + name.replace("`", "``") + "`"


def qcol(name: str) -> Column:
    """The column NAMED ``name`` (:func:`sql_ident`): the one way an
    operator refers to a user-supplied column."""
    return F.col(sql_ident(name))


_WS = sql_str(r"\s+")


def norm_sql(x: str) -> str:
    """SQL form of :func:`normalize_text` over the SQL expression ``x``."""
    return f"trim(regexp_replace(lower({x}), {_WS}, ' '))"


def sql_builder(render):
    """Turn ``render(x, *args) -> SQL text`` (``x`` an SQL expression)
    into the public builder ``f(col, *args) -> Column`` over a column
    NAME: the name is quoted once, the text is cached per argument tuple
    and parsed JVM-side as one ``F.expr``.  ``f.sql`` is the cached
    renderer, for composing one builder's text into another's."""
    cached = functools.lru_cache(maxsize=256)(render)

    @functools.wraps(render)
    def build(col: str, *args, **kwargs) -> Column:
        return F.expr(cached(sql_ident(col), *args, **kwargs))

    build.sql = cached
    return build


@sql_builder
def lang_score(x: str, lang: str) -> str:
    """Number of the language's stopwords present in the text (0..5)."""
    padded = f"concat(' ', lower({x}), ' ')"
    return "(" + " + ".join(
        f"CAST(contains({padded}, ' {w} ') AS INT)"
        for w in LANG_STOPWORDS[lang]) + ")"


@sql_builder
def langid(x: str) -> str:
    """Predicted language = argmax stopword score, ties broken by the fixed
    key order of LANG_STOPWORDS (``array_position`` finds the FIRST
    maximum); 'und' when no stopword matches or the text is NULL.  Each
    score appears three times in the text; a ``WHEN score = greatest(...)``
    branch per language repeated all five scores in every branch, four
    times the tree to analyze and evaluate."""
    scores = ", ".join(lang_score.sql(x, lang) for lang in LANG_STOPWORDS)
    langs = ", ".join(f"'{lang}'" for lang in LANG_STOPWORDS)
    return (f"coalesce(CASE WHEN greatest({scores}) > 0 THEN element_at("
            f"array({langs}), CAST(array_position(array({scores}), "
            f"greatest({scores})) AS INT)) END, 'und')")


@sql_builder
def token_count_ws(x: str) -> str:
    """Whitespace token count.  Empty/whitespace-only text is 0 tokens —
    ``split('')`` yields one empty element and would count 1 (the oracle SQL
    carries the same guard)."""
    return (f"CAST(CASE WHEN length(trim({x})) = 0 THEN 0 "
            f"ELSE size(split(trim({x}), {_WS})) END AS BIGINT)")


def token_count_words(text: Column) -> Column:
    """BPE-ish lower-alnum token count (regex word runs)."""
    return F.regexp_count(F.lower(text), F.lit(WORD_RE)).cast("long")


def _ratio_sql(x: str, pattern: str) -> str:
    # nullif guard: '' has length 0 and ANSI mode raises on x/0
    return (f"(CAST(regexp_count({x}, {sql_str(pattern)}) AS DOUBLE)"
            f" / nullif(length({x}), 0))")


@sql_builder
def punct_ratio(x: str) -> str:
    return _ratio_sql(x, PUNCT_RE)


@sql_builder
def digit_ratio(x: str) -> str:
    return _ratio_sql(x, "[0-9]")


def _lower_tokens_sql(x: str) -> str:
    return f"split(lower(trim({x})), {_WS})"


@sql_builder
def stopword_ratio(x: str, lang: str = "en") -> str:
    """Fraction of whitespace tokens that are the language's stopwords."""
    stops = "array(" + ", ".join(map(sql_str, LANG_STOPWORDS[lang])) + ")"
    return (f"(CAST(size(filter({_lower_tokens_sql(x)}, "
            f"t -> array_contains({stops}, t))) AS DOUBLE)"
            f" / nullif({token_count_ws.sql(x)}, 0))")


@sql_builder
def avg_word_len(x: str) -> str:
    toks = _lower_tokens_sql(x)
    return (f"(CAST(aggregate({toks}, 0, (acc, t) -> acc + length(t))"
            f" AS DOUBLE) / size({toks}))")


@sql_builder
def quality_score(x: str) -> str:
    """Composite 0..4 quality heuristic (each signal contributes one point):
    reasonable length, low punctuation, low digits, sane avg word length.
    Empty/NULL text scores 0 — the nullif-guarded ratios are NULL there
    and an unguarded sum propagated NULL, so the worst-quality input
    slipped BOTH a `score < n` bad-filter and its complement
    (the oracles carry the same COALESCE)."""
    awl = avg_word_len.sql(x)
    return (
        f"coalesce(CAST("
        f"CAST((length({x}) >= 50 AND length({x}) <= 20000) AS INT)"
        f" + CAST(({punct_ratio.sql(x)} < 0.1D) AS INT)"
        f" + CAST(({digit_ratio.sql(x)} < 0.2D) AS INT)"
        f" + CAST(({awl} >= 2.0D AND {awl} <= 12.0D) AS INT)"
        f" AS BIGINT), CAST(0 AS BIGINT))")


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace
    (:func:`norm_sql` is the same expression as SQL text)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))


def fingerprint_h32(text: Column) -> Column:
    """32-bit numeric fingerprint (first 8 md5 hex digits as bigint) — the
    portable-hash idiom shared with the DuckDB oracle
    (Spark conv(hex,16,10) == DuckDB CAST('0x'||hex AS BIGINT))."""
    from localsql_spark.operators import hash32

    return hash32(normalize_text(text))


@sql_builder
def word_shingles(x: str, k: int = 3) -> str:
    """Distinct k-word shingles of the normalized text (array<string>).
    Row-local (no shuffle); the building block for MinHash/Jaccard dedup.

    Built by zipping k offset SLICES of the token array (identical
    output strings to the index form) — element_at(toks, i+j+1) inside a
    transform lambda re-evaluates the whole normalize+split pipeline per
    shingle per offset (no CSE across lambda boundaries; the same
    pattern measured 12x slower in dup_ngram_fraction), O(words x len)
    per document instead of O(k) token-array evaluations."""
    toks = f"split({norm_sql(x)}, ' ')"
    m = f"greatest(size({toks}) - {k} + 1, 0)"
    shingles = f"slice({toks}, 1, {m})"
    for j in range(1, k):
        shingles = (f"zip_with({shingles}, slice({toks}, {j + 1}, {m}), "
                    f"(a, b) -> concat_ws(' ', a, b))")
    return (f"CASE WHEN size({toks}) >= {k} THEN array_distinct({shingles})"
            f" ELSE array({norm_sql(x)}) END")


def bm25_scores(docs, terms: list[str], *, k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id"):
    """BM25 relevance of every document against a bag of query ``terms`` via
    an inverted index: explode tokens -> per-(doc,term) tf -> per-term df ->
    idf * saturated-tf. One explode + two fixed-fan-in aggregates + a
    broadcast of the tiny (term, df) table; never a cross product.

    Determinism: tf/df/doclen are exact integers; idf and the final score
    are single double expressions rounded to 9 (portable across engines).
    Returns (doc_id, score) for docs matching at least one term.
    """
    from pyspark.sql import functions as F

    from localsql_spark.operators import spread

    from localsql_spark.operators import track_persist

    toks = (spread(docs)
            .select(F.col(id_col).alias("doc_id"),
                    F.explode(F.split(normalize_text(F.col(text_col)), " "))
                    .alias("term")))
    # doclen is referenced twice (corpus stats + the per-doc join) and is
    # tiny (one row per doc) — persist it so the tokenize pipeline runs once
    # per consumer chain instead of once per reference
    doclen = track_persist(
        toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")))
    # avgdl per the determinism policy: exact integer sum, ONE double
    # division — F.avg over doubles is partial-aggregation-order dependent
    # and diverged from the oracle in the low bits at sf0.1
    stats = doclen.agg(F.count(F.lit(1)).alias("n_docs"),
                       (F.sum("dl").cast("double")
                        / F.count(F.lit(1))).alias("avgdl"))
    tf = (toks.filter(F.col("term").isin(terms))
          .groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf")))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs, avgdl = F.col("n_docs").cast("double"), F.col("avgdl")
    idf = F.log((n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0)
    contrib = (idf * F.col("tf") * (k1 + 1)
               / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl)))
    # the per-doc sum runs over a handful of term contributions, but a
    # double sum is still addition-order dependent — decimal-route it, and
    # apply the final round IN DECIMAL: rounding the exact decimal sum
    # through a double hits half-boundary cases where the two engines'
    # double representations fall on opposite sides of the .5
    return (tf.join(F.broadcast(df_), "term")
            .join(doclen, "doc_id")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(F.round(contrib, 12).cast("decimal(28,12)")),
                         9).cast("double").alias("score")))


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# Patterns are deliberately RE2-compatible (character classes + bounded
# repetition, no lookaround) so the same literal pattern string runs in both
# Spark (java.util.regex) and the DuckDB oracle (RE2).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII pattern (row-local, codegen-able)."""
    return F.size(F.regexp_extract_all(text, F.lit(PII_PATTERNS[kind]), F.lit(0)))


def pii_redact(text: Column) -> Column:
    """Replace every PII occurrence with a <KIND> placeholder.  Order is
    fixed (email, phone, ipv4) so overlapping matches resolve identically
    everywhere; each pass is a row-local regexp_replace — zero shuffle,
    linear scan at any scale."""
    out = text
    for kind, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{kind.upper()}>")
    return out


# ---------------------------------------------------------------------------
# Repetition / duplication quality signals (Gopher-style)
# ---------------------------------------------------------------------------

def _words(text: Column) -> Column:
    return F.split(F.trim(F.regexp_replace(F.lower(text), r"\s+", " ")), " ")


def distinct_word_ratio(text: Column) -> Column:
    """|distinct words| / |words| — low values flag boilerplate/spam.
    Single double division of two exact ints: bit-deterministic."""
    w = _words(text)
    return F.size(F.array_distinct(w)).cast("double") / F.size(w)


def top_word_fraction(text: Column) -> Column:
    """Fraction of the document occupied by its single most frequent word
    (Gopher repetition rule).  Computed ROW-LOCALLY with a lambda fold over
    the distinct words — O(distinct×n) per row but zero shuffle, which at
    100 TB beats the explode + two-shuffle groupBy formulation for the
    bounded document lengths of a crawl corpus."""
    w = _words(text)
    top = F.array_max(F.transform(
        F.array_distinct(w),
        lambda d: F.size(F.filter(w, lambda x: x == d))))
    return top.cast("double") / F.size(w)


def dup_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Fraction of the document's n-grams that are repeats of an n-gram
    already present elsewhere in the SAME document: 1 - distinct/total.
    Row-local (shingle array built per row, no shuffle)."""
    import functools

    w = _words(text)
    # Shingles come from zip_with over n shifted slices, NOT from an indexed
    # transform(sequence, i -> element_at(w, i+j)): expressions inside a
    # lambda are re-evaluated per element (codegen subexpression elimination
    # does not cross LambdaFunction boundaries), so the element_at form
    # re-ran the whole normalize+split pipeline O(words) times per row —
    # measured 12x slower at sf0.1.  Slices reference w from the OUTER scope
    # (CSE applies) and the lambdas below touch only lambda variables.
    n_grams = F.size(w) - F.lit(n - 1)
    shifted = [F.slice(w, j + 1, n_grams) for j in range(n)]
    grams = functools.reduce(
        lambda acc, s: F.zip_with(acc, s,
                                  lambda a, b: F.concat_ws(" ", a, b)),
        shifted[1:], shifted[0])
    # slice length goes negative when the doc has < n words — gate it
    grams = (F.when(F.size(w) >= n, grams)
             .otherwise(F.array().cast("array<string>")))
    total = F.size(grams)
    return (F.when(total > 0,
                   (total - F.size(F.array_distinct(grams))).cast("double")
                   / total)
            .otherwise(F.lit(0.0)))


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD 2003)
# ---------------------------------------------------------------------------

def _gram_hashes(docs, k: int, doc_id_col: str, text_col: str):
    """(doc_id, ng, i, h): the winnowing k-gram hash stream, with the
    NORMALIZED text materialized behind a persist barrier — referencing
    the normalize pipeline inside the per-gram transform lambda re-runs
    it once per gram (no CSE across lambda boundaries, and a plain
    projection would be re-inlined by CollapseProject — the same
    O(len^2)-per-document trap _token_table documents as a measured
    114s -> 2s cliff)."""
    from pyspark.sql import functions as F

    from localsql_spark.operators import hash32, spread, track_persist

    base = track_persist(
        spread(docs).select(doc_id_col,
                            normalize_text(F.col(text_col)).alias("_t"))
        .filter(F.length("_t") - k + 1 >= 1))
    ng = F.length("_t") - k + 1
    return (base
            .select(doc_id_col, ng.alias("ng"),
                    F.posexplode(
                        F.transform(F.sequence(F.lit(1), ng),
                                    lambda i: hash32(
                                        F.substring(F.col("_t"), i, k))))
                    .alias("i", "h")))


def winnowing_fingerprints(docs, k: int = 8, w: int = 4,
                           doc_id_col: str = "doc_id",
                           text_col: str = "text"):
    """Winnowing fingerprint selection (Schleimer et al., "Winnowing:
    Local Algorithms for Document Fingerprinting", SIGMOD 2003 — public
    algorithm, the MOSS core): hash every character ``k``-gram of the
    normalized text, slide a ``w``-gram window, keep each window's
    minimum hash — any shared substring of length >= w + k - 1 between
    two documents is GUARANTEED to share a selected fingerprint, at
    ~2/(w+1) the density of keeping every gram.  Ties take the leftmost
    minimum (deterministic; the paper's rightmost-rule density
    optimization is an implementation choice, not part of the guarantee).

    Relational formulation, deliberately NOT a nested array fold: grams
    explode to (doc, i, h) rows — each k-gram hashed exactly once — and
    the per-window minimum is one sliding-frame ``min(struct(h, i))``
    window function (``ROWS BETWEEN CURRENT ROW AND w-1 FOLLOWING``
    ordered by position), which runs in the JVM's codegen'd Window
    operator.  The first cut used ``transform(windows, ws ->
    array_min(slice(grams, ws, w)))``; Catalyst's interpreted
    higher-order path re-evaluates the lambda-INVARIANT gram array per
    window (no cross-iteration subexpression cache), turning O(ng*w)
    into O(ng^2) md5 folds — measured 300+ core-seconds for 500 docs vs
    ~2s relational.  One doc-key shuffle total (the window's partition;
    the final per-doc aggregate reuses the same partitioning).

    Output one row per doc with >= 1 gram: ``(doc_id, n_grams, n_fps,
    fp_checksum)`` where fp_checksum is the order-insensitive DECIMAL
    sum of the distinct selected (hash, position) pairs — the
    content-verification form the shard manifest uses, so the oracle
    checks the exact selected set, not just its size.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from localsql_spark.operators import hash32, spread

    wmin = (Window.partitionBy(doc_id_col).orderBy("i")
            .rowsBetween(Window.currentRow, w - 1))
    gh = _gram_hashes(docs, k, doc_id_col, text_col)
    sel = (gh.withColumn(
        "fp", F.min(F.struct(F.col("h"), F.col("i"))).over(wmin))
        .filter(F.col("i") <= F.greatest(F.col("ng") - w, F.lit(0)))
        .select(doc_id_col, "ng", F.col("fp.h").alias("h"),
                F.col("fp.i").alias("i"))
        .distinct())
    # 2^40 position stride keeps the (hash, position) encoding injective
    # for any document under 2^40 grams (h*100000+i would alias (h, i)
    # with (h+1, i-100000) once a doc exceeds 1e5 grams), well inside
    # DECIMAL(38,0) for 32-bit hashes
    enc = (F.col("h").cast("decimal(38,0)") * F.lit(1099511627776)
           + F.col("i"))
    return (sel.groupBy(doc_id_col)
            .agg(F.max("ng").cast("bigint").alias("n_grams"),
                 F.count(F.lit(1)).cast("bigint").alias("n_fps"),
                 F.sum(enc.cast("decimal(38,0)"))
                 .cast("decimal(38,0)").cast("string").alias("fp_checksum")))


def winnowing_shared_pairs(docs, k: int = 8, w: int = 4,
                           min_shared: int = 2, posting_cap: int = 50,
                           doc_id_col: str = "doc_id",
                           text_col: str = "text"):
    """Candidate copy pairs by shared winnowing fingerprints (the MOSS
    match step): invert the selected fingerprints (hash value -> posting
    list of documents), join postings pairwise, and keep pairs sharing
    >= ``min_shared`` distinct fingerprint VALUES — local similarity
    document-level MinHash misses (a lifted paragraph inside an
    otherwise-unrelated document still shares its fingerprints).

    Skew guard: a fingerprint appearing in more than ``posting_cap``
    documents is boilerplate (license headers, templates) — its posting
    list would contribute O(cap^2) pairs of near-zero signal, so it is
    dropped BEFORE the pair join, the same frequent-bucket discipline as
    the LSH bucket_cap.  With the cap, pair-join cost is bounded by
    sum(posting^2 <= cap * posting) — linear in postings.

    Output: (doc_a, doc_b, n_shared) with doc_a < doc_b.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from localsql_spark.operators import hash32, spread

    wmin = (Window.partitionBy(doc_id_col).orderBy("i")
            .rowsBetween(Window.currentRow, w - 1))
    gh = _gram_hashes(docs, k, doc_id_col, text_col)
    # distinct fingerprint VALUES per doc (positions irrelevant to
    # sharing); persisted — the posting-count aggregate and BOTH pair-join
    # sides read it, and without the cut Catalyst re-expands the whole
    # gram-hash + window subtree into each of the three consumers
    from localsql_spark.operators import track_persist
    fp = track_persist(
        gh.withColumn(
            "fp", F.min(F.struct(F.col("h"), F.col("i"))).over(wmin))
        .filter(F.col("i") <= F.greatest(F.col("ng") - w, F.lit(0)))
        .select(doc_id_col, F.col("fp.h").alias("h"))
        .distinct())
    posting_n = fp.groupBy("h").agg(F.count(F.lit(1)).alias("pn"))
    kept = (fp.join(posting_n.filter(F.col("pn") <= posting_cap)
                    .select("h"), "h"))
    a = kept.select(F.col("h"), F.col(doc_id_col).alias("doc_a"))
    b = kept.select(F.col("h"), F.col(doc_id_col).alias("doc_b"))
    return (a.join(b, "h")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .filter(F.col("n_shared") >= min_shared))


def bm25_topk(docs, terms: list[str], k: int = 10, k1: float = 1.2,
              b: float = 0.75, doc_id_col: str = "doc_id",
              text_col: str = "text"):
    """BM25 ranked RETRIEVAL: the top-``k`` documents for a bag-of-terms
    query — :func:`bm25_scores` (which carries the scoring + determinism
    discipline) followed by an ORDER BY + LIMIT top-k, which Spark
    executes as TakeOrderedAndProject: each partition keeps its local
    top-k and only k rows per partition reach the driver-side merge,
    never a global sort materialization.  The retrieval primitive for
    targeted corpus mining and hard-negative construction next to the
    embedding kNN family.  Returns (doc_id, score, rk); ties break on
    doc_id."""
    from pyspark.sql.window import Window

    scored = bm25_scores(docs, terms, k1=k1, b=b, text_col=text_col,
                         id_col=doc_id_col)
    top = scored.orderBy(F.col("score").desc(), F.col("doc_id")).limit(k)
    # the rank window runs on the already-limited k rows only
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
    return top.withColumn("rk", F.row_number().over(w))
