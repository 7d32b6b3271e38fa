"""Text-analysis operators (SURVEY.md §2.10) — the LLM-data-pipeline
additions over the ``documents`` table: tokenization, stopwords, term
frequencies, TF-IDF, n-grams, per-language corpus profiling, heuristic
language ID, and quality gates.

Everything is built-in array/string expressions (whole-stage codegen,
no Python) — at 100 TB the tokenizer is a per-row map with zero
shuffle, and the corpus-level statistics are single hash aggregates.
The TF-IDF is deliberately the SQL-expressible explode+join formulation
(not MLlib's HashingTF) so the oracle can verify weights exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.parity import (
    LN_ELN2,
    LN_P2,
    LN_S,
    LN_X,
    davg,
    dsum,
    sql_davg,
    sql_dsum,
    sql_ln_final,
    sql_ln_ladders,
    sql_ln_s,
    sql_log2_from_ln,
)
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table, spread

#: The two stopwords present in the fixtures' 31-token vocabulary.
STOPWORDS = ("the", "a")

#: Deterministic-ln ladder for idf ratios (N+1)/(df+1) in [1, 2^51):
#: the shared SQL fragments both text_tfidf and text_keywords stage on
#: the vocab-sized df table (parity.sql_ln_ladders docstring).
_IDF_P2, _IDF_ELN2 = sql_ln_ladders(lo_e=0, hi_e=50)

#: Probability-domain ladder (x in (0, 1], i.e. count ratios k/n): the
#: entropy / perplexity family's r7 libm retirement stages these on
#: their count tables.  lo_e=-62 covers p >= 2^-62 — any realizable
#: per-group count ratio (a group would need > 4.6e18 rows to go
#: below it, past BIGINT count range).
_P_P2, _P_ELN2 = sql_ln_ladders(lo_e=-62, hi_e=0)

#: Deterministic log2 of the staged ln, shared by the Spark builders
#: and oracle SQL below (textually identical on both sides).
_P_LOG2 = sql_log2_from_ln(sql_ln_final())

#: Full-domain ladder for PMI ratios N·c_ab/(c_a·c_b), which span both
#: sides of 1 (positive and negative association).
_PMI_P2, _PMI_ELN2 = sql_ln_ladders()


def _idf_table(df_counts: DataFrame, n_docs: int) -> DataFrame:
    """Stage the deterministic smoothed idf = ln((N+1)/(df+1)) + 1 onto
    the vocab-sized df table (columns token, df -> token, df,
    idf_smooth).  Every step is a correctly-rounded IEEE op over
    literals shared textually with the oracle CTEs, so both engines
    produce identical idf bits (tests/test_ieee_ln.py)."""
    return (
        df_counts.withColumn(
            LN_X,
            F.expr(f"CAST({n_docs} + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)"),
        )
        .withColumn(LN_P2, F.expr(_IDF_P2))
        .withColumn(LN_ELN2, F.expr(_IDF_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
        .select(
            "token",
            "df",
            F.expr(f"({sql_ln_final()} + 1.0e0)").alias("idf_smooth"),
        )
    )


def _tokens(df: DataFrame) -> DataFrame:
    return df.withColumn("toks", F.split(F.col("text"), " "))


def _tf_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, token) term frequencies, materialized once per
    (session, sf_dir) — the shared ETL artifact behind `text_wordcount`
    and `text_tfidf` (same memo pattern as the shingle/pair tables: at
    100 TB this is a written parquet table, and every corpus statistic
    is a cheap aggregate over it instead of a fresh explode over the
    raw text)."""
    from shared_solar_data_warehouse_spark.materialize import memo_checkpoint

    def build() -> DataFrame:
        d = _tokens(load_table(spark, sf_dir, "documents"))
        toks = d.select("doc_id", F.explode("toks").alias("token"))
        return toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))

    return memo_checkpoint(spark, sf_dir, "text_tf", build)


@op(
    "text_tokenize",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER)
               AS n_unique_tokens,
           CAST(length(text) AS INTEGER) AS text_len,
           length(text) = n_chars AS len_consistent
    FROM documents
    """,
)
def text_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + per-doc token stats (and the
    n_chars==length(text) fixture consistency check)."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique_tokens"),
        F.length("text").alias("text_len"),
        (F.length("text").cast("long") == F.col("n_chars")).alias("len_consistent"),
    )


@op(
    "text_stopwords",
    oracle="""
    SELECT doc_id,
           array_to_string(list_filter(string_split(text, ' '),
                                       t -> t != 'the' AND t != 'a'),
                           ' ') AS content_text,
           CAST(len(string_split(text, ' '))
                - len(list_filter(string_split(text, ' '),
                                  t -> t != 'the' AND t != 'a'))
                AS INTEGER) AS n_stopwords
    FROM documents
    """,
)
def text_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword removal preserving multiset order (array_except would
    also dedup — filter() keeps duplicates and ordering).  The filtered
    tokens are re-joined to a space-separated string: the driver
    canonicalizer crashed on the raw array column in round 2
    (pandas sort_values over ndarray cells — VERDICT r02 class 2), and
    a string round-trip carries the identical information."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    content = F.filter("toks", lambda t: ~t.isin(*STOPWORDS))
    return d.select(
        "doc_id",
        F.array_join(content, " ").alias("content_text"),
        (F.size("toks") - F.size(content)).alias("n_stopwords"),
    )


@op(
    "text_wordcount",
    oracle="""
    SELECT t.token, count(*) AS freq,
           count(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          FROM documents) t
    GROUP BY t.token
    """,
)
def text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term frequencies (the classic), derived from the shared
    (doc, token, tf) artifact: freq = sum(tf), and doc_freq = count(*)
    because tf holds exactly one row per (doc, token) — no
    countDistinct expansion and no second explode over the corpus."""
    tf = _tf_table(spark, sf_dir)
    return tf.groupBy("token").agg(
        F.sum("tf").alias("freq"),
        F.count(F.lit(1)).alias("doc_freq"),
    )


@op(
    "text_tfidf",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tf_counts AS (
        SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
    ), df_counts AS (
        SELECT token, count(DISTINCT doc_id) AS df FROM tf GROUP BY token
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    idf0 AS (
        SELECT token, df,
               CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)
                   AS {LN_X}
        FROM df_counts CROSS JOIN n
    ), idf1 AS (
        SELECT token, df, {LN_X},
               {_IDF_P2} AS {LN_P2}, {_IDF_ELN2} AS {LN_ELN2}
        FROM idf0
    ), idf2 AS (
        SELECT token, df, {LN_ELN2}, {sql_ln_s()} AS {LN_S} FROM idf1
    ), idf AS (
        SELECT token, df, ({sql_ln_final()} + 1.0e0) AS idf_smooth
        FROM idf2
    )
    SELECT tc.doc_id, tc.token, tc.tf, i.df,
           CAST(floor(CAST(tc.tf AS DOUBLE) * i.idf_smooth * 1.0e4 + 5.0e-1)
                AS BIGINT) AS tfidf_q4
    FROM tf_counts tc JOIN idf i ON tc.token = i.token
    """,
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term), smoothed idf = ln((N+1)/(df+1)) + 1,
    emitted as exact BIGINT 1e-4 units (tfidf_q4).

    The tf table materializes ONCE (memo_checkpoint — the same
    ETL-artifact pattern as the shingle/pair tables: at 100 TB the
    term-frequency table is a written parquet artifact, not a recompute
    per query).  df derives FROM tf — tf has exactly one row per
    (doc, token), so ``count(*)`` per token equals the distinct-doc
    count — which removes the second full explode pass over the corpus
    AND the countDistinct expansion the previous formulation paid
    (~2× the corpus scan at every scale).  The df table is tiny
    (≤ vocabulary size) — broadcast joined.

    Float discipline (r6, retired from the ``libm-quantized`` class):
    ln is the shared deterministic staged formula from
    ``parity.sql_ln_*`` — a power-of-two CASE ladder + atanh
    polynomial of correctly-rounded IEEE ops only, evaluated on the
    VOCAB-sized df table (never per corpus row), bit-identical across
    engines by construction (tests/test_ieee_ln.py) and within 1e-12
    of libm ln; the graded score is then one exact integer
    quantization — no IEEE double reaches the output at all."""
    tf = _tf_table(spark, sf_dir)
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # scalar, driver-side by design: one number
    n_docs = load_table(spark, sf_dir, "documents").count()
    idf = _idf_table(df_counts, n_docs)
    return (
        tf.join(F.broadcast(idf), "token")
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            F.expr(
                "CAST(floor(CAST(tf AS DOUBLE) * idf_smooth * 1.0e4"
                " + 5.0e-1) AS BIGINT)"
            ).alias("tfidf_q4"),
        )
    )


@op(
    "text_ngrams",
    oracle="""
    SELECT bigram, count(*) AS freq
    FROM (
        SELECT unnest(list_transform(
            generate_series(1, len(toks) - 1),
            i -> concat(toks[i], ' ', toks[i + 1]))) AS bigram
        FROM (SELECT string_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 2
    )
    GROUP BY bigram
    """,
)
def text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word bigram frequencies via index-sequence transform (1-based
    element_at on both engines — Spark's arr[i] bracket indexing is
    0-based and is avoided)."""
    d = _tokens(load_table(spark, sf_dir, "documents")).filter(F.size("toks") >= 2)
    bigrams = d.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
            )
        ).alias("bigram")
    )
    return bigrams.groupBy("bigram").agg(F.count(F.lit(1)).alias("freq"))


@op(
    "text_lang_stats",
    oracle=f"""
    SELECT lang, source,
           count(*) AS n_docs,
           {sql_davg('CAST(n_chars AS DOUBLE)')} AS avg_chars,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(language, source) corpus profile — the data-card op."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        davg(F.col("n_chars").cast("double")).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@op(
    "text_quality_filter",
    oracle="""
    SELECT doc_id, n_tokens, dup_ratio, passed
    FROM (
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE), 4) AS dup_ratio,
               len(toks) BETWEEN 10 AND 200
                   AND (1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                            / CAST(len(toks) AS DOUBLE)) <= 0.8
                   AND length(text) = n_chars AS passed
        FROM (SELECT doc_id, text, n_chars,
                     string_split(text, ' ') AS toks FROM documents)
    )
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality gates: token-count bounds, duplicate-token
    ratio, metadata consistency — emits the score columns plus the
    verdict (the 100 TB pattern: score once, filter many times)."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    n_toks = F.size("toks")
    dup_ratio = 1.0 - F.size(F.array_distinct("toks")).cast("double") / n_toks.cast(
        "double"
    )
    passed = (
        n_toks.between(10, 200)
        & (dup_ratio <= 0.8)
        & (F.length("text").cast("long") == F.col("n_chars"))
    )
    return d.select(
        "doc_id",
        n_toks.alias("n_tokens"),
        F.round(dup_ratio, 4).alias("dup_ratio"),
        passed.alias("passed"),
    )


@op(
    "text_lang_id",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), profile AS (
        SELECT lang, token FROM (
            SELECT lang, token, count(*) AS freq,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, token) AS rn
            FROM tok GROUP BY lang, token
        ) WHERE rn <= 5
    ), doc_tokens AS (
        SELECT DISTINCT doc_id, token FROM tok
    ), scores AS (
        SELECT dt.doc_id, p.lang AS cand_lang, count(*) AS score
        FROM doc_tokens dt JOIN profile p ON dt.token = p.token
        GROUP BY dt.doc_id, p.lang
    ), best AS (
        SELECT doc_id, cand_lang, score,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand_lang) AS rn
        FROM scores
    )
    SELECT d.doc_id, d.lang,
           b.cand_lang AS predicted_lang,
           CAST(coalesce(b.score, 0) AS BIGINT) AS profile_hits,
           b.cand_lang IS NOT DISTINCT FROM d.lang AS is_correct
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: score each doc against per-language
    top-5-token profiles learned from the corpus itself; predict the
    argmax (integer scores + alphabetical tie-break keep it exactly
    reproducible — log-prob scoring would put near-ties at the mercy
    of float rounding)."""
    d = load_table(spark, sf_dir, "documents")
    tok = _tokens(d).select("doc_id", "lang", F.explode("toks").alias("token"))
    by_lang = tok.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("freq"))
    w = Window.partitionBy("lang").orderBy(F.col("freq").desc(), F.col("token"))
    profile = (
        by_lang.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    doc_tokens = tok.select("doc_id", "token").distinct()
    scores = doc_tokens.join(F.broadcast(profile), "token").groupBy(
        "doc_id", "cand_lang"
    ).agg(F.count(F.lit(1)).alias("score"))
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand_lang")
    )
    best = scores.withColumn("rn", F.row_number().over(w_best)).filter(
        F.col("rn") == 1
    )
    return d.join(best, "doc_id", "left").select(
        "doc_id",
        "lang",
        F.col("cand_lang").alias("predicted_lang"),
        F.coalesce(F.col("score"), F.lit(0)).cast("long").alias("profile_hits"),
        F.col("cand_lang").eqNullSafe(F.col("lang")).alias("is_correct"),
    )


@op(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
               string_split(text, ' '))), ' ')) AS sorted_vocab_md5,
           md5(array_to_string(list_filter(string_split(text, ' '),
               t -> t != 'the' AND t != 'a'), ' ')) AS content_md5
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: canonical-form digests (sorted unique
    vocabulary, stopword-stripped content) — the cheap first pass
    before any pairwise near-dup work."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.md5(
            F.array_join(F.array_sort(F.array_distinct("toks")), " ")
        ).alias("sorted_vocab_md5"),
        F.md5(
            F.array_join(F.filter("toks", lambda t: ~t.isin(*STOPWORDS)), " ")
        ).alias("content_md5"),
    )


@op(
    "text_token_count",
    oracle=r"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_ws_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_uniq_tokens,
           len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_re_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways per doc: whitespace split and a BPE-ish
    regex pass (word runs + individual non-word symbols — the
    pre-tokenizer shape BPE vocabularies train over), plus distinct
    token and char counts.  All JVM regex/array built-ins; at 100 TB
    this is a pure map stage with no shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_ws_tokens"),
        F.size(F.array_distinct(F.split("text", " ")))
        .cast("long")
        .alias("n_uniq_tokens"),
        F.size(F.expr(r"regexp_extract_all(text, '\\w+|[^\\w\\s]', 0)"))
        .cast("long")
        .alias("n_re_tokens"),
        F.length("text").cast("long").alias("n_chars"),
    )


#: Redaction patterns for the PII-scrub demo, applied in order.  The
#: fixture corpus contains no digits or @-tokens, so the denylist tier
#: (the corpus stopwords, standing in for a sensitive-term list) is the
#: one that actually rewrites rows; the digit/email tiers prove the
#: pattern plumbing on any real corpus.  Both engines use RE2-safe
#: syntax (\b word boundaries, character classes — no lookaround).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
_PII_NUM = r"[0-9]+"
_PII_DENY = r"\b(?:the|a)\b"


@op(
    "text_pii_scrub",
    oracle=rf"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                     '{_PII_NUM}', '<NUM>', 'g'),
                     '{_PII_DENY}', '<TERM>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_PII_DENY}')) AS INTEGER)
               AS n_redacted,
           len(regexp_extract_all(text, '{_PII_DENY}')) > 0 AS was_scrubbed
    FROM documents
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII / sensitive-term redaction — the compliance pass every
    training corpus runs before tokenization: emails, digit runs, and a
    denylist vocabulary each collapse to a typed placeholder, with a
    per-doc redaction count for audit sampling.  Pure regexp_replace
    chain: a zero-shuffle map stage at 100 TB (DuckDB needs the 'g'
    flag; Spark's regexp_replace is always global)."""
    d = load_table(spark, sf_dir, "documents")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
            _PII_NUM,
            "<NUM>",
        ),
        _PII_DENY,
        "<TERM>",
    )
    # Spark's SQL parser eats single backslashes in string literals
    # ('\b' -> backspace), so the pattern is double-escaped here; the
    # Python-API regexp_replace above takes the pattern verbatim.
    sql_deny = _PII_DENY.replace("\\", "\\\\")
    n_deny = F.size(F.expr(f"regexp_extract_all(text, '{sql_deny}', 0)"))
    return d.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        n_deny.cast("int").alias("n_redacted"),
        (n_deny > 0).alias("was_scrubbed"),
    )


@op(
    "text_char_entropy",
    oracle=f"""
    WITH chars AS (
        SELECT doc_id, length(text) AS n,
               unnest(string_split(text, '')) AS ch
        FROM documents
        WHERE length(text) > 0
    ), counts AS (
        SELECT doc_id, n, ch, count(*) AS k
        FROM chars GROUP BY doc_id, n, ch
    ), s0 AS (
        SELECT doc_id, k, n, k / n AS {LN_X} FROM counts
    ), s1 AS (
        SELECT *, {_P_P2} AS {LN_P2}, {_P_ELN2} AS {LN_ELN2} FROM s0
    ), s2 AS (
        SELECT doc_id, k, n, {LN_ELN2}, {sql_ln_s()} AS {LN_S} FROM s1
    ), terms AS (
        SELECT doc_id,
               CAST(floor((k / n) * {_P_LOG2} * 1.0e12 + 5.0e-1) AS BIGINT)
                   AS q
        FROM s2
    )
    SELECT doc_id,
           floor(CAST(-CAST(sum(q) AS BIGINT) AS DOUBLE) / 1.0e6 + 5.0e-1)
               / 1.0e6 AS entropy_bits
    FROM terms GROUP BY doc_id
    """,
)
def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document — the classic
    gibberish/boilerplate detector in pretraining quality pipelines
    (low entropy = repeated chars/padding, high = random noise).

    Parity (r7, retired from the ``libm-quantized`` class): log2 is
    the staged deterministic ladder from ``parity.sql_ln_*`` divided
    by the ln2 literal — correctly-rounded IEEE ops only, bit-equal
    across Spark/DuckDB/Python by construction (tests/test_ieee_ln.py)
    — so each p*log2(p) term is IDENTICAL bits on both engines before
    it quantizes to integer 1e-12 units, and the per-doc sum is exact
    BIGINT math; the display value is one floor-based 1e-6 grid snap
    (parity.dround's formula — immune to the round() half-even vs
    half-up engine split).  Both engines' `/` on BIGINTs is float
    division, and split('')/string_split('') agree on multibyte chars
    (verified).

    Plan: explode chars -> two-level groupBy (doc,char) then (doc) —
    both shuffles key on doc_id so AQE coalesces them; map-side partial
    aggregation absorbs the 1-row-per-char blowup before the exchange;
    the ~63-rung CASE ladder is whole-stage-codegen'd per (doc,char)
    row, NOT per char.  At 100 TB you'd replace the explode with a
    per-document Pandas UDF computing the histogram in one pass (numpy
    bincount over codepoints) to avoid materializing n_chars rows —
    the explode form is the oracle-checkable reference semantics.

    r11 attempt, measured and REVERTED: computing the per-(doc,char)
    counts as run lengths of the row-locally array_sort'ed char array
    (boundary filter over sequence + transform diffs — explode only
    the ~alphabet-sized run list) was bit-identical (oracle PASS ×2
    SF) but 2x SLOWER at sf0.1 (min-of-3 2.71 s vs 1.28 s): the
    nested higher-order lambdas evaluate interpreted per element,
    losing to the whole-stage-codegen explode + partially-aggregated
    hash count it replaced.
    """
    # r11 session 3: io.spread on the one-row-group scan measured
    # SLOWER here (interleaved A/B min-of-5: 0.95 plain vs 1.28 spread)
    # — the single-char split explodes cheap narrow rows and the
    # (doc,n,ch) partial aggregate collapses them before the exchange,
    # so the extra round-robin exchange of (doc_id, text) never pays.
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length("text") > 0)
        .select(
            "doc_id",
            F.length("text").alias("n"),
            F.explode(F.split("text", "")).alias("ch"),
        )
    )
    counts = d.groupBy("doc_id", "n", "ch").agg(F.count(F.lit(1)).alias("k"))
    staged = (
        counts.withColumn(LN_X, F.expr("k / n"))
        .withColumn(LN_P2, F.expr(_P_P2))
        .withColumn(LN_ELN2, F.expr(_P_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
    )
    q = F.expr(
        f"CAST(floor((k / n) * {_P_LOG2} * 1.0e12 + 5.0e-1) AS BIGINT)"
    )
    return (
        staged.select("doc_id", q.alias("q"))
        .groupBy("doc_id")
        .agg(
            F.expr(
                "floor(CAST(-CAST(sum(q) AS BIGINT) AS DOUBLE) / 1.0e6"
                " + 5.0e-1) / 1.0e6"
            ).alias("entropy_bits")
        )
    )


@op(
    "text_dedup_normalized",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS norm_hash
        FROM documents
    )
    SELECT norm_hash, count(*) AS n_copies, min(doc_id) AS canonical_doc_id
    FROM n GROUP BY norm_hash
    """,
)
def text_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup after text normalization (lowercase, strip
    non-alphanumerics, collapse whitespace) — the C4/RefinedWeb-style
    step that catches documents differing only in casing/punctuation/
    spacing, which exact-hash dedup (dedup_exact) misses.  Cluster key
    is md5 of the canonical form; clusters of size > 1 are emitted with
    their keep-the-smallest-id canonical.  Normalization + hash are
    narrow codegen'd expressions; the single shuffle is the hash
    groupBy.  At 100 TB: identical shape — this is cheaper than
    minhash and always runs first in the dedup cascade.
    """
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        d.select("doc_id", F.md5(norm).alias("norm_hash"))
        .groupBy("norm_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
    )


@op(
    "text_length_histogram",
    oracle="""
    SELECT length(printf('%b', n_chars)) - 1 AS log2_bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY 1
    """,
)
def text_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the corpus shape
    diagnostic every pretraining pipeline plots first (truncation
    tails, boilerplate spikes).  The bucket is the integer msb
    position, computed as length(bin(n))-1: a pure integer/string
    construction identical on both engines, deliberately NOT
    floor(log2(n)) — libm log2 at exact powers of two is a last-ulp
    boundary each engine may round differently.  Single map-side-
    combinable groupBy over ~30 buckets; scales like any count."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return d.groupBy(
        (F.length(F.bin("n_chars")) - 1).alias("log2_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@op(
    "text_source_quality",
    oracle="""
    SELECT source,
           count(*) AS n_docs,
           count(DISTINCT lang) AS n_langs,
           CAST((count_if(n_chars < 100) * 1000000) // count(*) AS BIGINT) AS short_doc_ppm,
           CAST(sum(n_chars) AS BIGINT) // count(*) AS mean_chars_floor
    FROM documents
    GROUP BY source
    """,
)
def text_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-provenance corpus QC: document count, language spread,
    short-document rate (ppm), and mean length — the by-source triage
    table used to drop or downweight low-quality feeds before training.
    All-integer outputs (truncated DIV ppm/mean), one groupBy with a
    distinct-aggregate (Spark expands to a two-phase plan: partial
    (source, lang) dedup, then final count — still a single logical
    pass).  At 100 TB, source cardinality is small: partials collapse
    map-side and the exchange is tiny."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.expr(
            "CAST(count_if(n_chars < 100) * 1000000 DIV count(*) AS BIGINT)"
        ).alias("short_doc_ppm"),
        F.expr("CAST(sum(n_chars) DIV count(*) AS BIGINT)").alias(
            "mean_chars_floor"
        ),
    )


@op(
    "text_repetition",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), b AS (
        SELECT doc_id,
               CASE WHEN len(toks) >= 2
                    THEN list_transform(range(1, len(toks)),
                                        i -> toks[i] || ' ' || toks[i + 1])
                    ELSE [] END AS bg
        FROM t
    )
    SELECT doc_id,
           CAST(len(bg) AS INTEGER) AS n_bigrams,
           CAST(len(list_distinct(bg)) AS INTEGER) AS n_distinct_bigrams,
           CASE WHEN len(bg) > 0
                THEN floor((1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                                  / len(bg)) * 1e4 + 0.5) / 1e4
                ELSE 0.0 END AS dup_bigram_frac,
           CASE WHEN len(bg) > 0
                THEN floor((1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)
                                  / len(bg)) * 1e4 + 0.5) / 1e4
                ELSE 0.0 END > 0.2 AS is_repetitive
    FROM b
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score — the Gopher-style "fraction of
    duplicate n-grams" quality rule every LLM pretraining pipeline runs
    (Rae et al. 2021 §A1.1: drop docs whose duplicate-2-gram fraction
    is high; boilerplate and SEO spam light up on it).

    Per doc: bigram multiset (order-preserving adjacent pairs), distinct
    count, and 1 - distinct/total rounded at 1e-4 via the floor formula
    (parity.davg rationale — round() half-up vs banker's straddles).
    Pure array expressions in whole-stage codegen, zero shuffles: at
    100 TB this pipelines inside the document scan like any projection.
    """
    d = _tokens(load_table(spark, sf_dir, "documents"))
    bigrams = F.when(
        F.size("toks") >= 2,
        F.expr(
            "transform(sequence(0, size(toks) - 2),"
            " i -> concat(toks[i], ' ', toks[i + 1]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    d = d.select("doc_id", bigrams.alias("bg")).select(
        "doc_id",
        F.size("bg").alias("n_bigrams"),
        F.size(F.array_distinct("bg")).alias("n_distinct_bigrams"),
    )
    frac = F.when(
        F.col("n_bigrams") > 0,
        F.floor(
            (
                F.lit(1.0)
                - F.col("n_distinct_bigrams").cast("double") / F.col("n_bigrams")
            )
            * 1e4
            + 0.5
        )
        / 1e4,
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        "n_bigrams",
        "n_distinct_bigrams",
        frac.alias("dup_bigram_frac"),
        (frac > 0.2).alias("is_repetitive"),
    )


#: Eval-set membership for decontamination: ~1% of docs (prime modulus).
DECON_EVAL_MOD = 97

#: Shingle width for contamination detection (3-token windows — small
#: because the fixture vocabulary is 31 tokens; production uses 8-13).
DECON_NGRAM = 3


@op(
    "text_decontaminate",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, shingle FROM (
            SELECT doc_id,
                   unnest(CASE WHEN len(toks) >= {DECON_NGRAM}
                               THEN list_transform(
                                   range(1, len(toks) - {DECON_NGRAM - 2}),
                                   i -> toks[i] || ' ' || toks[i + 1]
                                        || ' ' || toks[i + 2])
                               ELSE [] END) AS shingle
            FROM t)
    ), ev AS (
        SELECT doc_id AS eval_doc, shingle FROM sh
        WHERE doc_id % {DECON_EVAL_MOD} = 0
    ), co AS (
        SELECT doc_id, shingle FROM sh WHERE doc_id % {DECON_EVAL_MOD} <> 0
    )
    SELECT co.doc_id,
           count(DISTINCT ev.eval_doc) AS n_eval_docs_hit,
           count(DISTINCT co.shingle) AS n_shared_shingles
    FROM co JOIN ev ON ev.shingle = co.shingle
    GROUP BY co.doc_id
    """,
)
def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — flag training documents sharing any
    3-token shingle with a held-out eval set (here: doc_id % 97 == 0,
    standing in for the benchmark suite).  The op every serious
    pretraining pipeline runs before training (n-gram overlap
    decontamination, GPT-3 appendix C / PaLM §6.1 style).

    Plan shape: one distinct (doc, shingle) projection feeds both
    sides; the eval side (~1% of docs) is BROADCAST into the shingle
    join, so the corpus side never shuffles — exactly the production
    asymmetry, where the eval suite is a fixed small artifact against a
    100 TB corpus.  Output: per contaminated doc, how many eval docs it
    collides with and on how many distinct shingles.
    """
    d = _tokens(load_table(spark, sf_dir, "documents"))
    shingles = F.when(
        F.size("toks") >= DECON_NGRAM,
        F.expr(
            f"transform(sequence(0, size(toks) - {DECON_NGRAM}),"
            " i -> concat_ws(' ', toks[i], toks[i + 1], toks[i + 2]))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = (
        d.select("doc_id", F.explode(shingles).alias("shingle"))
        .distinct()
        # NOT barriered (r11 measured): the doc_id%-mod filters below
        # push past the distinct, so the eval and corpus sides process
        # DISJOINT doc partitions — a checkpoint here would force one
        # full-corpus materialization where the two sides already
        # split the work, and measured slower.
    )
    ev = sh.filter(F.col("doc_id") % DECON_EVAL_MOD == 0).select(
        F.col("doc_id").alias("eval_doc"), "shingle"
    )
    co = sh.filter(F.col("doc_id") % DECON_EVAL_MOD != 0)
    return (
        co.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("eval_doc").alias("n_eval_docs_hit"),
            F.countDistinct("shingle").alias("n_shared_shingles"),
        )
    )


@op(
    "text_html_strip",
    oracle="""
    WITH marked AS (
        SELECT doc_id,
               concat('<div id="d', CAST(doc_id AS VARCHAR), '"><p>',
                      text, ' &amp; more</p></div>') AS html
        FROM documents
    )
    SELECT doc_id,
           replace(regexp_replace(html, '<[^>]+>', '', 'g'), '&amp;', '&')
               AS clean_text,
           CAST(len(regexp_extract_all(html, '<[^>]+>')) AS INTEGER)
               AS n_tags
    FROM marked
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal — tag stripping + entity decoding, the
    first stage of every web-corpus ingestion pipeline.

    The fixture corpus has no markup, so the query INJECTS a
    deterministic wrapper (div/p tags + an &amp; entity) and then
    strips it — the strip/decode expressions are exercised on real
    markup while the oracle derives the expected output from the same
    construction.  The tag regex '<[^>]+>' is intentionally simple and
    shared verbatim by both engines.  Pure regexp_replace chain:
    per-row, codegen'd, no shuffle — a 100 TB corpus strips at scan
    throughput.  (A production pass adds script/style content removal
    first: regexp_replace('(?s)<script.*?</script>', '') — same shape,
    stacked replaces.)"""
    d = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<div id="d'),
        F.col("doc_id").cast("string"),
        F.lit('"><p>'),
        F.col("text"),
        F.lit(" &amp; more</p></div>"),
    )
    m = d.select("doc_id", html.alias("html"))
    return m.select(
        "doc_id",
        F.replace(
            F.regexp_replace("html", "<[^>]+>", ""),
            F.lit("&amp;"),
            F.lit("&"),
        ).alias("clean_text"),
        F.regexp_count("html", F.lit("<[^>]+>")).cast("int").alias("n_tags"),
    )


#: Paragraph chunk width (tokens) for text_paragraph_dedup.
_PARA_W = 8


@op(
    "text_paragraph_dedup",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    paras AS (
        SELECT doc_id,
               unnest(generate_series(1, (len(t) + {_PARA_W} - 1) // {_PARA_W}))
                   AS para_idx,
               t
        FROM toks
    ),
    ex AS (
        SELECT doc_id, CAST(para_idx AS INTEGER) AS para_idx,
               array_to_string(
                   list_slice(t, (para_idx - 1) * {_PARA_W} + 1,
                              (para_idx - 1) * {_PARA_W} + {_PARA_W}), ' ')
                   AS para
        FROM paras
    ),
    ranked AS (
        SELECT doc_id, para_idx,
               row_number() OVER (PARTITION BY para
                                  ORDER BY doc_id, para_idx) AS rnk
        FROM ex
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_paras,
           CAST(count(*) FILTER (WHERE rnk > 1) AS BIGINT) AS n_dup_paras
    FROM ranked
    GROUP BY doc_id
    """,
)
def text_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph-level dedup census (the CCNet/RefinedWeb line-dedup
    stage): chunk each document into 8-token paragraphs, find
    every paragraph instance whose exact text already occurred earlier
    in the corpus (first occurrence = lowest (doc_id, para_idx)), and
    report per-document totals.  Keeping ONLY first occurrences is the
    classic suffix of this op; the census output keeps the row count
    per doc_id stable for grading.

    Shape: per-row chunking (posexplode of a slice transform, no
    Python), then ONE shuffle partitioned by paragraph text for the
    first-occurrence ranking, then a count-style re-aggregation by
    doc.  At 100 TB: hash the paragraph to a 128-bit key before the
    shuffle (xx128 — shuffles fixed-width keys, not text), and a hot
    boilerplate paragraph (the skew risk) caps at its occurrence
    count; a min-struct aggregate + rejoin replaces the window if a
    single paragraph's postings exceed a partition."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("t"))
    paras = t.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, (size(t) + {_PARA_W} - 1) DIV {_PARA_W}),"
                f" i -> array_join(slice(t, (i - 1) * {_PARA_W} + 1, {_PARA_W}),"
                f" ' '))"
            )
        ).alias("pos0", "para"),
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("int").alias("para_idx"), "para"
    )
    w = Window.partitionBy("para").orderBy("doc_id", "para_idx")
    ranked = paras.withColumn("rnk", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.sum(F.when(F.col("rnk") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_paras"),
    )


@op(
    "text_unigram_perplexity",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), dtf AS (
        SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
    ), corpus AS (
        SELECT token, CAST(sum(tf) AS BIGINT) AS ctf FROM dtf GROUP BY token
    ), tot AS (
        SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM corpus
    ), m0 AS (
        SELECT token, ctf / n_total AS {LN_X} FROM corpus CROSS JOIN tot
    ), m1 AS (
        SELECT *, {_P_P2} AS {LN_P2}, {_P_ELN2} AS {LN_ELN2} FROM m0
    ), m2 AS (
        SELECT token, {LN_ELN2}, {sql_ln_s()} AS {LN_S} FROM m1
    ), model AS (
        SELECT token,
               CAST(floor({_P_LOG2} * 1.0e12 - 5.0e-1) AS BIGINT) + 1 AS q
        FROM m2
    ), terms AS (
        SELECT d.doc_id, CAST(d.tf AS BIGINT) AS tf, m.q
        FROM dtf d JOIN model m USING (token)
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           floor(CAST(-CAST(sum(tf * q) AS BIGINT) AS DOUBLE)
                 / (CAST(sum(tf) AS DOUBLE) * 1.0e6) + 5.0e-1) / 1.0e6
               AS xent_bits
    FROM terms GROUP BY doc_id
    """,
)
def text_unigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-entropy under a corpus unigram LM — the
    cheapest "how surprising is this document" quality signal in
    pretraining pipelines (KenLM-perplexity's degenerate cousin;
    outliers on either end are boilerplate or noise).  The LM is the
    corpus itself: p(tok) = ctf/N from the shared term-frequency
    artifact; per doc, H = -Σ tf·log2 p / Σ tf bits.

    Parity (r7 libm retirement): log2 p is the staged deterministic
    ln ladder / ln2 (parity.sql_ln_*, bit-equal across engines),
    evaluated ONCE PER VOCAB TOKEN on the model table — never per
    corpus row — then quantized to integer 1e-12 units (round-half-up
    via floor(x·1e12-0.5)+1, exact for the negative log terms) BEFORE
    the weighted per-doc sum; the display value is one floor-based
    1e-6 grid snap of a ratio of exact BIGINTs.  Plan: the tf table
    materializes once (memo_checkpoint); the model table is a
    vocab-row broadcast; the per-doc agg shuffles on doc_id only.  At
    100 TB the vocab table is the only global state — a few million
    rows, broadcastable, exactly how distributed KenLM scoring
    ships its model."""
    tf = _tf_table(spark, sf_dir)
    corpus = tf.groupBy("token").agg(F.sum("tf").alias("ctf"))
    tot = corpus.agg(F.sum("ctf").alias("n_total"))
    model = (
        corpus.crossJoin(F.broadcast(tot))
        .withColumn(LN_X, F.expr("ctf / n_total"))
        .withColumn(LN_P2, F.expr(_P_P2))
        .withColumn(LN_ELN2, F.expr(_P_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
        .select(
            "token",
            F.expr(
                f"CAST(floor({_P_LOG2} * 1.0e12 - 5.0e-1) AS BIGINT) + 1"
            ).alias("q"),
        )
    )
    terms = tf.join(F.broadcast(model), "token").select(
        "doc_id", F.col("tf").cast("bigint").alias("tf"), "q"
    )
    return terms.groupBy("doc_id").agg(
        F.sum("tf").alias("n_tokens"),
        F.expr(
            "floor(CAST(-CAST(sum(tf * q) AS BIGINT) AS DOUBLE)"
            " / (CAST(sum(tf) AS DOUBLE) * 1.0e6) + 5.0e-1) / 1.0e6"
        ).alias("xent_bits"),
    )


@op(
    "text_zipf_census",
    oracle="""
    WITH tf AS (
        SELECT unnest(string_split(text, ' ')) AS token FROM documents
    ), corpus AS (
        SELECT token, count(*) AS ctf FROM tf GROUP BY token
    ), tot AS (
        SELECT CAST(sum(ctf) AS BIGINT) AS n_total FROM corpus
    )
    SELECT token,
           CAST(ctf AS BIGINT) AS ctf,
           CAST(row_number() OVER (ORDER BY ctf DESC, token) AS BIGINT)
               AS rnk,
           CAST(row_number() OVER (ORDER BY ctf DESC, token) * ctf
                AS BIGINT) AS rank_freq_product,
           CAST((ctf * 1000000) // n_total AS BIGINT) AS share_ppm
    FROM corpus CROSS JOIN tot
    """,
)
def text_zipf_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary census in Zipf form: every token with its
    frequency, frequency rank, rank×freq product (constant under an
    ideal Zipf law — the standard sanity plot for a scraped corpus)
    and ppm share of all tokens.  Plan: one partial-agg groupBy over
    the shared tf artifact, then a single-partition window over the
    vocabulary table ONLY (vocab is orders of magnitude smaller than
    the corpus; at 100 TB a few million rows on one task is the
    correct plan — the alternative two-pass rank join is strictly
    worse below ~10⁸ vocab entries)."""
    tf = _tf_table(spark, sf_dir)
    corpus = tf.groupBy("token").agg(F.sum("tf").alias("ctf"))
    tot = corpus.agg(F.sum("ctf").alias("n_total"))
    w = Window.orderBy(F.col("ctf").desc(), "token")
    return (
        corpus.crossJoin(F.broadcast(tot))
        .select(
            "token",
            F.col("ctf").cast("bigint").alias("ctf"),
            F.row_number().over(w).cast("bigint").alias("rnk"),
            "n_total",
        )
        .select(
            "token",
            "ctf",
            "rnk",
            F.expr("CAST(rnk * ctf AS BIGINT)").alias("rank_freq_product"),
            F.expr("CAST((ctf * 1000000) DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


@op(
    "text_keywords",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), tf_counts AS (
        SELECT doc_id, token, count(*) AS tf FROM tf GROUP BY doc_id, token
    ), df_counts AS (
        SELECT token, count(*) AS df FROM tf_counts GROUP BY token
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    idf0 AS (
        SELECT token,
               CAST(n_docs + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)
                   AS {LN_X}
        FROM df_counts CROSS JOIN n
    ), idf1 AS (
        SELECT token, {LN_X},
               {_IDF_P2} AS {LN_P2}, {_IDF_ELN2} AS {LN_ELN2}
        FROM idf0
    ), idf2 AS (
        SELECT token, {LN_ELN2}, {sql_ln_s()} AS {LN_S} FROM idf1
    ), idf AS (
        SELECT token, ({sql_ln_final()} + 1.0e0) AS idf_smooth
        FROM idf2
    ), scored AS (
        SELECT tc.doc_id, tc.token,
               CAST(floor(CAST(tc.tf AS DOUBLE) * i.idf_smooth * 1.0e4
                          + 5.0e-1) AS BIGINT) AS tfidf_q4
        FROM tf_counts tc JOIN idf i ON tc.token = i.token
    )
    SELECT doc_id, token, tfidf_q4,
           CAST(kw_rank AS INTEGER) AS kw_rank
    FROM (
        SELECT doc_id, token, tfidf_q4,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf_q4 DESC, token) AS kw_rank
        FROM scored
    ) WHERE kw_rank <= 3
    """,
)
def text_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 keywords per document by smoothed TF-IDF — the
    keyword-extraction / doc-tagging stage of a corpus pipeline,
    stacked directly on the memoized tf artifact and the broadcast
    idf table (zero new corpus passes).  Scores are text_tfidf's
    exact BIGINT 1e-4 units (deterministic staged ln — see
    text_tfidf's float-discipline note), so the ranking is an
    INTEGER comparison with the token as unique tie-break: the
    top-3 set cannot diverge across engines even at a near-tie.
    Plan: broadcast join + one (doc_id) window — the same
    single-exchange top-k-per-group shape as topk_per_group."""
    tf = _tf_table(spark, sf_dir)
    df_counts = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = load_table(spark, sf_dir, "documents").count()
    idf = _idf_table(df_counts, n_docs).drop("df")
    scored = tf.join(F.broadcast(idf), "token").select(
        "doc_id",
        "token",
        F.expr(
            "CAST(floor(CAST(tf AS DOUBLE) * idf_smooth * 1.0e4"
            " + 5.0e-1) AS BIGINT)"
        ).alias("tfidf_q4"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_q4").desc(), "token")
    return (
        scored.withColumn("kw_rank", F.row_number().over(w))
        .filter(F.col("kw_rank") <= 3)
        .select("doc_id", "token", "tfidf_q4", "kw_rank")
    )


@op(
    "text_langid_eval",
    oracle="""
    WITH tok AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), profile AS (
        SELECT lang, token FROM (
            SELECT lang, token, count(*) AS freq,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY count(*) DESC, token) AS rn
            FROM tok GROUP BY lang, token
        ) WHERE rn <= 5
    ), doc_tokens AS (
        SELECT DISTINCT doc_id, token FROM tok
    ), scores AS (
        SELECT dt.doc_id, p.lang AS cand_lang, count(*) AS score
        FROM doc_tokens dt JOIN profile p ON dt.token = p.token
        GROUP BY dt.doc_id, p.lang
    ), best AS (
        SELECT doc_id, cand_lang,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, cand_lang) AS rn
        FROM scores
    )
    SELECT d.lang AS true_lang,
           coalesce(b.cand_lang, '??') AS predicted_lang,
           count(*) AS n_docs
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id AND b.rn = 1
    GROUP BY 1, 2
    """,
)
def text_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix for the n-gram language identifier — the
    evaluation stage stacked on text_lang_id's exact pipeline: count
    of documents per (true_lang, predicted_lang) cell, unpredicted
    docs bucketed as '??'.  A model-eval op is a first-class
    pipeline citizen (same pattern as ts_forecast_backtest): at
    100 TB you run the classifier and its confusion rollup in ONE
    job because re-reading the corpus to score it separately doubles
    the dominant cost.  Plan mirrors text_lang_id (broadcast 25-row
    profile, (doc, lang) score agg) plus one tiny (lang, lang)
    grouping."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("token"))
    profile = (
        tok.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("lang").orderBy(
                    F.col("freq").desc(), F.col("token")
                )
            ),
        )
        .filter(F.col("rn") <= 5)
        .select(F.col("lang").alias("cand_lang"), "token")
    )
    doc_tokens = tok.select("doc_id", "token").distinct()
    scores = doc_tokens.join(F.broadcast(profile), "token").groupBy(
        "doc_id", "cand_lang"
    ).agg(F.count(F.lit(1)).alias("score"))
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("cand_lang")
    )
    best = (
        scores.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select("doc_id", "cand_lang")
    )
    return (
        d.join(best, "doc_id", "left")
        .groupBy(
            F.col("lang").alias("true_lang"),
            F.coalesce(F.col("cand_lang"), F.lit("??")).alias("predicted_lang"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@op(
    "text_bigram_perplexity",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
                   AS pos,
               unnest(string_split(text, ' ')) AS w
        FROM documents
    ), big AS (
        SELECT doc_id, w AS w1,
               lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM tok
    ), dtf AS (
        SELECT doc_id, w1, w2, count(*) AS tf
        FROM big WHERE w2 IS NOT NULL GROUP BY doc_id, w1, w2
    ), c2 AS (
        SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS n2 FROM dtf GROUP BY w1, w2
    ), c1 AS (
        SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY w1
    ), m0 AS (
        SELECT w1, w2, n2 / n1 AS {LN_X} FROM c2 JOIN c1 USING (w1)
    ), m1 AS (
        SELECT *, {_P_P2} AS {LN_P2}, {_P_ELN2} AS {LN_ELN2} FROM m0
    ), m2 AS (
        SELECT w1, w2, {LN_ELN2}, {sql_ln_s()} AS {LN_S} FROM m1
    ), model AS (
        SELECT w1, w2,
               CAST(floor({_P_LOG2} * 1.0e12 - 5.0e-1) AS BIGINT) + 1 AS q
        FROM m2
    ), terms AS (
        SELECT d.doc_id, CAST(d.tf AS BIGINT) AS tf, m.q
        FROM dtf d JOIN model m USING (w1, w2)
    )
    SELECT doc_id,
           CAST(sum(tf) AS BIGINT) AS n_bigrams,
           floor(CAST(-CAST(sum(tf * q) AS BIGINT) AS DOUBLE)
                 / (CAST(sum(tf) AS DOUBLE) * 1.0e6) + 5.0e-1) / 1.0e6
               AS xent2_bits
    FROM terms GROUP BY doc_id
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document: -mean log2 p(w_t | w_t-1)
    with p = c(w1,w2)/c(w1,·) from the corpus itself — one order up
    from text_unigram_perplexity, and the two together give the
    information-gain of context (unigram H minus bigram H), the
    standard repetitiveness/fluency axis in corpus-quality suites.
    Same exactness scheme as the unigram op (r7 libm retirement):
    per-bigram-type log2 via the staged deterministic ln ladder / ln2
    (parity.sql_ln_*, evaluated on the ≤vocab² MODEL table, never per
    corpus row), quantized to integer 1e-12 units (round-half-up via
    floor(x·1e12-0.5)+1) BEFORE the tf-weighted per-doc sum; display
    is one floor-based 1e-6 snap of a ratio of exact BIGINTs.  Plan
    (r11): doc bigrams are row-LOCAL (index-sequence transform over
    the token array — the lead-window + posexplode shape and its
    doc_id exchange removed, guide §2.4), then the model tables
    (≤ vocab² rows, built by map-side-collapsing aggregates straight
    from the instance stream) broadcast back over the bigram
    instances — the only exchanges carry ≤vocab² and ≤n_docs rows;
    the distributed KenLM-scoring shape of the unigram op with a
    bigger broadcast."""
    d = load_table(spark, sf_dir, "documents")
    # r11 (guide §2.4): bigrams are row-LOCAL — derive them from the
    # token array with an index-sequence transform (text_ngrams'
    # 1-based element_at idiom) instead of the r10 posexplode + lead
    # window, which shuffled and sorted the whole token explosion on
    # doc_id just to pair adjacent rows.  Removes the widest exchange
    # in the plan outright; same (w1, w2) multiset per document.
    # The pairing is slice+arrays_zip, NOT a transform(sequence(...))
    # lambda: higher-order-function lambdas run interpreted, so after
    # projection collapse the inlined split() re-evaluates per element
    # (quadratic per doc — measured 4.5 s vs 1.1 s at sf0.1); slice/
    # arrays_zip are ordinary codegen expressions with subexpression
    # elimination, so the split runs once per row.
    big = (
        d.select("doc_id", F.split("text", " ").alias("toks"))
        # size >= 2 guard: docs with < 2 tokens contribute no bigrams
        # (the lead-window shape dropped them via w2 IS NOT NULL —
        # same row set).
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.slice("toks", 1, F.size("toks") - 1).alias("w1s"),
            F.slice("toks", 2, F.size("toks") - 1).alias("w2s"),
        )
        .select("doc_id", F.explode(F.arrays_zip("w1s", "w2s")).alias("b"))
        .select(
            "doc_id",
            F.col("b.w1s").alias("w1"),
            F.col("b.w2s").alias("w2"),
        )
    )
    # r11: the intermediate per-(doc, w1, w2) tf table is gone — the
    # MODEL only needs bigram-TYPE counts (map-side partials collapse
    # the instance stream straight to ≤vocab² rows per task), and the
    # per-doc sum runs over instances directly: Σ_types tf·q is
    # Σ_instances q, exactly, in BIGINT.  The (doc,w1,w2) exchange of
    # ~every bigram instance (256k rows at sf0.1, evaluated on BOTH
    # branches) is removed outright; the surviving exchanges carry
    # ≤vocab² and ≤n_docs rows (guide §2.3 "aggregate before you
    # shuffle").
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    model = (
        c2.join(c1, "w1")
        .withColumn(LN_X, F.expr("n2 / n1"))
        .withColumn(LN_P2, F.expr(_P_P2))
        .withColumn(LN_ELN2, F.expr(_P_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
        .select(
            "w1",
            "w2",
            F.expr(
                f"CAST(floor({_P_LOG2} * 1.0e12 - 5.0e-1) AS BIGINT) + 1"
            ).alias("q"),
        )
    )
    terms = big.join(F.broadcast(model), ["w1", "w2"]).select("doc_id", "q")
    return terms.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.expr(
            "floor(CAST(-CAST(sum(q) AS BIGINT) AS DOUBLE)"
            " / (CAST(count(*) AS DOUBLE) * 1.0e6) + 5.0e-1) / 1.0e6"
        ).alias("xent2_bits"),
    )


@op(
    "report_corpus_quality",
    oracle="""
    WITH norm AS (
        SELECT doc_id, lang, source, n_chars,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh
        FROM documents
    ), clusters AS (
        SELECT nh, count(*) AS csize FROM norm GROUP BY nh
    )
    SELECT n.lang,
           count(*) AS n_docs,
           CAST(count(DISTINCT n.source) AS BIGINT) AS n_sources,
           CAST(sum(n.n_chars) AS BIGINT) // count(*) AS mean_chars_floor,
           CAST((count(CASE WHEN n.n_chars < 100 THEN 1 END) * 1000000)
                // count(*) AS BIGINT) AS short_doc_ppm,
           CAST((count(CASE WHEN c.csize > 1 THEN 1 END) * 1000000)
                // count(*) AS BIGINT) AS dup_member_ppm
    FROM norm n JOIN clusters c ON n.nh = c.nh
    GROUP BY n.lang
    """,
)
def report_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-language corpus quality report — the composed summary a
    pretraining-data curator reads before a training run: document
    volume, source diversity, mean length, short-document rate, and
    the fraction of docs belonging to a (normalized-text) duplicate
    cluster, all in one job.  Composition: the normalized-hash
    cluster census (text_dedup_normalized's core) joins back to the
    corpus as a broadcast, so the duplicate-membership flag costs no
    second scan; everything else is conditional aggregation in the
    same (lang) groupBy.  Integer ppm/floor arithmetic throughout."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
                    " +",
                    " ",
                )
            )
        ).alias("nh"),
    )
    # The normalized-hash projection (two regex passes + md5 per row)
    # feeds BOTH the cluster census and the join probe — one lazy
    # barrier halves the op's per-row regex work (r11, guide §2.4).
    norm = norm.localCheckpoint(eager=False)
    clusters = norm.groupBy("nh").agg(F.count(F.lit(1)).alias("csize"))
    j = norm.join(F.broadcast(clusters), "nh")
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.expr("CAST(sum(n_chars) DIV count(*) AS BIGINT)").alias(
            "mean_chars_floor"
        ),
        F.expr(
            "CAST((count(CASE WHEN n_chars < 100 THEN 1 END) * 1000000)"
            " DIV count(*) AS BIGINT)"
        ).alias("short_doc_ppm"),
        F.expr(
            "CAST((count(CASE WHEN csize > 1 THEN 1 END) * 1000000)"
            " DIV count(*) AS BIGINT)"
        ).alias("dup_member_ppm"),
    )


@op(
    "text_chunk_windows",
    oracle="""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS toks,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), c AS (
        SELECT doc_id, n, toks,
               unnest(generate_series(0,
                   CASE WHEN n <= 8 THEN 0 ELSE (n - 8 + 5) // 6 END))
                   AS chunk_id
        FROM t
    )
    SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
           CAST(chunk_id * 6 AS INTEGER) AS start_token,
           CAST(len(toks[chunk_id * 6 + 1 : chunk_id * 6 + 8])
                AS INTEGER) AS n_chunk_tokens,
           array_to_string(toks[chunk_id * 6 + 1 : chunk_id * 6 + 8],
                           ' ') AS chunk_text,
           chunk_id * 6 + 8 >= n AS is_last
    FROM c
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the training-data prep step
    that turns variable-length documents into fixed-size overlapping
    token windows (window = 8 tokens, stride = 6, overlap = 2; the
    miniature of a 2048/1792 production setting).  Each document emits
    ceil((n - W)/S) + 1 chunks; the final chunk is allowed to be short
    (no padding — the packer downstream owns that).

    Shape: chunk count and boundaries are pure per-row arithmetic,
    `sequence` + `explode` fans the document into its chunks, and
    `slice` re-materializes each window from the one tokenization —
    zero shuffle, zero join, whole-stage codegen end-to-end.  At
    100 TB the op is a map over the corpus whose output feeds
    straight into a partitioned write; chunk counts are integer DIV
    arithmetic (positive domain, so Spark DIV == DuckDB //)."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    W, S = 8, 6
    n = F.size("toks")
    n_chunks = F.when(n <= W, F.lit(1)).otherwise(
        F.expr(f"CAST((size(toks) - {W} + {S - 1}) DIV {S} AS INT) + 1")
    )
    c = d.select(
        "doc_id",
        "toks",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    return c.select(
        "doc_id",
        "chunk_id",
        (F.col("chunk_id") * S).cast("int").alias("start_token"),
        F.size(F.slice("toks", F.col("chunk_id") * S + 1, W)).alias(
            "n_chunk_tokens"
        ),
        F.array_join(F.slice("toks", F.col("chunk_id") * S + 1, W), " ").alias(
            "chunk_text"
        ),
        (F.col("chunk_id") * S + W >= F.col("n")).alias("is_last"),
    )


@op(
    "text_dataset_mixture",
    oracle="""
    WITH dom AS (
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(len(string_split(text, ' '))) AS BIGINT)
                   AS domain_tokens,
               CAST(floor(sqrt(CAST(sum(len(string_split(text, ' ')))
                                    AS DOUBLE))) AS BIGINT) AS w
        FROM documents
        GROUP BY source
    ), tot AS (
        SELECT CAST(sum(domain_tokens) AS BIGINT) AS corpus_tokens,
               CAST(sum(w) AS BIGINT) AS sum_w
        FROM dom
    )
    SELECT source, n_docs, domain_tokens,
           domain_tokens * 1000000 // corpus_tokens AS natural_ppm,
           w * 1000000 // sum_w AS target_ppm,
           (w * 1000000 // sum_w) * corpus_tokens * 4
               // domain_tokens AS epochs_ppm
    FROM dom, tot
    """,
)
def text_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture planning — the sampling-weight table a training
    run consumes: per source, the natural token share and the
    temperature-flattened target share (T=2 ⇒ weight ∝ sqrt(tokens),
    the standard upweight-the-tail move), plus the implied epoch count
    over each domain at a 4×-corpus token budget (epochs > 1e6 ppm ⇒
    that domain repeats; the signal for dedup-aware repetition caps).

    Parity design: temperature T=2 is deliberate — sqrt is IEEE-754
    correctly rounded (identical bits on both engines), unlike pow(x,
    1/T) for general T whose libm last-ulp is engine-specific.  After
    floor(sqrt(...)) everything is BIGINT arithmetic (shares in ppm
    via integer DIV on a positive domain), so the op is hash-parity
    proof by construction.  Shape: one partial+final aggregate over
    the corpus, a 1-row total, and a broadcast-NL rejoin — the
    20-source output is driver-trivial but the plan is the 100 TB one
    (no collect; the total rides as a crossJoin'd single row)."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    dom = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("bigint").alias("domain_tokens"),
    )
    dom = dom.withColumn(
        "w", F.floor(F.sqrt(F.col("domain_tokens").cast("double"))).cast("bigint")
    )
    tot = dom.agg(
        F.sum("domain_tokens").cast("bigint").alias("corpus_tokens"),
        F.sum("w").cast("bigint").alias("sum_w"),
    )
    j = dom.crossJoin(F.broadcast(tot))
    return j.select(
        "source",
        "n_docs",
        "domain_tokens",
        F.expr("domain_tokens * 1000000 DIV corpus_tokens").alias("natural_ppm"),
        F.expr("w * 1000000 DIV sum_w").alias("target_ppm"),
        F.expr(
            "(w * 1000000 DIV sum_w) * corpus_tokens * 4 DIV domain_tokens"
        ).alias("epochs_ppm"),
    )


@op(
    "text_pack_sequences",
    oracle="""
    WITH chunks AS (
        SELECT doc_id, source,
               unnest(generate_series(0,
                   CASE WHEN len(string_split(text, ' ')) <= 8 THEN 0
                        ELSE (len(string_split(text, ' ')) - 8 + 5) // 6
                   END)) AS chunk_id,
               len(string_split(text, ' ')) AS n
        FROM documents
    ), sized AS (
        SELECT source, doc_id, chunk_id,
               CASE WHEN chunk_id * 6 + 8 <= n THEN 8
                    ELSE n - chunk_id * 6 END AS chunk_tokens
        FROM chunks
    ), binned AS (
        SELECT source, chunk_tokens,
               (CAST(sum(chunk_tokens) OVER (
                    PARTITION BY source ORDER BY doc_id, chunk_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) - 1) // 64 AS seq_id
        FROM sized
    )
    SELECT source, seq_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens,
           CAST(sum(chunk_tokens) AS BIGINT) * 1000000 // 64
               AS fill_ppm
    FROM binned
    GROUP BY source, seq_id
    """,
)
def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the step after chunking in a training-data
    pipeline: concatenate chunks into fixed-budget training sequences
    (budget = 64 tokens here; the 2048/4096 miniature) and report each
    sequence's fill.  Packing is prefix-sum binning, not first-fit:
    within each source, chunks in deterministic (doc_id, chunk_id)
    order are assigned seq_id = (running_tokens - 1) DIV budget — a
    single window + aggregate, trading a few percent of fill
    efficiency for a fully parallel, deterministic plan (first-fit
    decreasing is inherently sequential and shuffles per bin).

    Scale shape: the prefix sum partitions by source, so no global
    window exists; at 100 TB the partition key widens to
    (source, shard) with per-shard budgets — same plan, bounded
    partitions.  Chunk sizes re-derive arithmetically from the
    chunking parameters (W=8, S=6) rather than re-materializing
    chunk text — packing needs only the sizes.  The trailing partial
    sequence per source legitimately reports fill < 1e6 ppm; all
    metrics are positive-domain integer DIV."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    W, S, BUDGET = 8, 6, 64
    n = F.size("toks")
    n_chunks = F.when(n <= W, F.lit(1)).otherwise(
        F.expr(f"CAST((size(toks) - {W} + {S - 1}) DIV {S} AS INT) + 1")
    )
    chunks = d.select(
        "doc_id",
        "source",
        n.alias("n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    ).select(
        "source",
        "doc_id",
        "chunk_id",
        F.when(F.col("chunk_id") * S + W <= F.col("n"), F.lit(W))
        .otherwise(F.col("n") - F.col("chunk_id") * S)
        .alias("chunk_tokens"),
    )
    from pyspark.sql import Window as W_

    w = (
        W_.partitionBy("source")
        .orderBy("doc_id", "chunk_id")
        .rowsBetween(W_.unboundedPreceding, W_.currentRow)
    )
    binned = chunks.select(
        "source",
        "chunk_tokens",
        F.expr(
            f"(CAST(sum(chunk_tokens) OVER (PARTITION BY source "
            f"ORDER BY doc_id, chunk_id ROWS BETWEEN UNBOUNDED PRECEDING "
            f"AND CURRENT ROW) AS BIGINT) - 1) DIV {BUDGET}"
        ).alias("seq_id"),
    )
    return binned.groupBy("source", "seq_id").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("chunk_tokens").cast("bigint").alias("n_tokens"),
        F.expr(
            f"CAST(sum(chunk_tokens) AS BIGINT) * 1000000 DIV {BUDGET}"
        ).alias("fill_ppm"),
    )


@op(
    "text_inverted_index",
    oracle="""
    WITH postings AS (
        SELECT token, doc_id
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
              FROM documents)
        GROUP BY token, doc_id
    )
    SELECT token,
           CAST(count(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id))[1:20], ',')
               AS postings_head
    FROM postings
    GROUP BY token
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the search/retrieval artifact a
    corpus pipeline materializes next to the TF table: per token, its
    document frequency and the head of its sorted posting list
    (capped at 20 doc ids here; production caps per-shard and chains
    overflow blocks).  Built from the memoized (doc, token, tf)
    artifact — no fresh explode over the corpus — with
    sort_array(collect_list(...)) for deterministic postings and a
    string round-trip for the driver canonicalizer (the r2 rule:
    never ship raw array columns through the hash compare).

    Scale shape: one (token) aggregate over the tf table; the
    collect_list is bounded per group only by df, which is why real
    indexes shard postings — the cap models that bound, and the
    deterministic sort makes the head stable under any partitioning.
    Skew note: stopword-grade tokens concentrate; at 100 TB the
    (token) aggregate takes the salted two-phase shape (partial
    collect per salt, merge-sort-truncate) — same output."""
    tf = _tf_table(spark, sf_dir)
    return tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.array_join(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, 20), ","
        ).alias("postings_head"),
    )


@op(
    "text_quality_composite",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_tokens,
               len(list_distinct(string_split(text, ' '))) AS n_distinct,
               len(list_filter(string_split(text, ' '),
                               t -> t = 'the' OR t = 'a')) AS n_stop
        FROM documents
    ), pm AS (
        SELECT doc_id, n_tokens,
               least(n_tokens, 200) * 1000 // 200 AS len_pm,
               n_distinct * 1000 // n_tokens AS uniq_pm,
               (n_tokens - n_stop) * 1000 // n_tokens AS content_pm
        FROM f WHERE n_tokens > 0
    )
    SELECT doc_id, n_tokens, len_pm, uniq_pm, content_pm,
           (4 * len_pm + 4 * uniq_pm + 2 * content_pm) // 10 AS score_pm,
           least((4 * len_pm + 4 * uniq_pm + 2 * content_pm) // 10 // 100,
                 9) AS decile
    FROM pm
    """,
)
def text_quality_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite document quality score — the miniature of model-based
    quality filtering: three per-mille features (length saturation at
    200 tokens, token uniqueness, content-vs-stopword ratio) folded
    into one weighted integer score (40/40/20) with a fixed-boundary
    decile bucket.  The deliberate design points: (1) the score is a
    pure per-row expression — score once at ingest, filter many times
    downstream at zero cost; (2) deciles come from fixed score
    boundaries (score DIV 100), NOT ntile() — rank-based deciles need
    a global sort and re-shuffle every corpus extension, while fixed
    boundaries are stable, embarrassingly parallel, and comparable
    across corpus versions; (3) all-integer per-mille arithmetic on a
    positive domain (hash-parity proof, no float weights)."""
    d = _tokens(load_table(spark, sf_dir, "documents"))
    feats = d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
        F.size(F.filter("toks", lambda t: t.isin(*STOPWORDS))).alias("n_stop"),
    ).filter(F.col("n_tokens") > 0)
    pm = feats.select(
        "doc_id",
        "n_tokens",
        F.expr("least(n_tokens, 200) * 1000 DIV 200").alias("len_pm"),
        F.expr("n_distinct * 1000 DIV n_tokens").alias("uniq_pm"),
        F.expr("(n_tokens - n_stop) * 1000 DIV n_tokens").alias("content_pm"),
    )
    score = F.expr("(4 * len_pm + 4 * uniq_pm + 2 * content_pm) DIV 10")
    return pm.select(
        "doc_id",
        "n_tokens",
        "len_pm",
        "uniq_pm",
        "content_pm",
        score.alias("score_pm"),
        F.expr(
            "least((4 * len_pm + 4 * uniq_pm + 2 * content_pm) DIV 10 DIV 100, 9)"
        ).alias("decile"),
    )


@op(
    "dedup_cross_source_overlap",
    oracle="""
    WITH norm AS (
        SELECT DISTINCT source,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                        '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS nh
        FROM documents
    ), src AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_norm FROM norm
        GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared,
           count(*) * 1000000
               // least(sa.n_norm, sb.n_norm) AS overlap_ppm
    FROM norm a
    JOIN norm b ON a.nh = b.nh AND a.source < b.source
    JOIN src sa ON sa.source = a.source
    JOIN src sb ON sb.source = b.source
    GROUP BY a.source, b.source, sa.n_norm, sb.n_norm
    """,
)
def dedup_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix — which data sources mirror
    each other: for every source pair, the count of shared
    normalized-text documents and the containment ratio against the
    smaller source (1e6 ppm = one source's normalized content is a
    subset of the other's — the signal to drop a mirror before
    mixture weighting double-counts it).

    Shape: the (nh, source) distinct is the only corpus-width
    shuffle; per-hash source lists collect (bounded by the source
    count, ~20) and pair-generate row-locally via the posting-list
    transform — the same algebra as the shingle pair ops, but over a
    catalog-bounded value domain, so the pair aggregate output is at
    most |sources|² rows.  Per-source totals broadcast back onto the
    pair table.  At 100 TB the nh census is a reusable artifact
    shared with text_dedup_normalized / report_corpus_quality."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "source",
        F.md5(
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", ""),
                    " +",
                    " ",
                )
            )
        ).alias("nh"),
    ).distinct()
    src = norm.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_norm")
    )
    pair_expr = (
        "flatten(transform(srcs, (x, i) ->"
        " transform(slice(srcs, i + 2, size(srcs) - i - 1),"
        " y -> struct(x AS source_a, y AS source_b))))"
    )
    pairs = (
        norm.groupBy("nh")
        .agg(F.sort_array(F.collect_list("source")).alias("srcs"))
        .filter(F.size("srcs") > 1)
        .select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
    )
    sa = src.select(
        F.col("source").alias("source_a"), F.col("n_norm").alias("na")
    )
    sb = src.select(
        F.col("source").alias("source_b"), F.col("n_norm").alias("nb")
    )
    j = pairs.join(F.broadcast(sa), "source_a").join(F.broadcast(sb), "source_b")
    return j.select(
        "source_a",
        "source_b",
        "n_shared",
        F.expr("n_shared * 1000000 DIV least(na, nb)").alias("overlap_ppm"),
    )


@op(
    "text_bpe_pair_freq",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(string_split(text, ' ')) AS tok,
               generate_subscripts(string_split(text, ' '), 1) AS pos
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    )
    SELECT a.tok AS left_token, b.tok AS right_token,
           count(*) AS pair_count
    FROM toks a
    JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    GROUP BY 1, 2
    """,
)
def text_bpe_pair_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-token-pair frequency census — the candidate table a
    byte-pair-encoding trainer consults for its next merge (the most
    frequent adjacent pair IS the next BPE merge rule), and the
    bigram statistics behind collocation mining.  The Spark plan is a
    ZERO-JOIN pure map: `transform(sequence(0, n-2), i -> (toks[i],
    toks[i+1]))` fans each document into its adjacent pairs inside
    one projection (no window, no self-join — the oracle's pos+1
    self-join is the relational spelling of the same pairing), then
    one hash aggregate counts pairs.  At 100 TB that is one scan +
    one shuffle of (pair, partial_count) rows — the mergeable
    map-side combine keeps the shuffle at vocabulary² not corpus
    size.  Single-token docs are filtered before pairing (sequence(0,
    -1) would descend)."""
    d = _tokens(load_table(spark, sf_dir, "documents")).filter(
        F.size("toks") >= 2
    )
    pairs = d.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(toks) - 2),"
                " i -> struct(toks[i] AS left_token,"
                " toks[i + 1] AS right_token))"
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.left_token").alias("left_token"),
        F.col("p.right_token").alias("right_token"),
    ).agg(F.count(F.lit(1)).alias("pair_count"))


@op(
    "text_rare_token_ratio",
    oracle="""
    WITH tf AS (
        SELECT doc_id, tok AS token, count(*) AS tf
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY 1, 2
    ), tot AS (
        SELECT token, CAST(sum(tf) AS BIGINT) AS ctot FROM tf GROUP BY 1
    ), s AS (
        SELECT CAST(sum(ctot) AS BIGINT) AS corpus_total,
               count(*) AS vocab
        FROM tot
    ), rare AS (
        SELECT token FROM tot CROSS JOIN s
        WHERE ctot * vocab * 2 < corpus_total
    )
    SELECT tf.doc_id,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN rare.token IS NOT NULL THEN tf.tf ELSE 0 END)
                AS BIGINT) AS n_rare,
           CAST(CAST(sum(CASE WHEN rare.token IS NOT NULL THEN tf.tf
                              ELSE 0 END) AS BIGINT) * 1000000
                // CAST(sum(tf.tf) AS BIGINT) AS BIGINT) AS rare_ppm
    FROM tf LEFT JOIN rare ON tf.token = rare.token
    GROUP BY tf.doc_id
    """,
)
def text_rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-rarity screen: per document, the token-mass share in
    RARE vocabulary (corpus frequency below half the mean token
    frequency) — high rare-mass flags OCR noise, codes/IDs, and
    boilerplate-free jargon that perplexity filters misprice; near
    zero flags templated filler.  The rarity threshold is relative
    (ctot * vocab * 2 < corpus_total, all-integer cross-multiplied),
    so the op needs no tuned constant and is stable across corpus
    sizes.  Built on the memoized (doc, token, tf) artifact — no new
    explode — with the rare-token set broadcast (vocab-bounded
    forever: it is a DISTINCT-token table).

    Scale: token totals are one mergeable aggregate of the tf
    artifact; the per-doc pass is one broadcast-semi flag + one
    doc_id aggregate — a single full-width shuffle on doc_id that
    the tf artifact's grouping already established."""
    tf = _tf_table(spark, sf_dir)
    tot = tf.groupBy("token").agg(F.sum("tf").cast("bigint").alias("ctot"))
    s = tot.agg(
        F.sum("ctot").cast("bigint").alias("corpus_total"),
        F.count(F.lit(1)).alias("vocab"),
    )
    rare = (
        tot.crossJoin(F.broadcast(s))
        .filter(F.expr("ctot * vocab * 2 < corpus_total"))
        .select("token", F.lit(1).alias("is_rare"))
    )
    flagged = tf.join(F.broadcast(rare), "token", "left")
    return flagged.groupBy("doc_id").agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("is_rare").isNotNull(), F.col("tf")).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
        F.expr(
            "CAST(CAST(sum(CASE WHEN is_rare IS NOT NULL THEN tf ELSE 0 END)"
            " AS BIGINT) * 1000000 DIV CAST(sum(tf) AS BIGINT) AS BIGINT)"
        ).alias("rare_ppm"),
    )


@op(
    "text_readability",
    oracle=r"""
    WITH c AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                   AS n_words,
               greatest(
                   CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
                   1) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables
        FROM documents
        WHERE length(text) > 0
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE))) * 10000.0 + 0.5)
               / 10000.0 AS flesch,
           CASE
               WHEN floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE))) * 10000.0 + 0.5)
               / 10000.0 >= 90.0 THEN 'very_easy'
               WHEN floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE))) * 10000.0 + 0.5)
               / 10000.0 >= 60.0 THEN 'standard'
               WHEN floor((206.835
                  - 1.015 * (CAST(n_words AS DOUBLE)
                             / CAST(n_sentences AS DOUBLE))
                  - 84.6 * (CAST(n_syllables AS DOUBLE)
                            / CAST(n_words AS DOUBLE))) * 10000.0 + 0.5)
               / 10000.0 >= 30.0 THEN 'difficult'
               ELSE 'very_difficult'
           END AS band
    FROM c
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document from three regex counts: words
    (non-space runs), sentences (terminal-punctuation runs, floored at
    1 for fragment rows), and syllables approximated as vowel-group
    runs — the standard dictionary-free estimator.  The score is one
    shared IEEE expression over the three exact integer counts, rounded
    with the portable floor identity, and the CASE banding compares the
    already-rounded double so both engines bucket identically.  At
    100 TB this is a pure per-row map (three regex passes, zero
    shuffle); the counts are the expensive part and each is one
    codegen'd regexp_extract_all."""
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_words = F.size(F.expr(r"regexp_extract_all(text, '\\S+', 0)")).cast("long")
    n_sent = F.greatest(
        F.size(F.expr(r"regexp_extract_all(text, '[.!?]+', 0)")).cast("long"),
        F.lit(1).cast("long"),
    )
    n_syl = F.size(
        F.expr(r"regexp_extract_all(lower(text), '[aeiouy]+', 0)")
    ).cast("long")
    c = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syl.alias("n_syllables"),
    )
    score = (
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("n_words").cast("double") / F.col("n_sentences").cast("double"))
        - F.lit(84.6)
        * (F.col("n_syllables").cast("double") / F.col("n_words").cast("double"))
    )
    flesch = F.floor(score * 10000.0 + 0.5) / 10000.0
    return c.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        flesch.alias("flesch"),
        F.when(flesch >= 90.0, F.lit("very_easy"))
        .when(flesch >= 60.0, F.lit("standard"))
        .when(flesch >= 30.0, F.lit("difficult"))
        .otherwise(F.lit("very_difficult"))
        .alias("band"),
    )


@op(
    "text_vocab_growth",
    oracle="""
    WITH bounds AS (
        SELECT min(doc_id) AS lo,
               max(doc_id) - min(doc_id) + 1 AS span
        FROM documents
    ),
    toks AS (
        SELECT DISTINCT d.doc_id, t.tok
        FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
        WHERE length(d.text) > 0
    ),
    firsts AS (
        SELECT tok, min(doc_id) AS first_doc FROM toks GROUP BY tok
    ),
    doc_buckets AS (
        SELECT CAST(((d.doc_id - b.lo) * 50) // b.span AS BIGINT) AS bucket,
               count(DISTINCT d.doc_id) AS n_docs
        FROM documents d CROSS JOIN bounds b
        GROUP BY 1
    ),
    new_buckets AS (
        SELECT CAST(((f.first_doc - b.lo) * 50) // b.span AS BIGINT) AS bucket,
               count(*) AS n_new_tokens
        FROM firsts f CROSS JOIN bounds b
        GROUP BY 1
    )
    SELECT d.bucket,
           CAST(d.n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(n.n_new_tokens, 0) AS BIGINT) AS n_new_tokens,
           CAST(sum(coalesce(n.n_new_tokens, 0))
                OVER (ORDER BY d.bucket
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_vocab
    FROM doc_buckets d LEFT JOIN new_buckets n ON d.bucket = n.bucket
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary-growth census: the corpus in doc_id order,
    bucketed into 50 equal-width position bins; per bin the number of
    vocabulary terms FIRST seen there, plus the running distinct-vocab
    size.  "Is this corpus still yielding new tokens, or has the
    tokenizer's working set saturated?" — the curve flattening is the
    signal.  Each term's first appearance is one min(doc_id) hash
    aggregate; the cumulative window runs over the FIXED 50-bin
    domain, never over docs, so the plan is two vocabulary-bounded
    aggregates + one 50-row window at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(
        F.min("doc_id").alias("lo"),
        (F.max("doc_id") - F.min("doc_id") + F.lit(1)).alias("span"),
    )
    toks = (
        d.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    doc_b = (
        d.crossJoin(F.broadcast(bounds))
        .select(
            F.expr("CAST((doc_id - lo) * 50 DIV span AS BIGINT)").alias("bucket"),
            "doc_id",
        )
        .groupBy("bucket")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
    )
    new_b = (
        firsts.crossJoin(F.broadcast(bounds))
        .select(F.expr("CAST((first_doc - lo) * 50 DIV span AS BIGINT)").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_tokens"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        doc_b.join(new_b, "bucket", "left")
        .select(
            "bucket",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce("n_new_tokens", F.lit(0)).cast("long").alias("n_new_tokens"),
        )
        .withColumn("cum_vocab", F.sum("n_new_tokens").over(w).cast("long"))
    )


@op(
    "text_cooccurrence_pmi",
    oracle=f"""
    WITH toks AS (
        SELECT DISTINCT d.doc_id, t.tok
        FROM documents d, unnest(string_split(d.text, ' ')) AS t(tok)
        WHERE length(d.text) > 0
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
    df AS (SELECT tok, count(*) AS dfreq FROM toks GROUP BY tok),
    pairs AS (
        SELECT a.tok AS token_a, b.tok AS token_b, count(*) AS n_docs_both
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY a.tok, b.tok
    ), j AS (
        SELECT p.token_a, p.token_b, p.n_docs_both,
               CAST(p.n_docs_both AS DOUBLE) * CAST(n.n_docs AS DOUBLE)
                   / (CAST(da.dfreq AS DOUBLE) * CAST(db.dfreq AS DOUBLE))
                   AS {LN_X}
        FROM pairs p
        JOIN df da ON p.token_a = da.tok
        JOIN df db ON p.token_b = db.tok
        CROSS JOIN n
    ), j1 AS (
        SELECT *, {_PMI_P2} AS {LN_P2}, {_PMI_ELN2} AS {LN_ELN2} FROM j
    ), j2 AS (
        SELECT token_a, token_b, n_docs_both, {LN_ELN2},
               {sql_ln_s()} AS {LN_S}
        FROM j1
    )
    SELECT token_a, token_b,
           CAST(n_docs_both AS BIGINT) AS n_docs_both,
           floor({sql_ln_final()} * 1.0e6 + 5.0e-1) / 1.0e6 AS pmi
    FROM j2
    """,
)
def text_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence PMI over documents: for every ordered vocab
    pair sharing at least one document, ln(N·c_ab / (c_a·c_b)) — the
    classic collocation / market-basket association measure.  The
    pair generation is a doc-keyed self-join of the DISTINCT
    (doc, token) table, so pair volume is bounded by docs × per-doc
    vocab², and the OUTPUT is vocabulary² at most — at 100 TB the
    (doc, token) distinct is the only corpus-sized shuffle, and real
    deployments first prune to a broadcast top-V vocabulary (the df
    table here is exactly that dimension, broadcast onto the pairs).
    ln is the staged deterministic ladder (parity.sql_ln_*, r7 libm
    retirement — the PMI ratio spans both sides of 1, so the ladder
    uses the full ±62-rung domain), one per OUTPUT row (vocab²-
    bounded), floor-snapped to the 1e-6 grid."""
    d = load_table(spark, sf_dir, "documents")
    # Four consumers (n_docs, the df dimension, both wedge sides) read
    # this distinct — one lazy barrier makes the explode+distinct
    # exchange run once instead of per consumer (guide §2.4).
    toks = (
        d.filter(F.length("text") > 0)
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    df_t = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("dfreq"))
    a = toks.select("doc_id", F.col("tok").alias("token_a"))
    b = toks.select("doc_id", F.col("tok").alias("token_b"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b")
        .agg(F.count(F.lit(1)).alias("n_docs_both"))
    )
    joined = (
        pairs.join(
            F.broadcast(df_t.select(F.col("tok").alias("token_a"), F.col("dfreq").alias("df_a"))),
            "token_a",
        )
        .join(
            F.broadcast(df_t.select(F.col("tok").alias("token_b"), F.col("dfreq").alias("df_b"))),
            "token_b",
        )
        .crossJoin(F.broadcast(n))
    )
    staged = (
        joined.withColumn(
            LN_X,
            F.expr(
                "CAST(n_docs_both AS DOUBLE) * CAST(n_docs AS DOUBLE)"
                " / (CAST(df_a AS DOUBLE) * CAST(df_b AS DOUBLE))"
            ),
        )
        .withColumn(LN_P2, F.expr(_PMI_P2))
        .withColumn(LN_ELN2, F.expr(_PMI_ELN2))
        .withColumn(LN_S, F.expr(sql_ln_s()))
    )
    return staged.select(
        "token_a",
        "token_b",
        F.col("n_docs_both").cast("long").alias("n_docs_both"),
        F.expr(f"floor({sql_ln_final()} * 1.0e6 + 5.0e-1) / 1.0e6").alias(
            "pmi"
        ),
    )


#: Hashing-trick feature space size for text_hashed_ngram_features.
HASH_FEATURE_DIM = 1024


@op(
    "text_hashed_ngram_features",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), bigrams AS (
        SELECT doc_id,
               t[i] || '_' || t[i + 1] AS bigram
        FROM toks, LATERAL (
            SELECT unnest(generate_series(1, len(t) - 1)) AS i
        ) g
        WHERE len(t) >= 2
    ), hashed AS (
        SELECT doc_id, bigram,
               CAST(('0x' || substr(md5(bigram), 1, 15)) AS BIGINT)
                   % {HASH_FEATURE_DIM} AS feature_id
        FROM bigrams
    )
    SELECT feature_id,
           CAST(count(*) AS BIGINT) AS total_count,
           CAST(count(DISTINCT bigram) AS BIGINT) AS n_distinct_bigrams,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           min(bigram) AS example_bigram
    FROM hashed GROUP BY feature_id
    """,
)
def text_hashed_ngram_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bigram featurization census — the HashingTF /
    feature-hashing stage of every large-scale text classifier, made
    queryable: token bigrams map to a fixed 1024-bucket
    feature space via the repo's portable 60-bit md5-prefix hash
    (bit-equal integer arithmetic on both engines — never an engine-
    native hash), and the graded output is the per-bucket dictionary
    census: total occurrences, DISTINCT bigrams sharing the bucket
    (the collision audit that tells you whether the feature dim is
    big enough), doc reach, and the lexicographically-smallest member
    as a stable exemplar.

    Scale shape: the bigram fan-out is a zero-shuffle per-row map
    (transform over the token array, exploded), and the census is
    feature-dim-bounded (1024 rows), not corpus-bounded.  Two distinct
    dimensions (bigram, doc) in ONE aggregate would plan as an
    Expand ×3 of the whole exploded stream (the r11 before-plan);
    instead each runs as its own partially-aggregated codegen pass —
    (feature, bigram) counts rolled up to the feature census, and a
    (feature, doc) dedupe counted per feature — joined broadcast on
    the 1024-row feature domain (guide §2.3: two narrow map-side-
    combined exchanges beat one 3×-expanded one).  At 100 TB the
    long-format (doc, feature, count) matrix this census profiles
    would be written as the training artifact; the census itself is
    the cheap side table.

    Spread after the scan (io.spread, r11 s3): the fixture is one
    parquet row group, so the bigram explode + md5 hashing ran one
    task wide; one narrow exchange of (doc_id, text) buys core-wide
    map work (interleaved A/B min-of-5: 1.16 -> 0.92 s); no-op at
    real scale."""
    d = spread(spark, load_table(spark, sf_dir, "documents"))
    bigrams = (
        d.withColumn("t", F.split(F.col("text"), " "))
        .filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(slice(t, 1, size(t) - 1),"
                    " (x, i) -> concat(x, '_', t[i + 1]))"
                )
            ).alias("bigram"),
        )
    )
    hashed = bigrams.withColumn(
        "feature_id",
        F.conv(F.substring(F.md5(F.col("bigram")), 1, 15), 16, 10)
        .cast("bigint")
        % HASH_FEATURE_DIM,
    )
    per_bigram = hashed.groupBy("feature_id", "bigram").agg(
        F.count(F.lit(1)).alias("c")
    )
    census = per_bigram.groupBy("feature_id").agg(
        F.sum("c").cast("bigint").alias("total_count"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_bigrams"),
        F.min("bigram").alias("example_bigram"),
    )
    docs = (
        hashed.select("feature_id", "doc_id")
        .dropDuplicates()
        .groupBy("feature_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    )
    return census.join(F.broadcast(docs), "feature_id").select(
        "feature_id",
        "total_count",
        "n_distinct_bigrams",
        "n_docs",
        "example_bigram",
    )
