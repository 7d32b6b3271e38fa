"""Scalar function families (SURVEY.md §2.7) — one registry query per
family, exercising the members the reference's log-parsing/reporting
layer needs (string/regex/date on log lines, JSON on event payloads,
array/higher-order on token lists and embeddings).

All of these run inside whole-stage codegen (JVM expressions, zero
Python) — the fast path.  Each oracle pins the engine-semantics deltas
found during SURVEY §5.4 burn-down; the exclusions are deliberate and
documented per op (a member that cannot hash-match is left out rather
than silently fudged).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from shared_solar_data_warehouse_spark.parity import dround, sql_dround
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table, spread


@op(
    "fn_string",
    oracle="""
    SELECT p_partkey,
           concat(p_brand, ':', p_type) AS brand_type,
           concat_ws('|', p_brand, p_type) AS brand_type_ws,
           substring(p_name, 1, 8) AS name_head,
           CAST(length(p_name) AS INTEGER) AS name_len,
           lower(p_type) AS type_lower,
           upper(p_brand) AS brand_upper,
           trim(concat('  ', p_name, '  ')) AS name_trim,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
           rpad(p_brand, 12, '.') AS brand_rpad,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(instr(p_type, 'ECONOMY') AS INTEGER) AS economy_pos,
           translate(p_brand, '#', '-') AS brand_dashed,
           repeat('*', 3) AS stars,
           reverse(p_brand) AS brand_rev,
           starts_with(p_type, 'PROMO') AS is_promo,
           contains(p_name, 'green') AS has_green
    FROM part
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family.  `initcap` is excluded (no DuckDB equivalent);
    length/instr are INTEGER in Spark vs BIGINT in DuckDB — oracle
    casts to Spark's type."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.concat(F.col("p_brand"), F.lit(":"), F.col("p_type")).alias("brand_type"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type_ws"),
        F.substring("p_name", 1, 8).alias("name_head"),
        F.length("p_name").alias("name_len"),
        F.lower("p_type").alias("type_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.trim(F.concat(F.lit("  "), F.col("p_name"), F.lit("  "))).alias("name_trim"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.instr("p_type", "ECONOMY").alias("economy_pos"),
        F.translate("p_brand", "#", "-").alias("brand_dashed"),
        F.repeat(F.lit("*"), 3).alias("stars"),
        F.reverse("p_brand").alias("brand_rev"),
        F.startswith("p_type", F.lit("PROMO")).alias("is_promo"),
        F.contains("p_name", F.lit("green")).alias("has_green"),
    )


@op(
    "fn_regex",
    oracle="""
    SELECT p_partkey, p_brand,
           regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS brand_num,
           regexp_replace(p_type, '[AEIOU]', '_', 'g') AS type_devoweled,
           regexp_matches(p_type, '^(ECONOMY|PROMO)') AS is_cheap_line
    FROM part
    """,
)
def fn_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex family.  DuckDB regexp_replace is first-match by default —
    the 'g' flag pins Spark's replace-all semantics; extraction group
    indices agree (0=whole, 1=first group)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_brand",
        F.regexp_extract("p_brand", r"Brand#(\d+)", 1).alias("brand_num"),
        F.regexp_replace("p_type", "[AEIOU]", "_").alias("type_devoweled"),
        F.col("p_type").rlike("^(ECONOMY|PROMO)").alias("is_cheap_line"),
    )


@op(
    "fn_string_dist",
    oracle="""
    SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS name_dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    """,
)
def fn_string_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit distance over all nation-name pairs (fuzzy account/site
    matching in the reference's ingest, §0.1).  soundex excluded —
    DuckDB has no soundex."""
    a = load_table(spark, sf_dir, "nation").alias("a")
    b = load_table(spark, sf_dir, "nation").alias("b")
    return a.join(b, F.col("a.n_nationkey") < F.col("b.n_nationkey")).select(
        F.col("a.n_nationkey").alias("key_a"),
        F.col("b.n_nationkey").alias("key_b"),
        F.levenshtein(F.col("a.n_name"), F.col("b.n_name")).alias("name_dist"),
    )


@op(
    "fn_date",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_date,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow_sun1,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           CAST(o_orderdate AS DATE) + 30 AS due_date,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2_months,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           strftime(o_orderdate, '%Y-%m') AS year_month,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
           CAST(to_timestamp(CAST(epoch(o_orderdate) AS BIGINT)) AS TIMESTAMP)
               AS ts_roundtrip,
           make_date(2024, CAST(month(o_orderdate) AS INTEGER), 1) AS normalized,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
               AS INTEGER) AS days_to_2002
    FROM orders
    """,
)
def fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family.  Pinned deltas: Spark dayofweek is 1=Sunday vs
    DuckDB 0=Sunday (+1 in oracle); Spark date_format pattern 'yyyy-MM'
    == strftime '%Y-%m'; DuckDB to_timestamp returns TIMESTAMPTZ (cast
    back); months_between excluded (no DuckDB twin for Spark's 31-day
    fraction rule)."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        d.cast("date").alias("order_date"),
        F.date_trunc("month", d).alias("month_start"),
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.quarter(d).alias("qtr"),
        F.dayofweek(d).alias("dow_sun1"),
        F.weekofyear(d).alias("iso_week"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.add_months(d.cast("date"), 2).alias("plus_2_months"),
        F.last_day(d.cast("date")).alias("month_end"),
        F.date_format(d, "yyyy-MM").alias("year_month"),
        F.unix_timestamp(d).alias("epoch_s"),
        F.timestamp_seconds(F.unix_timestamp(d)).alias("ts_roundtrip"),
        F.make_date(F.lit(2024), F.month(d), F.lit(1)).alias("normalized"),
        F.datediff(F.lit("2002-01-01").cast("date"), d.cast("date")).alias(
            "days_to_2002"
        ),
    )


#: fn_math checksum term: every member quantized to an exact BIGINT
#: (transcendentals at 1e-6 via the dround floor identity), concat'd
#: and folded through the 60-bit-md5 bit_xor checksum primitive.
_MATH_Q = "CAST(floor(({x}) * 1000000.0 + 0.5) AS BIGINT)"


def _math_terms(dialect: str) -> str:
    """The 14 math-family members as BIGINT-quantized SQL terms,
    textually shared between engines except the named divergences."""
    pmod = (
        "((CAST(l_orderkey AS BIGINT) % 7) + 7) % 7"
        if dialect == "duck"
        else "CAST(pmod(l_orderkey, 7) AS BIGINT)"
    )
    q = _MATH_Q.format
    return ", ".join(
        [
            q(x="abs(l_extendedprice - 30000.0)"),
            "CAST(ceil(l_extendedprice / 1000.0) AS BIGINT)",
            "CAST(floor(l_extendedprice / 1000.0) AS BIGINT)",
            q(x="sqrt(l_extendedprice)"),
            q(x="pow(l_quantity, 2.0)"),
            q(x="exp(l_discount)"),
            q(x="ln(l_extendedprice)"),
            q(x="log10(l_extendedprice)"),
            "CAST(sign(l_extendedprice - 30000.0) AS BIGINT)",
            pmod,
            q(x="greatest(l_quantity, CAST(l_linenumber AS DOUBLE) * 10.0)"),
            q(x="least(l_quantity, CAST(l_linenumber AS DOUBLE) * 10.0)"),
            q(x="sin(l_discount)"),
            q(x="cos(l_discount)"),
        ]
    )


@op(
    "fn_math",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(bit_xor(CAST(('0x' || substr(md5(concat_ws(':',
                CAST(l_orderkey AS BIGINT), CAST(l_linenumber AS BIGINT),
                {_math_terms('duck')})), 1, 15)) AS BIGINT)) AS BIGINT)
               AS math_checksum,
           CAST(sum({_MATH_Q.format(x='sqrt(l_extendedprice)')}) AS BIGINT)
               AS sqrt_micro_sum
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family.  Transcendentals (exp/ln/log10/sin/cos/pow)
    quantize to exact 1e-6 BIGINTs via the parity.dround floor
    identity — libm vs JVM can differ in the last ulp, and the floor
    identity (unlike round()) is plain IEEE arithmetic that stays in
    whole-stage codegen with no per-value BigDecimal.  sqrt/abs are
    exact IEEE; pmod is emulated in the oracle as ((a % b) + b) % b.

    Output follows the audit-summary rule (the fn_try_safe precedent):
    every member is computed for EVERY row, but the op emits n_rows +
    an order-independent bit_xor checksum over the 60-bit md5 of each
    row's (keys + all 14 quantized values) — any single value changing
    anywhere flips the checksum, so the oracle still pins per-row
    per-column behavior exactly, while the bench measures the 600k×14
    transcendental projection (the engine) instead of shipping 16
    columns through Arrow (the driver): 3.4 s → ~0.4 s at sf0.1.  The
    concat uses only BIGINT-rendered terms — double→string formatting
    is engine-specific and never crosses the checksum boundary.

    Spread after the scan (io.spread, r11): the fixture is a
    single-row-group parquet file, so the scan is one task no matter
    the split config — one narrow exchange of 4 input columns buys
    core-count-wide parallel evaluation; at real scale the input
    already has more splits than cores and spread is a no-op (the
    hard-coded repartition(32) this replaces would have SHRUNK it)."""
    li = spread(
        spark,
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_quantity",
            "l_discount",
        ),
    )
    row_hash = F.expr(
        "CAST(conv(substr(md5(concat_ws(':', CAST(l_orderkey AS BIGINT),"
        f" CAST(l_linenumber AS BIGINT), {_math_terms('spark')})), 1, 15),"
        " 16, 10) AS BIGINT)"
    )
    sqrt_q = F.expr(_MATH_Q.format(x="sqrt(l_extendedprice)"))
    return li.select(row_hash.alias("h"), sqrt_q.alias("sq")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.expr("CAST(bit_xor(h) AS BIGINT)").alias("math_checksum"),
        F.sum("sq").cast("bigint").alias("sqrt_micro_sum"),
    )


@op(
    "fn_null",
    oracle="""
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS seg_or_other,
           nullif(c_nationkey, 0) AS nation_or_null,
           isnan(CASE WHEN c_acctbal < 0 THEN 'nan'::DOUBLE ELSE c_acctbal END)
               AS bal_is_nan,
           CASE WHEN isnan(CASE WHEN c_acctbal < 0 THEN 'nan'::DOUBLE
                                ELSE c_acctbal END)
                THEN 0.0
                ELSE CASE WHEN c_acctbal < 0 THEN 'nan'::DOUBLE
                          ELSE c_acctbal END END AS bal_nanvl
    FROM customer
    """,
)
def fn_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL/NaN family: coalesce, nullif, isnan, nanvl.  NaN is
    manufactured portably via CAST('NaN' AS DOUBLE) under a condition
    (fixtures are null-free and NaN-free)."""
    c = load_table(spark, sf_dir, "customer")
    nan_bal = F.when(F.col("c_acctbal") < 0, F.lit("NaN").cast("double")).otherwise(
        F.col("c_acctbal")
    )
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_or_other"
        ),
        F.nullif(F.col("c_nationkey"), F.lit(0)).alias("nation_or_null"),
        F.isnan(nan_bal).alias("bal_is_nan"),
        F.nanvl(nan_bal, F.lit(0.0)).alias("bal_nanvl"),
    )


@op(
    "fn_array",
    oracle="""
    SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           toks[1] AS first_token,
           array_to_string(list_slice(toks, 1, 3), ',') AS head3,
           list_contains(toks, 'the') AS has_the,
           array_to_string(list_sort(list_distinct(toks)), ',') AS vocab,
           CAST(coalesce(list_position(toks, 'data'), 0) AS BIGINT) AS data_pos,
           array_to_string(list_filter(toks, t -> t != 'the'), ',') AS no_the,
           array_to_string(list_slice(toks, 1, 5), '-') AS head_joined,
           array_to_string(list_sort(list_value(toks[1], toks[len(toks)])), ',')
               AS ends_sorted,
           array_to_string(list_transform(generate_series(1, least(len(toks), 5)),
                                          x -> CAST(x AS VARCHAR)), ',') AS tok_idx
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family over tokenized documents.  array_distinct is
    order-sensitive in Spark and unspecified in DuckDB — always sorted
    before output; array_position missing -> 0 in Spark, NULL in DuckDB
    (coalesce pins Spark's semantics).  Every array-typed result is
    array_join'ed to a CSV string before output: the driver
    canonicalizer crashes on ndarray cells (VERDICT r02 class 2), and
    the join preserves element order/content exactly."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    dd = d.select("doc_id", toks.alias("toks"))
    t = F.col("toks")
    return dd.select(
        "doc_id",
        F.size(t).alias("n_tokens"),
        F.element_at(t, 1).alias("first_token"),
        F.array_join(F.slice(t, 1, 3), ",").alias("head3"),
        F.array_contains(t, "the").alias("has_the"),
        F.array_join(F.array_sort(F.array_distinct(t)), ",").alias("vocab"),
        F.array_position(t, "data").alias("data_pos"),
        F.array_join(F.array_remove(t, "the"), ",").alias("no_the"),
        F.array_join(F.slice(t, 1, 5), "-").alias("head_joined"),
        F.array_join(
            F.array_sort(F.array(F.element_at(t, 1), F.element_at(t, -1))), ","
        ).alias("ends_sorted"),
        F.array_join(
            F.transform(
                F.sequence(
                    F.lit(1).cast("long"),
                    F.least(F.size(t), F.lit(5)).cast("long"),
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("tok_idx"),
    )


@op(
    "fn_array_hof",
    oracle="""
    SELECT vec_id,
           round(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS self_dot,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive,
           len(list_filter(embedding, x -> x > 0.5)) > 0 AS any_large,
           len(list_filter(embedding, x -> NOT (x > -1.0))) = 0 AS all_above_neg1,
           round(list_sum(list_transform(embedding,
                 x -> CAST(abs(x) AS DOUBLE))), 4) AS l1_norm
    FROM embeddings
    """,
)
def fn_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions on embeddings; self-dot via zip_with
    + aggregate is the cosine-similarity primitive (vectors are
    unit-norm, so self_dot ≈ 1).  Both engines fold left sequentially
    with double accumulation — deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.round(
            F.expr(
                "aggregate(zip_with(embedding, embedding,"
                " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " 0D, (s, v) -> s + v)"
            ),
            4,
        ).alias("self_dot"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.exists("embedding", lambda x: x > 0.5).alias("any_large"),
        F.forall("embedding", lambda x: x > -1.0).alias("all_above_neg1"),
        F.round(
            F.expr(
                "aggregate(transform(embedding, x -> CAST(abs(x) AS DOUBLE)),"
                " 0D, (s, v) -> s + v)"
            ),
            4,
        ).alias("l1_norm"),
    )


@op(
    "fn_map",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',') AS type_keys,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click_count,
           CAST(count(DISTINCT event_type) AS INTEGER) AS n_types
    FROM events GROUP BY user_id
    """,
)
def fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map family, projected to deterministic shapes: build a per-user
    event_type->count map (map_from_entries over collected structs),
    then output sorted keys / a lookup / size — DuckDB's map support
    is too thin to compare maps directly (SURVEY.md §2.7)."""
    e = load_table(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    mapped = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("type_counts")
    )
    m = F.col("type_counts")
    return mapped.select(
        "user_id",
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("type_keys"),
        F.coalesce(F.element_at(m, "click"), F.lit(0)).alias("click_count"),
        F.size(m).alias("n_types"),
    )


@op(
    "fn_struct",
    oracle="""
    SELECT c_nationkey,
           struct_extract(r, 'lo') AS bal_lo,
           struct_extract(r, 'hi') AS bal_hi,
           round(struct_extract(r, 'hi') - struct_extract(r, 'lo'), 4) AS bal_spread
    FROM (
        SELECT c_nationkey,
               {'lo': min(c_acctbal), 'hi': max(c_acctbal)} AS r
        FROM customer GROUP BY c_nationkey
    )
    """,
)
def fn_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct construction + field access on both engines; the graded
    output is the ACCESSED scalar fields — a struct-typed output column
    would hash as Row vs dict across the two engines' python bindings
    (the struct pack/star-expand round trip is covered in
    fn_struct_shape)."""
    c = load_table(spark, sf_dir, "customer")
    agg = c.groupBy("c_nationkey").agg(
        F.named_struct(
            F.lit("lo"), F.min("c_acctbal"), F.lit("hi"), F.max("c_acctbal")
        ).alias("r")
    )
    return agg.select(
        "c_nationkey",
        F.col("r.lo").alias("bal_lo"),
        F.col("r.hi").alias("bal_hi"),
        F.round(F.col("r.hi") - F.col("r.lo"), 4).alias("bal_spread"),
    )


@op(
    "fn_struct_shape",
    oracle="""
    SELECT c_custkey,
           c_mktsegment AS segment,
           c_acctbal AS balance
    FROM customer
    """,
)
def fn_struct_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct pack + star-expansion round trip: the Spark plan builds a
    struct column and immediately star-expands it back to scalars, so
    the graded output is flat.  Round 2 shipped the raw struct column
    too and the driver canonicalizer crashed on the dict cells
    (VERDICT r02 class 2); dropping it also upgrades this op from
    rows-only to a full hash-checked oracle."""
    c = load_table(spark, sf_dir, "customer")
    nested = c.select(
        "c_custkey",
        F.struct(
            F.col("c_mktsegment").alias("segment"),
            F.col("c_acctbal").alias("balance"),
        ).alias("profile"),
    )
    return nested.select("c_custkey", F.col("profile.*"))


@op(
    "fn_json",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_get,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_parsed,
           json_extract_string(props, '$.missing') AS missing_field
    FROM events
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family on events.props: path extraction (get_json_object)
    and schema-full parsing (from_json) must agree; a missing path is
    NULL on both engines.  to_json excluded (whitespace formatting is
    engine-specific)."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k_get"),
        F.from_json("props", "k INT").getField("k").alias("k_parsed"),
        F.get_json_object("props", "$.missing").alias("missing_field"),
    )


@op(
    "fn_hash",
    oracle="""
    SELECT doc_id,
           md5(text) AS text_md5,
           sha256(text) AS text_sha256,
           md5(concat(lang, ':', source)) AS meta_md5
    FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable cryptographic hashes (content fingerprinting for exact
    dedup).  Spark-specific xxhash64/hash/crc32 live in fn_hash_spark
    (rows-only) — no DuckDB twins."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2("text", 256).alias("text_sha256"),
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("source"))).alias("meta_md5"),
    )


@op("fn_hash_spark")
def fn_hash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-native hash family (xxhash64 is the engine's shuffle/
    bucketing hash — 10× cheaper than md5 for partition-key salting)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.xxhash64("text").alias("text_xxh64"),
        F.hash("text").alias("text_hash32"),
        F.crc32("text").alias("text_crc32"),
    )


@op("fn_nondet")
def fn_nondet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nondeterministic functions — excluded from oracle by nature; the
    output asserts their contracts as booleans (unique ids, rand in
    [0,1)) so the rows-only check still exercises them."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.monotonically_increasing_id().alias("mono_id"),
        F.expr("uuid()").alias("row_uuid"),
        F.rand(seed=42).alias("rnd"),
    )
    return base.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.countDistinct("mono_id") == F.count(F.lit(1))).alias("mono_ids_unique"),
        (F.countDistinct("row_uuid") == F.count(F.lit(1))).alias("uuids_unique"),
        (F.min("rnd") >= 0.0).alias("rand_lo_ok"),
        (F.max("rnd") < 1.0).alias("rand_hi_ok"),
    )


@op(
    "fn_bitwise",
    oracle="""
    SELECT o_orderkey,
           o_orderkey & 255 AS key_and,
           o_orderkey | 4096 AS key_or,
           xor(o_orderkey, 1365) AS key_xor,
           CAST(bit_count(o_orderkey) AS INTEGER) AS key_popcount,
           o_orderkey << 2 AS key_shl,
           o_orderkey >> 3 AS key_shr
    FROM orders
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family: and/or/xor, population count, shifts — the
    primitives the simhash/banding operators build on."""
    o = load_table(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("key_and"),
        k.bitwiseOR(F.lit(4096)).alias("key_or"),
        k.bitwiseXOR(F.lit(1365)).alias("key_xor"),
        F.bit_count(k).alias("key_popcount"),
        F.shiftleft(k, 2).cast("long").alias("key_shl"),
        F.shiftright(k, 3).cast("long").alias("key_shr"),
    )


@op(
    "fn_encode",
    oracle="""
    SELECT doc_id,
           base64(encode(lang)) AS lang_b64,
           hex(lang) AS lang_hex,
           CAST(octet_length(encode(text)) AS INTEGER) AS text_octets,
           base64(encode(source)) AS src_b64,
           source AS src_roundtrip
    FROM documents
    """,
)
def fn_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec family: base64/hex encodings and a
    base64->unbase64 round-trip (the wire formats multimodal payloads
    and checksum manifests travel in).  Verified char-identical between
    engines: Spark base64(binary) == DuckDB base64(encode(..)), both
    emit RFC-4648 with padding; hex uppercase in both."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.base64(F.col("lang").cast("binary")).alias("lang_b64"),
        F.hex(F.col("lang")).alias("lang_hex"),
        F.octet_length("text").alias("text_octets"),
        F.base64(F.col("source").cast("binary")).alias("src_b64"),
        F.decode(
            F.unbase64(F.base64(F.col("source").cast("binary"))), "UTF-8"
        ).alias("src_roundtrip"),
    )


@op(
    "fn_url",
    oracle="""
    SELECT c_custkey,
           'https' AS proto,
           concat(lower(c_mktsegment), '.example.com') AS host,
           concat('/cust/', CAST(c_custkey AS VARCHAR)) AS path,
           concat('nation=', CAST(c_nationkey AS VARCHAR),
                  '&seg=', lower(c_mktsegment)) AS query,
           CAST(c_nationkey AS VARCHAR) AS nation_param,
           replace(c_name, '#', '%23') AS name_encoded,
           c_name AS name_roundtrip
    FROM customer
    """,
)
def fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL function family: parse_url component extraction (PROTOCOL /
    HOST / PATH / QUERY / QUERY:key) plus url_encode/url_decode.

    The URL is CONSTRUCTED from customer columns inside the query, so
    the oracle needs no URL parser — it derives every expected
    component directly from the source columns, and Spark must parse
    back exactly what it built (an inverse-pair test, the same shape
    fn_encode uses for base64).  The encode leg pins Spark's
    url_encode('Customer#...') against the known %23 expansion; the
    decode leg round-trips it.  All string ops, whole-stage codegen,
    trivially scale-safe."""
    c = load_table(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://"),
        F.lower("c_mktsegment"),
        F.lit(".example.com/cust/"),
        F.col("c_custkey").cast("string"),
        F.lit("?nation="),
        F.col("c_nationkey").cast("string"),
        F.lit("&seg="),
        F.lower("c_mktsegment"),
    )
    u = c.select("c_custkey", "c_name", url.alias("url"))
    return u.select(
        "c_custkey",
        F.parse_url("url", F.lit("PROTOCOL")).alias("proto"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("nation")).alias(
            "nation_param"
        ),
        F.url_encode("c_name").alias("name_encoded"),
        F.url_decode(F.url_encode("c_name")).alias("name_roundtrip"),
    )


@op(
    "fn_format",
    oracle="""
    SELECT p_partkey,
           printf('%08d', p_partkey) AS key_padded,
           printf('%s|%d|%s', p_brand, p_size, p_type) AS row_tag,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_lpad,
           rpad(p_brand, 12, '.') AS brand_rpad,
           repeat('*', p_size % 8) AS stars
    FROM part
    """,
)
def fn_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String formatting family: printf-style templating
    (format_string), fixed-width padding (lpad/rpad), repeat — the
    report/export-rendering functions.  printf '%d'/'%s'/zero-pad
    conversions are C-semantics-identical in both engines (no locale
    grouping — deliberately NOT format_number, whose thousands
    separators are locale-dependent).  Pure per-row codegen'd string
    ops."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.format_string("%08d", "p_partkey").alias("key_padded"),
        F.format_string("%s|%d|%s", "p_brand", "p_size", "p_type").alias(
            "row_tag"
        ),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_lpad"),
        F.rpad("p_brand", 12, ".").alias("brand_rpad"),
        F.expr("repeat('*', CAST(p_size % 8 AS INT))").alias("stars"),
    )


@op(
    "fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod,
           CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) IS NULL
                THEN 1 ELSE 0 END AS k_missing
    FROM events
    """,
)
def fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT ingestion (Spark 4's semi-structured type): parse_json
    into a binary-encoded variant, typed extraction via variant_get —
    the schema-on-read lane that replaces string re-parsing per
    access (the variant decodes once; every path access is a cheap
    binary walk, ~10× get_json_object on repeated extraction).  The
    VARIANT itself never reaches the output (driver canon takes
    scalars only) — extraction results are the graded surface; the
    oracle reads the same paths with DuckDB's JSON extraction."""
    e = load_table(spark, sf_dir, "events")
    v = e.select("event_id", F.parse_json("props").alias("vp"))
    return v.select(
        "event_id",
        F.expr("variant_get(vp, '$.k', 'int')").alias("k_int"),
        F.expr("variant_get(vp, '$.k', 'bigint') % 10").alias("k_mod"),
        F.expr(
            "CASE WHEN variant_get(vp, '$.k', 'bigint') IS NULL"
            " THEN 1 ELSE 0 END"
        ).alias("k_missing"),
    )


@op(
    "fn_try_safe",
    oracle="""
    SELECT count(*) AS n_rows,
           count(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                 / nullif(CAST(l_quantity AS BIGINT) - 25, 0))
               AS n_divisible,
           CAST(sum(CAST(floor(
                CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)
                / nullif(CAST(l_quantity AS BIGINT) - 25, 0) + 0.5)
                AS BIGINT)) AS BIGINT) AS sum_ratio_round,
           count(CASE WHEN l_quantity BETWEEN 20 AND 30
                 THEN CAST(l_quantity AS BIGINT) END) AS n_in_band,
           count(TRY_CAST(CASE WHEN l_orderkey % 100 = 0
                               THEN l_returnflag
                               ELSE CAST(l_linenumber AS VARCHAR) END
                          AS BIGINT)) AS n_good_casts
    FROM lineitem
    """,
)
def fn_try_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic family: with ANSI mode ON (this engine's
    default and the production-correct setting), division by zero and
    bad casts are ERRORS — try_divide / try_cast / conditional guards
    are the idioms that keep a 100 TB job from dying on row
    3 billion.  try_divide(a, b) ≡ a / nullif(b, 0) (the oracle's
    portable spelling); TRY_CAST of a non-numeric string is NULL in
    both engines.  The divide result is double in both (BIGINT /
    BIGINT), fed exact integers.  Output is the audit SUMMARY (counts
    + a rounded-ratio checksum), not the 600k-row projection — the
    try_* lane is about per-row error absorption, and the aggregate
    exercises every expression on every row without shipping the rows
    anywhere.  The TRY_CAST input is deliberately ~99% castable: a
    failing try_cast swallows a JVM exception PER ROW (~5 µs each —
    measured 4 s over 600k always-failing rows), so the error path
    must be the exception, not the common case — the same rule that
    governs real dirty-data columns."""
    li = load_table(spark, sf_dir, "lineitem")
    ratio = (
        "try_divide(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT),"
        " CAST(l_quantity AS BIGINT) - 25)"
    )
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.expr(ratio)).alias("n_divisible"),
        F.sum(F.expr(f"CAST(floor({ratio} + 0.5) AS BIGINT)"))
        .cast("bigint")
        .alias("sum_ratio_round"),
        F.count(
            F.expr(
                "CASE WHEN l_quantity BETWEEN 20 AND 30"
                " THEN CAST(l_quantity AS BIGINT) END"
            )
        ).alias("n_in_band"),
        F.count(
            F.expr(
                "TRY_CAST(CASE WHEN l_orderkey % 100 = 0"
                " THEN l_returnflag"
                " ELSE CAST(l_linenumber AS STRING) END AS BIGINT)"
            )
        ).alias("n_good_casts"),
    )


@op(
    "fn_unicode",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               lang,
               CASE lang WHEN 'zh' THEN '电' WHEN 'de' THEN 'ü'
                         WHEN 'fr' THEN 'é' WHEN 'es' THEN 'ñ'
                         ELSE 'e' END
                   || substr(text, 1, 3) AS s
        FROM documents
    )
    SELECT doc_id,
           CAST(length(s) AS BIGINT) AS n_chars,
           CAST(octet_length(encode(s)) AS BIGINT) AS n_bytes,
           CAST(unicode(s) AS BIGINT) AS first_codepoint,
           upper(s) AS upper_s,
           reverse(s) AS reversed_s
    FROM t
    """,
)
def fn_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-correctness family: character length vs UTF-8 byte
    length, first codepoint, case mapping, and reversal over strings
    seeded with multibyte characters (电 ß é ñ by language).  The
    contract this pins: both engines count CHARACTERS (not bytes) in
    length(), reverse() never splits a multibyte sequence, and
    upper() agrees on the 1:1 case mappings (电→电, ü→Ü, é→É, ñ→Ñ).
    Deliberately EXCLUDED: ß — Spark full-maps upper('ß') to 'SS'
    while DuckDB produces the capital sharp s 'ẞ' (found by this
    op's first revision); locale-sensitive case mapping is exactly
    the class of divergence a cross-engine pipeline must fence off.
    A text pipeline that gets any of these wrong silently corrupts
    every non-ASCII corpus it touches."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr(
            "CASE lang WHEN 'zh' THEN '电' WHEN 'de' THEN 'ü'"
            " WHEN 'fr' THEN 'é' WHEN 'es' THEN 'ñ'"
            " ELSE 'e' END || substr(text, 1, 3)"
        ).alias("s"),
    )
    return t.select(
        "doc_id",
        F.length("s").cast("bigint").alias("n_chars"),
        F.octet_length(F.encode("s", "UTF-8")).cast("bigint").alias("n_bytes"),
        F.expr("CAST(ascii(s) AS BIGINT)").alias("first_codepoint"),
        F.upper("s").alias("upper_s"),
        F.reverse("s").alias("reversed_s"),
    )


@op(
    "fn_penny_allocation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey, l_linenumber,
               CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
        FROM lineitem WHERE l_orderkey <= 1000
    ),
    tot AS (
        SELECT l_orderkey,
               CAST(sum(cents) AS BIGINT) AS order_cents,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM li GROUP BY l_orderkey
    ),
    -- allocate a 7.5% rebate pool per order across its lines,
    -- proportional to line value, largest-remainder rounding
    base AS (
        SELECT li.l_orderkey, li.l_linenumber, li.cents,
               CAST(t.order_cents * 75 // 1000 AS BIGINT) AS pool_cents,
               CAST((t.order_cents * 75 // 1000) * li.cents
                    // t.order_cents AS BIGINT) AS floor_share,
               CAST(((t.order_cents * 75 // 1000) * li.cents)
                    % t.order_cents AS BIGINT) AS rem
        FROM li JOIN tot t ON li.l_orderkey = t.l_orderkey
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER (
                   PARTITION BY l_orderkey
                   ORDER BY rem DESC, l_linenumber ASC) AS BIGINT) AS rr,
               CAST(pool_cents - sum(floor_share)
                    OVER (PARTITION BY l_orderkey) AS BIGINT) AS leftover
        FROM base
    )
    SELECT l_orderkey, l_linenumber, cents AS line_cents,
           CAST(floor_share + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS rebate_cents
    FROM ranked
    """,
)
def fn_penny_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder penny allocation — the canonical exact-money
    kernel: distribute a per-order rebate pool (7.5% of order value)
    across the order's lines proportional to line value so the
    allocated cents SUM EXACTLY to the pool (floor shares first, then
    the leftover pennies go to the largest fractional remainders,
    ties broken by line number).  Naive round(share) drifts ±n/2
    cents per order and books money out of thin air; this is how
    billing engines, tax apportionment, and ad-spend attribution
    actually split integers.  Everything is BIGINT (“×75 // 1000” is
    the 7.5% in exact integer form; remainders compare as raw
    modulos, never floats).  One order-keyed window exchange; the
    invariant Σ rebate = pool per order is pytest-asserted.  At
    100 TB: orders are the partition key, per-order state is line
    count — the standard keyed-window shape."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") <= 1000)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr("CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)").alias(
                "cents"
            ),
        )
    )
    wp = Window.partitionBy("l_orderkey")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        "cents",
        F.sum("cents").over(wp).cast("bigint").alias("order_cents"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "cents",
        F.expr("CAST(order_cents * 75 DIV 1000 AS BIGINT)").alias("pool_cents"),
        F.expr(
            "CAST((order_cents * 75 DIV 1000) * cents DIV order_cents AS BIGINT)"
        ).alias("floor_share"),
        F.expr(
            "CAST(((order_cents * 75 DIV 1000) * cents) % order_cents AS BIGINT)"
        ).alias("rem"),
    )
    ranked = base.select(
        "*",
        F.row_number()
        .over(wp.orderBy(F.col("rem").desc(), F.col("l_linenumber").asc()))
        .cast("bigint")
        .alias("rr"),
        (F.col("pool_cents") - F.sum("floor_share").over(wp))
        .cast("bigint")
        .alias("leftover"),
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        F.col("cents").alias("line_cents"),
        F.expr(
            "CAST(floor_share + CASE WHEN rr <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("rebate_cents"),
    )
