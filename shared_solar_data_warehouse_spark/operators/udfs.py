"""UDF surface (SURVEY.md §2.10 ``udf_surface``) — one operator per
Python-extension mechanism, each shaped so a SQL twin can verify it:

  * row-at-a-time Python UDF      — the documented SLOW path (per-row
    serde); kept tiny and off every hot path;
  * pandas_udf scalar             — Arrow-vectorized, the default when
    an expression genuinely needs Python;
  * pandas_udf GROUPED_AGG        — custom aggregates;
  * applyInPandas (grouped map)   — per-group frame transforms
    (SNIPPETS.md [1] normalize precedent);
  * mapInPandas / mapInArrow      — per-partition batch iterators;
  * Python UDTF (Spark 4)         — table functions via LATERAL.

Float caveat: pandas reductions (numpy pairwise summation) don't sum in
DuckDB's order, so float outputs round to 4 — the discrepancy is ~1e-13
relative, far inside the rounding step.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from shared_solar_data_warehouse_spark.parity import DEC
from shared_solar_data_warehouse_spark.registry import op
from shared_solar_data_warehouse_spark.sources.io import load_table


@op(
    "udf_python_rowwise",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens_udf
    FROM documents
    """,
)
def udf_python_rowwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-at-a-time Python UDF (pickled row round-trip per value —
    10-100× slower than pandas_udf; exists to prove the surface, never
    used in hot paths)."""
    count_tokens = F.udf(lambda s: len(s.split(" ")), "int")
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", count_tokens("text").alias("n_tokens_udf"))


@op(
    "udf_pandas_scalar",
    oracle="""
    SELECT event_id,
           round(least(value, 100.0) * 0.85, 4) AS value_capped_usd
    FROM events
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf (whole column batches cross
    the Python boundary once per Arrow batch)."""

    @pandas_udf("double")
    def capped_usd(v: pd.Series) -> pd.Series:
        return (v.clip(upper=100.0) * 0.85).round(4)

    e = load_table(spark, sf_dir, "events")
    return e.select("event_id", capped_usd("value").alias("value_capped_usd"))


@op(
    "udf_pandas_grouped_agg",
    oracle="""
    SELECT user_id,
           floor(CAST(sum(CAST(value AS DECIMAL(25,8))) AS DOUBLE)
                 / count(*) * 10000.0 + 0.5) / 10000.0 AS mean_value,
           round(max(value) - min(value), 4) AS value_span
    FROM events GROUP BY user_id
    """,
)
def udf_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas_udf: custom Python aggregates fed one group
    at a time as pandas Series.  The mean sums ``value`` cast to
    ``parity.DEC`` exactly, as the oracle does, then divides as a double
    and rounds with parity.davg's floor rule.  The span uses the same
    floor rule, which for a non-negative value equals DuckDB's
    round(x, 4) (std::round of x*1e4); Python's round() is half-even on
    the exact binary value and differs at ties."""
    import decimal
    import math

    @pandas_udf("double")
    def mean4(v: pd.Series) -> float:
        with decimal.localcontext() as ctx:
            ctx.prec = 38  # DECIMAL(38,8) sum headroom: no digit is lost
            total = sum(v, decimal.Decimal(0))
        return math.floor(float(total) / len(v) * 10000.0 + 0.5) / 10000.0

    @pandas_udf("double")
    def span4(v: pd.Series) -> float:
        return math.floor(float(v.max() - v.min()) * 10000.0 + 0.5) / 10000.0

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        mean4(F.col("value").cast(DEC)).alias("mean_value"),
        span4("value").alias("value_span"),
    )


@op(
    "udf_apply_in_pandas",
    oracle="""
    SELECT event_id,
           round((value - avg(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 4) AS znorm
    FROM events
    """,
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas: per-user z-normalization, the
    SNIPPETS.md [1] normalize pattern (whole group in, whole frame
    out)."""

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"]
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "znorm": ((v - v.mean()) / v.std(ddof=1)).round(4),
            }
        )

    e = load_table(spark, sf_dir, "events").select("user_id", "event_id", "value")
    # Explicit hash-repartition by the grouping key: the shuffle bytes
    # here are tiny, so AQE's coalescing would fuse the grouped-map
    # stage down to ONE task and serialize all the per-group Python
    # work.  A user-specified repartition is exempt from AQE coalescing
    # and already satisfies the grouped-map's ClusteredDistribution, so
    # groupBy adds no second exchange.  (Python-UDF stages are CPU-
    # bound, not bytes-bound — partition for cores, not for data size.)
    e = e.repartition(32, "user_id")
    return e.groupBy("user_id").applyInPandas(normalize, "event_id long, znorm double")


@op(
    "udf_map_in_pandas",
    oracle="""
    SELECT event_id, user_id, round(value * 0.85, 4) AS usd
    FROM events WHERE event_type = 'purchase'
    """,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: per-partition batch iterator (the custom-operator
    escape hatch — filter + derive here, block matmul in
    similarity.sim_knn_block_matmul)."""

    def to_usd(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hit = pdf[pdf["event_type"] == "purchase"]
            if hit.empty:
                continue
            yield pd.DataFrame(
                {
                    "event_id": hit["event_id"],
                    "user_id": hit["user_id"],
                    "usd": (hit["value"] * 0.85).round(4),
                }
            )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    return e.mapInPandas(to_usd, "event_id long, user_id long, usd double")


@op(
    "udf_map_in_arrow",
    oracle="""
    SELECT event_id, CAST(length(event_type) AS INTEGER) AS type_len
    FROM events
    """,
)
def udf_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow: raw Arrow RecordBatch iterator — zero pandas
    conversion overhead, for operators that speak Arrow natively."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def type_len(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column(0),
                    pc.cast(
                        pc.utf8_length(batch.column(1)), pa.int32()
                    ),
                ],
                names=["event_id", "type_len"],
            )

    e = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    return e.mapInArrow(type_len, "event_id long, type_len int")


@op(
    "udf_udtf",
    oracle="""
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS token,
           CAST(generate_subscripts(string_split(text, ' '), 1) AS INTEGER) AS pos
    FROM documents WHERE doc_id < 50
    """,
)
def udf_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4): one input row -> many output rows via
    LATERAL join — the tokenizer-as-table-function demo."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, pos int")
    class SplitTokens:
        def eval(self, text: str):  # noqa: ANN001
            for i, tok in enumerate(text.split(" "), start=1):
                yield tok, i

    spark.udtf.register("split_tokens", SplitTokens)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("udtf_docs")
    return spark.sql(
        """
        SELECT doc_id, t.token, t.pos
        FROM udtf_docs, LATERAL split_tokens(text) t
        """
    )


@op(
    "udf_arrow_scalar",
    oracle="""
    SELECT doc_id,
           CAST(length(text) - length(replace(text, ' ', '')) + 1
                AS INTEGER) AS n_tokens_arrow,
           upper(substr(source, 1, 3)) AS src_tag
    FROM documents
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`F.udf(..., useArrow=True)`, Spark
    3.5+/4.x) — the third lane of the scalar-UDF surface: row-wise
    Python *semantics* with Arrow-batch *transport*, closing most of
    the gap to pandas_udf without requiring vectorized code.  The
    functions here are deliberately SQL-expressible so the oracle
    can verify the lane end-to-end."""
    n_tokens = F.udf(lambda s: s.count(" ") + 1, "int", useArrow=True)
    tag = F.udf(lambda s: s[:3].upper(), "string", useArrow=True)
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        n_tokens("text").alias("n_tokens_arrow"),
        tag("source").alias("src_tag"),
    )


@op(
    "udf_apply_in_arrow",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(sum(CAST(floor(value * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_micro
    FROM events GROUP BY user_id
    """,
)
def udf_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow (Spark 4): grouped-map over raw Arrow tables — the
    Arrow-native sibling of applyInPandas, skipping the pandas
    conversion entirely (matters when groups are large and the logic
    is columnar).  Each group arrives as ONE pyarrow.Table; the demo
    computes a per-user reduction whose integer quantization keeps
    the SQL twin exact.  Plan: one exchange on the grouping key, then
    FlatMapGroupsInArrow per partition — the same 100 TB shape as
    every grouped-map (state bounded by the largest single group)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def per_user(table: pa.Table) -> pa.Table:
        q = pc.cast(
            pc.floor(pc.add(pc.multiply(table.column("value"), 1e6), 0.5)),
            pa.int64(),
        )
        return pa.table(
            {
                "user_id": [table.column("user_id")[0].as_py()],
                "n_events": [table.num_rows],
                "total_micro": [pc.sum(q).as_py()],
            }
        )

    e = load_table(spark, sf_dir, "events").select("user_id", "value")
    return e.groupBy("user_id").applyInArrow(
        per_user, "user_id long, n_events long, total_micro long"
    )


@op(
    "udf_pandas_iter",
    oracle="""
    SELECT doc_id,
           CAST(n_chars * 3 + length(lang) AS BIGINT) AS derived_cost
    FROM documents
    """,
)
def udf_pandas_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterator-form pandas_udf (Iterator[Series] -> Iterator[Series])
    — the lane for per-partition state amortization: expensive setup
    (a model handle, a tokenizer, a compiled regex table) happens
    ONCE per partition, then streams over every Arrow batch, instead
    of re-initializing per batch like the plain scalar form.  The
    demo's \"model\" is a trivial cost table; the contract — setup
    outside the loop, yield per batch — is the 100 TB inference
    shape (this is exactly how batch LLM-scoring UDFs are
    written)."""
    from pyspark.sql.functions import pandas_udf as _pandas_udf

    @_pandas_udf("long")
    def derived_cost(
        batches: Iterator[tuple[pd.Series, pd.Series]]
    ) -> Iterator[pd.Series]:
        weights = {"chars": 3}  # per-partition one-time setup
        for n_chars, lang in batches:
            yield n_chars * weights["chars"] + lang.str.len()

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", derived_cost("n_chars", "lang").alias("derived_cost")
    )
