"""Tier-C13 UDF-surface queries with DuckDB oracles.

Each query routes through a Python extension point (scalar pandas_udf,
grouped-agg pandas_udf, applyInPandas) while the oracle recomputes the
same semantics in SQL — proving the UDF path gives built-in-equivalent
answers. Float tolerance: numpy uses pairwise summation vs SQL's
sequential sums; the round4 epsilon absorbs the ulp gap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import round4
from ..operators import udfs as U
from ..registry import query
from ..tables import load_table


@query(
    "udf_vector_norms",
    oracle="""
    SELECT vec_id,
           (FLOOR(sqrt(list_reduce(
              list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (acc, x) -> acc + x)) * 10000.0 + 0.5 + 0.000001) / 10000.0)
             AS l2_norm
    FROM embeddings
    """,
    description="C13 scalar pandas_udf: L2 norms over the embedding "
    "column (float64 squares summed in the oracle's left-to-right order).",
)
def udf_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id", round4(U.l2_norm_udf(F.col("embedding"))).alias("l2_norm")
    )


@query(
    "udf_grouped_median",
    oracle="""
    SELECT event_type,
           (FLOOR(median(value) * 10000.0 + 0.5 + 0.000001) / 10000.0)
             AS median_value
    FROM events
    WHERE value IS NOT NULL
    GROUP BY event_type
    """,
    description="C13 grouped-agg pandas_udf: exact per-group median "
    "(PERCENTILE_CONT 0.5 semantics).",
)
def udf_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        round4(U.median_udf(F.col("value"))).alias("median_value")
    )


@query(
    "udf_grouped_zscore",
    oracle="""
    SELECT event_type, event_id, value,
           (FLOOR(((value - AVG(value) OVER w) / STDDEV_SAMP(value) OVER w)
                  * 10000.0 + 0.5 + 0.000001) / 10000.0) AS zscore
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
    description="C13 applyInPandas: within-group z-score normalization — "
    "the full-group custom transform path; oracle recomputes via window "
    "aggregates.",
)
def udf_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", "value"
    )
    out = U.grouped_zscore(ev, "event_type", "value")
    return out.select(
        "event_type", "event_id", "value", round4(F.col("zscore")).alias("zscore")
    )


@query(
    "udf_token_stats_arrow",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
             AS n_unique
    FROM documents
    ORDER BY doc_id
    """,
    description="C13 mapInPandas: per-doc token counts via a batch-"
    "iterator Arrow transform (the bulk-Python shape for tokenizers/"
    "parsers — memory bounded by batch size, not partition size); "
    "oracle recomputes with SQL split, proving the Python path is "
    "built-in-equivalent.",
)
def udf_token_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return U.doc_token_stats_arrow(docs, "text", "doc_id").orderBy("doc_id")
