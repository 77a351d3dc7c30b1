"""Grouped-map / UDTF surfaces (SURVEY.md §2(k) completeness).

applyInPandas = per-conversation batch ops (the analog of the reference's
per-record multi-field rules when a rule needs the WHOLE conversation in
one frame); UDTF = one-row->many-rows expansion where array+explode would
obscure the logic. Both kept off the hot path — the core pipeline uses
mapInPandas + explode, which are cheaper.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .qreg import register

CONV_STATS = StructType(
    [
        StructField("conv_id", StringType(), False),
        StructField("n_turns", IntegerType(), False),
        StructField("n_tool_calls", IntegerType(), False),
        StructField("mean_gap_s", DoubleType(), True),
        StructField("first_role", StringType(), False),
    ]
)


def conv_stats(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("turn_idx")
    gaps = pdf["ts"].diff().dt.total_seconds().dropna()
    return pd.DataFrame(
        {
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_turns": [len(pdf)],
            "n_tool_calls": [int((pdf["role"] == "tool").sum())],
            "mean_gap_s": [float(gaps.mean()) if len(gaps) else None],
            "first_role": [pdf["role"].iloc[0]],
        }
    )


def _conv_stats_sql() -> str:
    from .kgqueries import CORPUS_DIR

    # mean_gap_s: the mean of consecutive ts gaps in turn_idx order
    # telescopes to (last - first) / (n - 1); on this corpus every gap is a
    # whole number of seconds, so the float arithmetic is exact in both
    # engines and the hash compare holds bit-level
    return f"""
SELECT conv_id,
       CAST(COUNT(*) AS INTEGER) AS n_turns,
       CAST(SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS INTEGER)
         AS n_tool_calls,
       CASE WHEN COUNT(*) > 1 THEN
         ((epoch_us(ARG_MAX(ts, turn_idx)) - epoch_us(ARG_MIN(ts, turn_idx)))
          / 1000000.0) / (COUNT(*) - 1) END AS mean_gap_s,
       ARG_MIN(role, turn_idx) AS first_role
FROM read_parquet('{CORPUS_DIR}/transcripts.parquet')
GROUP BY conv_id
"""


@register("conv_stats_applyinpandas", sql=_conv_stats_sql())
def conv_stats_applyinpandas(spark, sf):
    """Per-conversation grouped-map stats: one pandas frame per conv_id.
    The groupBy ships each conversation to one worker — bounded by the
    longest conversation (Zipf-skewed by design; AQE skew handling applies
    to the shuffle feeding it)."""
    from .kgqueries import corpus_dfs

    t = corpus_dfs(spark, sf)["transcripts"]
    return t.groupBy("conv_id").applyInPandas(conv_stats, CONV_STATS)


_UDTF_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN TRIM(text) = '' THEN []
              ELSE STRING_SPLIT_REGEX(TRIM(text), '\\s+') END AS wds
  FROM documents)
SELECT doc_id, CAST(i AS INTEGER) AS sent_idx,
       CAST(LEAST(10, LEN(wds) - i * 10) AS INTEGER) AS n_words
FROM (SELECT doc_id, wds,
             UNNEST(GENERATE_SERIES(0, CAST(CEIL(LEN(wds) / 10.0) AS INTEGER) - 1)) AS i
      FROM d)
"""


@register("udtf_sentence_expand", sql=_UDTF_SQL)
def udtf_sentence_expand(spark, sf):
    """Python UDTF surface: one document row -> one row per ~10-word
    pseudo-sentence. (Registered via spark.udtf; Spark 4 runs these
    Arrow-optimized.)"""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, n_words int")
    class SentenceSplit:
        def eval(self, text: str):
            words = text.split()
            for i in range(0, len(words), 10):
                yield i // 10, len(words[i : i + 10])

    spark.udtf.register("sentence_split", SentenceSplit)
    from .qreg import load

    load(spark, sf, "documents").createOrReplaceTempView("docs_udtf_in")
    return spark.sql(
        """SELECT d.doc_id, s.sent_idx, s.n_words
           FROM docs_udtf_in d, LATERAL sentence_split(d.text) s"""
    )


_TRIMMED_SQL = """
SELECT priority, ROUND(AVG(o_totalprice), 4) AS trimmed_mean_price FROM (
  SELECT o.o_orderpriority AS priority, o.o_totalprice,
         quantile_cont(o_totalprice, 0.05) OVER (PARTITION BY o_orderpriority) AS lo,
         quantile_cont(o_totalprice, 0.95) OVER (PARTITION BY o_orderpriority) AS hi
  FROM orders o)
WHERE o_totalprice >= lo AND o_totalprice <= hi
GROUP BY priority
"""


@register("grouped_agg_pandas_udf", sql=_TRIMMED_SQL)
def grouped_agg_pandas_udf(spark, sf):
    """Grouped-aggregate pandas UDF (UDAF surface): trimmed mean of order
    totals per priority — a stat built-ins don't offer directly. The
    series is sorted before summation so the result is independent of the
    arrival order of partitions (grouped-agg UDFs see rows in shuffle
    order); pandas' linear quantile interpolation matches DuckDB's
    quantile_cont, verified exact on this data."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def trimmed_mean(v: pd.Series) -> float:
        v = v.sort_values()
        lo, hi = v.quantile(0.05), v.quantile(0.95)
        inner = v[(v >= lo) & (v <= hi)]
        return float(inner.mean()) if len(inner) else float(v.mean())

    from .qreg import load

    return (
        load(spark, sf, "orders")
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.round(trimmed_mean("o_totalprice"), 4).alias("trimmed_mean_price"))
    )
