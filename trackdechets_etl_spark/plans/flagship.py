"""Flagship query (SURVEY §7.1): revenue by nation.

``lineitem ⨝ orders ⨝ customer ⨝ nation``, date-range filter,
``sum(l_extendedprice * (1 - l_discount))`` grouped by nation name. Same
scan→join→enrich→aggregate shape as the reference's siretisation +
``make_stats`` chain (reference ``dags/icpe-siretisation.py:305-357``).

The revenue sum runs in ``DECIMAL(15,2)`` cents arithmetic, rounded to
2 places and cast back to ``double``: a double sum depends on the order
the engine adds in, so Spark and DuckDB could round it to different
cents. Decimal addition is exact, so every order gives the same total.

Scale notes:
- ``nation`` (25 rows) is broadcast explicitly; ``customer`` is left to
  AQE, which converts it to broadcast when its post-filter size is under
  the threshold — on a 100 TB run customer may NOT fit, and the
  shuffle-hash join AQE picks is the right fallback.
- The date predicate is on ``o_orderdate``, pushed into the orders
  parquet scan (``PushedFilters`` visible in explain); lineitem is
  pruned to 4 columns by Catalyst column pruning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trackdechets_etl_spark.io.readers import read_table

DATE_LO = "1996-01-01"
DATE_HI = "1998-01-01"


def _cents(col: str):
    return F.col(col).cast("decimal(15,2)")


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= DATE_LO) & (F.col("o_orderdate") < DATE_HI)
    )
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")

    return (
        lineitem.select("l_orderkey", "l_extendedprice", "l_discount")
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(_cents("l_extendedprice") * (1 - _cents("l_discount"))), 2)
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


REVENUE_BY_NATION_SQL = f"""
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                      * (1 - CAST(l_discount AS DECIMAL(15,2)))), 2) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '{DATE_LO}' AND o_orderdate < DATE '{DATE_HI}'
GROUP BY n_name
"""
