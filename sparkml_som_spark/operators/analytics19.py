"""Analytics operators, round 5 sixteenth wave: the remaining SQL
front-end surfaces — parameterized SQL (named arguments) and SQL
scripting (BEGIN/DECLARE/SET multi-statement blocks).

Both run the SAME declarative plans as their DataFrame twins —
parameter binding and scripting are front-end features, so Catalyst
sees the usual filters/joins/aggregates and every pushdown applies;
the entries exist to pin the API semantics (typed parameter
substitution, script-variable evaluation order) under the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sparkml_som_spark.operators.registry import register, session_conf
from sparkml_som_spark.sources import load_table

_PARAM_MIN_SIZE = 30
_PARAM_TYPE_PREFIX = "STANDARD"


@register(
    "param_sql_part_stats",
    sql=f"""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT)       AS n_parts,
           ROUND(AVG(p_retailprice), 4)   AS avg_price
    FROM part
    WHERE p_size >= {_PARAM_MIN_SIZE} AND p_type LIKE '{_PARAM_TYPE_PREFIX}%'
    GROUP BY p_brand
    """,
    desc="parameterized SQL front end: named :params bound server-side (no string splicing); plan identical to the literal form",
)
def param_sql_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parameterized-SQL surface (`spark.sql(query, args=...)`):
    named parameters bind as TYPED literals — the injection-safe way a
    service layer templates analyst queries.  Catalyst folds the bound
    values into the plan exactly like hand-written literals, so the
    p_size filter still pushes down to the scan.
    """
    part = load_table(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT p_brand,
               COUNT(*)                     AS n_parts,
               ROUND(AVG(p_retailprice), 4) AS avg_price
        FROM {part}
        WHERE p_size >= :min_size AND p_type LIKE :type_pat
        GROUP BY p_brand
        """,
        args={"min_size": _PARAM_MIN_SIZE, "type_pat": _PARAM_TYPE_PREFIX + "%"},
        part=part,
    )


@register(
    "sql_script_price_band_report",
    sql="""
    WITH stats AS (
        SELECT AVG(o_totalprice) AS avg_price FROM orders
    )
    SELECT CASE WHEN o_totalprice >= 2 * stats.avg_price THEN 'high'
                WHEN o_totalprice >= stats.avg_price      THEN 'above'
                ELSE 'below' END AS band,
           CAST(COUNT(*) AS BIGINT)        AS n_orders,
           ROUND(SUM(o_totalprice), 4)     AS band_value
    FROM orders, stats
    GROUP BY band
    """,
    desc="SQL scripting front end: BEGIN/DECLARE/SET block computes a data-derived threshold, then the report uses it",
)
def sql_script_price_band_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-scripting surface (Spark 4 BEGIN ... END blocks):
    DECLARE a session variable, SET it from a query (the corpus's
    average order price), and use it in the final statement — the
    multi-step analyst workflow expressed as one script instead of a
    driver-side fetch-then-format round trip.

    The script's statements compile to the same plans the CTE form
    produces (the oracle IS that form); the variable is a scalar bound
    on the driver, so no correlated re-execution happens per row.
    """
    with session_conf(spark, "spark.sql.scripting.enabled", "true"):
        orders = load_table(spark, sf_dir, "orders")
        orders.createOrReplaceTempView("sgs_script_orders")
        return spark.sql(
            """
            BEGIN
              DECLARE avg_price DOUBLE;
              SET avg_price = (SELECT AVG(o_totalprice) FROM sgs_script_orders);
              SELECT CASE WHEN o_totalprice >= 2 * avg_price THEN 'high'
                          WHEN o_totalprice >= avg_price      THEN 'above'
                          ELSE 'below' END AS band,
                     COUNT(*)                    AS n_orders,
                     ROUND(SUM(o_totalprice), 4) AS band_value
              FROM sgs_script_orders
              GROUP BY band;
            END
            """
        )


@register(
    "sql_group_by_all",
    sql="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT)    AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS total_value
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
    desc="GROUP BY ALL / ORDER BY ALL SQL front end: non-aggregate columns inferred by the analyzer, identical semantics in both engines",
)
def sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analyst-ergonomics front end Spark 4 and DuckDB both ship:
    `GROUP BY ALL` infers the grouping set from the non-aggregate
    select items and `ORDER BY ALL` orders by every output column
    left-to-right — the SAME SQL string runs verbatim on both engines,
    so the entry pins that the two analyzers infer the SAME grouping
    (a divergence in inference, not just in data, breaks the hash).
    Compiles to the ordinary hash-aggregate + sort; nothing new at
    scale, which is the point: sugar must not change the plan."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("sgs_gba_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               CAST(COUNT(*) AS BIGINT)    AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS total_value
        FROM sgs_gba_orders
        GROUP BY ALL
        ORDER BY ALL
        """
    )
