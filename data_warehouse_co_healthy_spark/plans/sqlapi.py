"""SQL-text API surface: the same engine driven through ``spark.sql``.

The reference is DataFrame-API only (every site in SURVEY §2 builds
plans with method chains); a Spark-native engine also exposes the full
ANSI-SQL text surface over the same tables. Two proofs:

- ``sql_api_revenue``: a join+agg written as SQL text over
  temp views of ``catalog.load_table`` frames — Catalyst plans it identically
  to the DataFrame build (same broadcast + partial-agg plan).
- ``sql_udf_token_count``: a VECTORIZED (Arrow) pandas UDF registered
  with ``spark.udf.register`` and called from SQL text — the supported
  path for custom scalar logic in the SQL surface; still
  oracle-checked because the UDF's semantics are reproduced in SQL.

Scale posture: identical to the DataFrame twins — SQL text changes
nothing about the physical plan.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table


def sql_api_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by customer nation, written as SQL text (q5's little
    sibling) — proves view registration + the ANSI SQL surface."""
    for t in ("lineitem", "orders", "customer", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(
        """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


def sql_udf_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDF registered into the SQL function namespace and called
    from SQL text; aggregates its output per source. The UDF is built
    inside the call (pandas_udf type parsing needs a live session)."""

    @pandas_udf("long")
    def ws_token_count(texts: pd.Series) -> pd.Series:
        # Arrow-vectorized: one pandas call per batch, never per row.
        return texts.str.split().str.len().astype("int64")

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    spark.udf.register("ws_token_count", ws_token_count)
    return spark.sql(
        """
        SELECT source,
               sum(ws_token_count(text)) AS total_tokens,
               count(*) AS n_docs
        FROM documents
        GROUP BY source
        """
    )


def sql_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) called via LATERAL from SQL
    text: fixed-size token-window chunking of documents — the
    user-extensible one-row-to-many-rows path of the SQL surface (the
    in-plan DataFrame twin is llm/text.py chunk_documents).

    Scale note: a Python UDTF is the row-at-a-time slow path; it's here
    for API completeness on a 1-in-10 document sample. The hot-path
    chunker stays the pure-builtin slice/explode version."""
    from pyspark.sql.functions import udtf  # noqa: PLC0415

    @udtf(returnType="chunk_id int, chunk string")
    class ChunkTokens:
        def eval(self, text: str):
            if text is None:
                return
            toks = text.split(" ")
            for i in range(0, len(toks), 20):
                yield i // 20, " ".join(toks[i : i + 20])

    spark.udtf.register("chunk_tokens", ChunkTokens)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents"
    )
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_id, c.chunk
        FROM documents d, LATERAL chunk_tokens(d.text) c
        WHERE d.doc_id % 10 = 0
        """
    )


def sql_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured event properties through the VARIANT type
    (Spark 4): ``try_parse_json`` once, typed ``variant_get``
    extraction — the schema-on-read path for ragged JSON at scale
    (binary-encoded variant beats per-query string re-parsing of
    get_json_object). try_: a malformed/empty props payload groups
    under NULL instead of failing the scan — at 100 TB some producer
    ALWAYS emits a bad record (plain parse_json is FAILFAST)."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT variant_get(try_parse_json(props), '$.k', 'int') AS k,
               count(*) AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY 1
        """
    )


def sql_api_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-2 gap-fill semantics expressed ENTIRELY as SQL text
    over registered views — proves the ANSI surface covers the advanced
    constructs too (sequence generation via explode, LOCF via
    ignore-nulls last_value window). Same SEMANTICS and oracle as the
    DataFrame build in operators/temporal.py:gapfill_forward — the
    DataFrame twin additionally caches the shared daily aggregate
    (SQL text can't express persist), so the SQL plan scans events
    once per consumer where the DataFrame plan scans once total."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        WITH daily AS (
            SELECT user_id, to_date(ts) AS day,
                   CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4)
                        AS DOUBLE) AS day_value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, to_date(ts)
        ),
        grid AS (
            SELECT user_id,
                   explode(sequence(min(day), max(day))) AS day
            FROM daily GROUP BY user_id
        )
        SELECT g.user_id,
               date_format(g.day, 'yyyy-MM-dd') AS day,
               d.day_value IS NOT NULL AS observed,
               last_value(d.day_value, true) OVER (
                   PARTITION BY g.user_id ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS filled_value
        FROM grid g
        LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
        """
    )


# Shared verbatim by the Spark plan and the DuckDB oracle — both
# engines implement ANSI recursive CTEs with identical semantics, so
# one SQL text IS the cross-engine contract.
REC_HIERARCHY_SQL = """
WITH RECURSIVE h (p_partkey, root, depth, p_retailprice) AS (
    SELECT p_partkey, p_partkey, 0, p_retailprice
    FROM part WHERE p_partkey BETWEEN 1 AND 9
    UNION ALL
    SELECT p.p_partkey, h.root, h.depth + 1, p.p_retailprice
    FROM part p
    JOIN h ON CAST(FLOOR(p.p_partkey / 10.0) AS BIGINT) = h.p_partkey
    WHERE p.p_partkey >= 10
)
SELECT root,
       count(*) AS n_nodes,
       max(depth) AS max_depth,
       CAST(round(sum(CAST(p_retailprice AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS subtree_price
FROM h
GROUP BY root
"""


def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 ``WITH RECURSIVE`` / UnionLoop) walking a
    parent-child hierarchy — the BOM/org-chart query shape no single
    self-join can express. The part table is given a synthetic decimal
    hierarchy (parent = partkey / 10) and each root's subtree is
    aggregated: node count, max depth, exact-decimal subtree price.

    Scale posture: iterations are bounded by tree DEPTH (log10 of the
    max key — 7 levels at 100 TB part counts, never data-sized), and
    each level is one hash join of the current frontier against the
    parts scan; the per-level frontier is the level's fan-out, so the
    recursion's total work equals one full-table walk. Catalyst plans
    the loop body with the same partial-agg + pushdown it gives any
    static join."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(REC_HIERARCHY_SQL)


LATERAL_TOPK_SQL = """
SELECT n.n_name, t.c_name, t.c_acctbal
FROM nation n,
LATERAL (
    SELECT c_name, c_acctbal FROM customer c
    WHERE c.c_nationkey = n.n_nationkey
    ORDER BY c_acctbal DESC, c_name
    LIMIT 3
) t
"""


def sql_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT — "top 3
    customers per nation" written the declarative way. Catalyst
    DECORRELATES it: the physical plan is a ``WindowGroupLimit``
    (partial top-k per map task, final per nation) feeding one
    broadcast join with the 25-row dim — no nested loop, no
    per-outer-row re-execution, identical shape to the hand-built
    ``window_topk_per_group``. Verified in PLANS.md; the SQL text is
    shared verbatim with the DuckDB oracle.

    Scale posture: map-side partial group-limits mean each task emits
    ≤ k rows per nation before the single nation-key exchange."""
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    return spark.sql(LATERAL_TOPK_SQL)


# Shared verbatim with the DuckDB oracle (both engines implement the
# GROUP BY ALL sugar with identical semantics: every non-aggregate
# select item becomes a grouping key)
GROUPBY_ALL_SQL = """
SELECT o_orderstatus,
       o_orderpriority,
       count(*) AS n_orders,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2)
            AS DOUBLE) AS revenue
FROM orders
GROUP BY ALL
"""


def sql_groupby_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``GROUP BY ALL`` — the analyst-ergonomics sugar (every
    non-aggregate select item groups implicitly) that Spark 4 and
    DuckDB both resolve identically, proven by running the same SQL
    text on both engines. Plans exactly like the explicit GROUP BY:
    one partial-aggregated hash aggregate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(GROUPBY_ALL_SQL)


def sql_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL ``UNPIVOT`` clause (Spark 3.4+) — wide→long reshaping in
    the text surface, complementing the DataFrame ``unpivot_measures``:
    per-nation customer-count and exact-decimal balance metrics unpivot
    to (nation, metric, value) rows. Planned as one Expand over the
    aggregated 25-row frame — the reshape never touches row-grain data.
    DuckDB spells the same reshape ``UNPIVOT ... ON ... INTO``, so the
    oracle uses its dialect (same semantics, hash-identical rows)."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cust.createOrReplaceTempView("customer")
    nation.createOrReplaceTempView("nation")
    return spark.sql(
        """
        WITH wide AS (
            SELECT n_name,
                   CAST(count(*) AS DOUBLE) AS n_customers,
                   CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)
                        AS DOUBLE) AS total_balance
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        )
        SELECT * FROM wide
        UNPIVOT (value FOR metric IN (n_customers, total_balance))
        """
    )


QUERIES = {
    "sql_groupby_all": sql_groupby_all,
    "sql_unpivot": sql_unpivot,
    "sql_api_gapfill": sql_api_gapfill,
    "sql_api_revenue": sql_api_revenue,
    "sql_lateral_topk": sql_lateral_topk,
    "sql_recursive_hierarchy": sql_recursive_hierarchy,
    "sql_udf_token_count": sql_udf_token_count,
    "sql_udtf_chunks": sql_udtf_chunks,
    "sql_variant_props": sql_variant_props,
}

ORACLES = {
    "sql_api_revenue": """
        SELECT n_name,
               CAST(round(sum(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS revenue,
               count(*)::BIGINT AS n_items
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
    "sql_udf_token_count": """
        SELECT source,
               sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                   AS total_tokens,
               count(*)::BIGINT AS n_docs
        FROM documents
        GROUP BY source
    """,
    "sql_udtf_chunks": """
        WITH t AS (
          SELECT doc_id, string_split(text, ' ') AS ws
          FROM documents WHERE doc_id % 10 = 0
        ), c AS (
          SELECT doc_id,
                 list_transform(
                   generate_series(0,
                     CAST(ceil(len(ws) / 20.0) AS INT) - 1),
                   i -> array_to_string(
                          list_slice(ws, 20 * i + 1, 20 * i + 20), ' ')
                 ) AS chunks
          FROM t
        )
        SELECT doc_id,
               CAST(generate_subscripts(chunks, 1) - 1 AS INT) AS chunk_id,
               unnest(chunks) AS chunk
        FROM c
    """,
    "sql_variant_props": """
        SELECT CAST(json_extract(props, '$.k') AS INT) AS k,
               count(*)::BIGINT AS n_events,
               CAST(round(sum(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
                   AS total_value
        FROM events
        GROUP BY k
    """,
}

ORACLES["sql_groupby_all"] = GROUPBY_ALL_SQL
ORACLES["sql_unpivot"] = """
    WITH wide AS (
        SELECT n_name,
               CAST(count(*) AS DOUBLE) AS n_customers,
               CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS total_balance
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    )
    UNPIVOT wide ON n_customers, total_balance
    INTO NAME metric VALUE value
"""
ORACLES["sql_recursive_hierarchy"] = REC_HIERARCHY_SQL
ORACLES["sql_lateral_topk"] = LATERAL_TOPK_SQL

NO_ORACLE: dict[str, str] = {}

from ..operators import temporal as _temporal  # noqa: E402 (oracle reuse)

ORACLES["sql_api_gapfill"] = _temporal.ORACLES["gapfill_forward"]
