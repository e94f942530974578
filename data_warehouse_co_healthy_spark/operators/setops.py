"""Set operations / dedup (SURVEY §2.7, U1-U4 + intersect/except).

Reference sites: unionByName (dimension.py:37-39, contributors ∪
beneficiaries), positional union ×3 after manual schema alignment
(service_process.py:123-135), dropDuplicates on every dimension
(dimension.py:20,28,41,50,58,73,133,140,146,154), distinct
(dimension.py:139-140). intersect/except absent in reference, free here.

Scale posture: dropDuplicates/distinct are hash aggregates (partial
dedup map-side before the shuffle); unions are zero-shuffle plan
concatenations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.numeric import nz


def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName after renaming both id columns to a shared key —
    mirrors dim_usuario = contributors ∪ beneficiaries (reference
    dimension.py:31-41). Columns deliberately ordered differently in the
    two branches to prove by-name resolution."""
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("long").alias("party_id"),
        F.col("c_name").alias("nombre"),
        F.lit("customer").alias("tipo"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("tipo"),
        F.col("s_name").alias("nombre"),
        F.col("s_suppkey").cast("long").alias("party_id"),
    )
    return c.unionByName(s).dropDuplicates()


def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt: wide measure columns → (measure, value) rows —
    the inverse of pivot, used to normalize metric tables."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount",
    ).unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "measure",
        "value",
    )


def sample_hash_mod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash sampling (~10%): keep rows whose
    md5(text) lands in bucket 0 of 10. Unlike rand()-based sampling
    this is reproducible across engines, retries, and reruns — the
    only sane way to sample a 100 TB corpus consistently."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long") % 10
    )
    return d.select("doc_id", "source", bucket.alias("bucket")).filter(
        F.col("bucket") == 0
    )


SAMPLE_K = 50          # weighted-sample size
_U60 = float(1 << 60)  # 15 md5 hex digits = 60 uniform bits


def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-Res):
    priority = u^(1/w) with u a DETERMINISTIC md5-derived uniform and
    w = n_chars; the top-K priorities are the sample, so longer docs are
    proportionally likelier — the quality-weighted corpus subsample,
    reproducible across engines and retries (no rand()).

    Priorities are rounded before ranking so the Spark and oracle float
    ulp never disagree at the K-th boundary. Scale: orderBy+limit
    compiles to TakeOrderedAndProject — per-partition top-K then a
    driver merge of K×partitions rows, never a global sort."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("long") / F.lit(_U60)
    )
    priority = F.round(F.pow(u, 1.0 / nz(F.col("n_chars"))), 6)
    return (
        d.select("doc_id", "n_chars", priority.alias("priority"))
        .orderBy(F.desc("priority"), "doc_id")
        .limit(SAMPLE_K)
    )


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quota sampling: at most N docs per source, chosen by
    deterministic hash order (not rand()) — the per-domain quota step
    of corpus construction. One shuffle on the strata key."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5("text"), "doc_id")
    return (
        d.select("doc_id", "source", "text")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source", "rk")
    )


def union_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional union after drop/rename/lit alignment — mirrors the
    4-way service union (reference service_process.py:123-135) where
    column ORDER is load-bearing. Two order branches tagged by priority
    class."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit("alta").alias("clase")
    )
    normal = o.filter(
        ~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(
        "o_orderkey", "o_custkey", "o_totalprice", F.lit("normal").alias("clase")
    )
    return urgent.union(normal)


def dedup_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row dropDuplicates (reference applies it to EVERY dim,
    SURVEY §2.7-U3 — load-bearing for key uniqueness)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").dropDuplicates()


def distinct_single(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distinct() on a single-column frame (reference dimension.py:139-140
    — note the redundant distinct().dropDuplicates() there; once is
    enough and the plan proves it)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag").distinct()


def intersect_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: customers holding both an open and a filled order."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.intersect(filled)


def except_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers with open orders but no filled ones."""
    o = load_table(spark, sf_dir, "orders")
    open_ = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    filled = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_.subtract(filled)


QUERIES = {
    "union_by_name": union_by_name,
    "union_positional": union_positional,
    "dedup_rows": dedup_rows,
    "distinct_single": distinct_single,
    "intersect_keys": intersect_keys,
    "except_keys": except_keys,
    "unpivot_measures": unpivot_measures,
    "sample_hash_mod": sample_hash_mod,
    "stratified_sample": stratified_sample,
    "weighted_sample": weighted_sample,
}

ORACLES = {
    "unpivot_measures": """
        SELECT l_orderkey, l_linenumber, measure, value
        FROM (
            SELECT l_orderkey, l_linenumber,
                   'l_quantity' AS measure, l_quantity AS value
            FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_extendedprice', l_extendedprice FROM lineitem
            UNION ALL
            SELECT l_orderkey, l_linenumber,
                   'l_discount', l_discount FROM lineitem
        )
    """,
    "sample_hash_mod": """
        SELECT doc_id, source,
               ('0x' || substr(md5(text), 1, 15))::BIGINT % 10 AS bucket
        FROM documents
        WHERE ('0x' || substr(md5(text), 1, 15))::BIGINT % 10 = 0
    """,
    "weighted_sample": f"""
        SELECT doc_id, n_chars,
               round(pow(
                   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT
                       / {_U60},
                   1.0 / n_chars), 6) AS priority
        FROM documents
        ORDER BY priority DESC, doc_id
        LIMIT {SAMPLE_K}
    """,
    "stratified_sample": """
        SELECT doc_id, source, rk FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                       PARTITION BY source ORDER BY md5(text), doc_id
                   ) AS rk
            FROM documents
        ) WHERE rk <= 10
    """,
    "union_by_name": """
        SELECT DISTINCT * FROM (
            SELECT c_custkey AS party_id, c_name AS nombre,
                   'customer' AS tipo FROM customer
            UNION ALL
            SELECT s_suppkey AS party_id, s_name AS nombre,
                   'supplier' AS tipo FROM supplier
        )
    """,
    "union_positional": """
        SELECT o_orderkey, o_custkey, o_totalprice, 'alta' AS clase
        FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice, 'normal' AS clase
        FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    """,
    "dedup_rows": (
        "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"
    ),
    "distinct_single": "SELECT DISTINCT l_returnflag FROM lineitem",
    "intersect_keys": """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        INTERSECT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    "except_keys": """
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        EXCEPT
        SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
}
