"""Canonical graph derivations from the driver's synthetic tables.

Two graphs shared by ``__spark_entry__`` and ``perfbench``:

* **lineitem bipartite** — orders → suppliers (supplier ids offset by
  10_000_000 to keep the id spaces disjoint). Large, dense, scales with sf;
  the throughput workhorse.
* **customer hierarchy DAG** — customers → nations → regions (offsets
  1000 / 100 / 50). Small, fixed-depth; its graph metrics (components,
  BFS distances, 3-iteration PageRank) have *closed-form SQL* answers, so
  the DuckDB oracle can check the iterative algorithms without recursion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphframes_rs_spark.graphframe import GraphFrame
from graphframes_rs_spark.sources.tables import load_table

SUPPLIER_OFFSET = 10_000_000
CUSTOMER_OFFSET = 1000
NATION_OFFSET = 100
REGION_OFFSET = 50


def lineitem_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).cast("long").alias("dst"),
    ).distinct()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return GraphFrame(vertices, edges)


PART_OFFSET = 20_000_000


def lineitem_triple_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Triangle-rich graph: every lineitem row contributes the three edges
    (order, supplier), (supplier, part), (order, part) — so each distinct
    (order, supplier, part) triple closes a triangle. Supplier/part ids are
    offset to keep the three id spaces disjoint."""
    li = load_table(spark, sf_dir, "lineitem")
    o = F.col("l_orderkey").cast("long")
    s = (F.col("l_suppkey") + F.lit(SUPPLIER_OFFSET)).cast("long")
    p = (F.col("l_partkey") + F.lit(PART_OFFSET)).cast("long")
    edges = (
        li.select(o.alias("src"), s.alias("dst"))
        .unionByName(li.select(s.alias("src"), p.alias("dst")))
        .unionByName(li.select(o.alias("src"), p.alias("dst")))
    )
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return GraphFrame(vertices, edges)


def weighted_hierarchy_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Customer hierarchy DAG with a deterministic synthetic edge weight
    ``1 + (src + dst) % 5`` — fixed depth, so weighted SSSP from a customer
    has a closed-form SQL answer for the oracle."""
    g = customer_hierarchy_graph(spark, sf_dir)
    edges = g.edges.select(
        "src",
        "dst",
        (F.lit(1.0) + (F.col("src") + F.col("dst")) % 5).alias("weight"),
    )
    return GraphFrame(g.vertices, edges)


def customer_hierarchy_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    e1 = cust.select(
        (F.col("c_custkey") + F.lit(CUSTOMER_OFFSET)).cast("long").alias("src"),
        (F.col("c_nationkey") + F.lit(NATION_OFFSET)).cast("long").alias("dst"),
    )
    e2 = nation.select(
        (F.col("n_nationkey") + F.lit(NATION_OFFSET)).cast("long").alias("src"),
        (F.col("n_regionkey") + F.lit(REGION_OFFSET)).cast("long").alias("dst"),
    )
    edges = e1.unionByName(e2)
    vertices = (
        cust.select((F.col("c_custkey") + F.lit(CUSTOMER_OFFSET)).cast("long").alias("id"))
        .unionByName(
            nation.select((F.col("n_nationkey") + F.lit(NATION_OFFSET)).cast("long").alias("id"))
        )
        .unionByName(
            region.select((F.col("r_regionkey") + F.lit(REGION_OFFSET)).cast("long").alias("id"))
        )
        .distinct()
    )
    return GraphFrame(vertices, edges)


def named_hierarchy_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Hierarchy graph with a string ``name`` vertex attribute (exercises
    attribute passthrough in triplets)."""
    g = customer_hierarchy_graph(spark, sf_dir)
    named = g.vertices.select(
        "id",
        F.when(F.col("id") >= CUSTOMER_OFFSET, F.concat(F.lit("c"), F.col("id") - CUSTOMER_OFFSET))
        .when(F.col("id") >= NATION_OFFSET, F.concat(F.lit("n"), F.col("id") - NATION_OFFSET))
        .otherwise(F.concat(F.lit("r"), F.col("id") - REGION_OFFSET))
        .alias("name"),
    )
    return GraphFrame(named, g.edges)


ORDER_OFFSET = 30_000_000


def order_chain_graph(spark: SparkSession, sf_dir: str) -> GraphFrame:
    """Per-customer order chains: each customer's orders sorted by
    (o_orderdate, o_orderkey) form a path — edge from every order to the
    customer's next order. A DAG whose depth = max orders per customer, and
    whose longest-path layer has a *closed-form* SQL answer
    (``row_number() − 1`` within the customer partition), so the oracle can
    check :class:`~graphframes_rs_spark.operators.topology.
    TopologicalLayersBuilder` without recursion. Order ids are offset to
    keep the vertex id space disjoint from the other derived graphs."""
    orders = load_table(spark, sf_dir, "orders")
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        (F.col("o_orderkey") + F.lit(ORDER_OFFSET)).cast("long").alias("id"),
        F.lag(F.col("o_orderkey") + F.lit(ORDER_OFFSET))
        .over(w)
        .cast("long")
        .alias("prev"),
    )
    edges = seq.filter(F.col("prev").isNotNull()).select(
        F.col("prev").alias("src"), F.col("id").alias("dst")
    )
    vertices = seq.select("id")
    return GraphFrame(vertices, edges)


def save_graph(g: GraphFrame, path: str, mode: str = "error") -> None:
    """Persist a GraphFrame as a two-directory parquet layout
    (``<path>/vertices``, ``<path>/edges``) with all attribute columns —
    the simplest interchange format a cluster job can re-read without the
    original lineage. Attributes and types round-trip exactly."""
    g.vertices.write.mode(mode).parquet(f"{path}/vertices")
    g.edges.write.mode(mode).parquet(f"{path}/edges")


def load_graph(spark: SparkSession, path: str) -> GraphFrame:
    """Re-read a :func:`save_graph` layout (ctor re-validates id/src/dst
    Int64 typing, same as any other construction path)."""
    return GraphFrame(
        spark.read.parquet(f"{path}/vertices"),
        spark.read.parquet(f"{path}/edges"),
    )
