"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
LLM-data-pipeline operators; ``oracle_sql()`` gives the DuckDB-runnable
ANSI-SQL equivalent for each query (identical column names and value
rounding, so the driver's row-count/schema/value-hash gate passes).
EVERY entry carries an oracle. The non-closed-form ones use three
techniques: fixpoint iterations unrolled as MATERIALIZED CTE chains
(``kcore_big`` H-index, ``label_propagation``), problem-structure closure
(``wcc_big`` via the small supplier-side projection), and
invariant/recall gates where the output is seed-dependent but its
correctness contract is not (``mis_forest`` independence+maximality,
``ann_lsh``/``ann_ivf`` per-query recall@5 against the exact top-k).

Graph fixtures (see graphframes_rs_spark/sources/graphs.py):
  * lineitem bipartite graph (orders → suppliers, offset 10_000_000)
  * customer→nation→region DAG (offsets 1000/100/50) — fixed depth, so
    components / BFS / 3-iteration PageRank have closed-form SQL oracles.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphframes_rs_spark.pipeline import curation, dedup, similarity
from graphframes_rs_spark.pipeline import text as txt
from graphframes_rs_spark.sources.graphs import (
    customer_hierarchy_graph,
    lineitem_graph,
    lineitem_triple_graph,
    named_hierarchy_graph,
    weighted_hierarchy_graph,
)
from graphframes_rs_spark.graphframe import GraphFrame, symmetrize_edges
from graphframes_rs_spark.sources.tables import load_table
from graphframes_rs_spark.streaming import events as ev

MINHASH_K = 8
MINHASH_BANDS = 4
JACCARD_T = 0.1
NEARDUP_COS_T = 0.4
ANN_K = 5
# ANN recall-gate dials: the synthetic embeddings are near-uniform (little
# cluster structure), so hitting >=0.8 per-query recall@5 honestly requires
# generous probe budgets; measured min per-query recall at these dials is
# 1.0 (LSH) / 0.8 (IVF) at sf0.01 and sf0.1.
LSH_PLANES = 3
LSH_TABLES = 24
IVF_NLIST = 16
IVF_NPROBE = 10
RECALL_MIN_HITS = 4  # per-query recall@5 >= 0.8

_EDGES_BIG_SQL = (
    "SELECT DISTINCT l_orderkey AS src, "
    "CAST(l_suppkey + 10000000 AS BIGINT) AS dst FROM lineitem"
)
_VERTS_BIG_SQL = (
    f"SELECT src AS id FROM ({_EDGES_BIG_SQL}) UNION "
    f"SELECT dst AS id FROM ({_EDGES_BIG_SQL})"
)
_EDGES_SMALL_SQL = (
    "SELECT CAST(c_custkey + 1000 AS BIGINT) AS src, "
    "CAST(c_nationkey + 100 AS BIGINT) AS dst FROM customer "
    "UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), "
    "CAST(n_regionkey + 50 AS BIGINT) FROM nation"
)
_VERTS_SMALL_SQL = (
    "SELECT CAST(c_custkey + 1000 AS BIGINT) AS id FROM customer "
    "UNION SELECT CAST(n_nationkey + 100 AS BIGINT) FROM nation "
    "UNION SELECT CAST(r_regionkey + 50 AS BIGINT) FROM region"
)
# distinct word-3-gram shingles per doc (matches pipeline.dedup.shingles)
def _shingles_sql(n: int = 3, table: str = "documents") -> str:
    """DuckDB twin of dedup.shingles(col, n): distinct word n-grams with the
    same short-document clamping (sequence count = greatest(len - n + 2, 1),
    slices clamped at the end of the token list)."""
    return (
        "SELECT doc_id, unnest(list_distinct(list_transform("
        f"range(1, greatest(len(string_split(text, ' ')) - {n - 2}, 2)), "
        f"i -> array_to_string((string_split(text, ' '))[i:i+{n - 1}], ' ')))) "
        f"AS shingle FROM {table}"
    )


_SHINGLES_SQL = _shingles_sql(3)
_HASH60 = "CAST(('0x' || substr(md5({x}), 1, 15)) AS BIGINT)"


def _ckpt() -> str:
    return tempfile.mkdtemp(prefix="gf_entry_")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: PageRank over the sf0.001 lineitem bipartite graph."""
    g = lineitem_graph(spark, "/root/testdata/sf0.001")
    pr = g.page_rank().max_iterations(5).set_checkpoint_dir(_ckpt())
    return pr.run().select("id", F.round("pagerank", 6).alias("pagerank"))


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def _q_graph_counts(spark, sf_dir):
    g = lineitem_graph(spark, sf_dir)
    return spark.createDataFrame(
        [(g.num_nodes(), g.num_edges())], "n_nodes long, n_edges long"
    )


def _q_in_degrees(spark, sf_dir):
    return lineitem_graph(spark, sf_dir).in_degrees


def _q_out_degrees(spark, sf_dir):
    return lineitem_graph(spark, sf_dir).out_degrees


def _q_degrees(spark, sf_dir):
    return lineitem_graph(spark, sf_dir).degrees


def _q_aggregate_messages(spark, sf_dir):
    """One-shot neighbourhood aggregation (GraphFrames aggregateMessages
    parity): each vertex carries val = id % 97; every edge sends the
    source's val to the destination and the destination's val to the
    source; each vertex sums what it received. Oracle: both-direction
    union + groupBy over the same edge set."""
    from graphframes_rs_spark.pregel import Pregel

    g = lineitem_graph(spark, sf_dir)
    val = g.vertices.select(
        "id", (F.col("id") % 97).cast("long").alias("val")
    )
    gv = GraphFrame(val, g.edges)
    return gv.aggregate_messages(
        F.sum(Pregel.msg()).alias("nbr_val_sum"),
        send_to_src=Pregel.dst("val"),
        send_to_dst=Pregel.src("val"),
    ).select("id", F.col("agg").alias("nbr_val_sum"))


def _q_symmetrize(spark, sf_dir):
    from graphframes_rs_spark.graphframe import symmetrize_edges

    g = customer_hierarchy_graph(spark, sf_dir)
    return symmetrize_edges(g.edges, deduplicate=True)


def _q_triplets(spark, sf_dir):
    t = named_hierarchy_graph(spark, sf_dir).triplets()
    return t.select(
        F.col("edge.src").alias("src"),
        F.col("edge.dst").alias("dst"),
        F.col("src_vertex.name").alias("src_name"),
        F.col("dst_vertex.name").alias("dst_name"),
    )


def _q_connected_components(spark, sf_dir):
    g = customer_hierarchy_graph(spark, sf_dir)
    return g.connected_components().set_checkpoint_dir(_ckpt()).run()


def _q_shortest_paths(spark, sf_dir):
    g = customer_hierarchy_graph(spark, sf_dir)
    sp = g.shortest_paths([1001]).set_checkpoint_dir(_ckpt())
    return sp.run()


def _q_pagerank_dag(spark, sf_dir):
    g = customer_hierarchy_graph(spark, sf_dir)
    pr = g.page_rank().max_iterations(3).with_tol(0.0).set_checkpoint_dir(_ckpt())
    return pr.run().select("id", F.round("pagerank", 6).alias("pagerank"))


def _q_scc_rings(spark, sf_dir):
    """SCC on planted rings: customers form one directed cycle per
    (nation, custkey % 8) group — each ring is exactly one SCC labeled by
    its minimum member. Oracle: the closed-form min-per-group window."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    grp = [F.col("c_nationkey"), (F.col("c_custkey") % 8).alias("__bucket")]
    w_next = Window.partitionBy(*grp).orderBy("c_custkey")
    w_grp = Window.partitionBy(*grp)
    edges = cust.select(
        (F.col("c_custkey") + 1000).cast("long").alias("src"),
        (
            F.coalesce(
                F.lead("c_custkey").over(w_next),
                F.min("c_custkey").over(w_grp),
            )
            + 1000
        ).cast("long").alias("dst"),
    )
    vertices = cust.select((F.col("c_custkey") + 1000).cast("long").alias("id"))
    out = (
        GraphFrame(vertices, edges)
        .strongly_connected_components()
        .set_checkpoint_dir(_ckpt())
        .run()
    )
    return out.select("id", "component")


def _q_bfs_paths(spark, sf_dir):
    """BFS with path output (GraphFrames bfs parity): from a customer
    subset to any region on the 3-level DAG — every shortest path is the
    [customer, its nation, that nation's region] chain at length 2.
    Oracle: the equivalent two-hop join with a string-joined path.

    The path array is serialized to a '->'-joined string so the driver's
    pandas canonicalizer (which cannot sort list-valued columns) can order
    and hash the rows; the operator itself keeps its array API
    (reference precedent for scalar comparison:
    shortest_paths.rs:402-441 compares scalar distances)."""
    g = customer_hierarchy_graph(spark, sf_dir)
    out = g.bfs("id >= 1000 AND id % 50 = 3", "id < 100", max_path_length=4)
    return out.select(
        "from_id",
        "to_id",
        F.concat_ws("->", F.col("path").cast("array<string>")).alias(
            "path_str"
        ),
        "length",
    )


def _q_pagerank_weighted(spark, sf_dir):
    """Edge-weighted PageRank on the REVERSED weighted hierarchy DAG
    (regions fan out over nations, nations over customers, each edge
    carrying the deterministic weight 1 + (src+dst) % 5 — symmetric under
    reversal): deltas split proportionally to weight. Oracle: 3 unrolled
    weighted delta rounds, normalized."""
    g = weighted_hierarchy_graph(spark, sf_dir)
    rev = GraphFrame(
        g.vertices,
        g.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
        ),
    )
    pr = (
        rev.page_rank()
        .weighted("weight")
        .max_iterations(3)
        .with_tol(0.0)
        .set_checkpoint_dir(_ckpt())
    )
    return pr.run().select("id", F.round("pagerank", 6).alias("pagerank"))


def _q_motif_triangles(spark, sf_dir):
    """Motif finding (GraphFrames find parity): directed-triangle pattern
    on the order->supplier->part triple graph; each match is one distinct
    (order, supplier, part) lineitem triple. Oracle: the equivalent
    three-way self-join."""
    g = lineitem_triple_graph(spark, sf_dir)
    # materialize the distinct-edge pipeline ONCE: find() references the
    # edge frame once per pattern term, so an unmaterialized distinct
    # would be recomputed three times here
    edges = g.edges.distinct().localCheckpoint(eager=True)
    gd = GraphFrame(g.vertices, edges)
    # closed-triangle patterns take find()'s degree-ordered fast path
    # (operators/motif.py:_triangle_bindings): every naive term order
    # routes Σdeg(hub)² ≈ 360M wedge rows through the supplier hubs
    # (measured 42-56s at sf0.1), while degree orientation bounds wedges
    # by the low-degree endpoint (~28M) — measured 4.7-6s warm, identical
    # 670k bindings
    out = gd.find("(a)-[]->(b); (b)-[]->(c); (a)-[]->(c)")
    return out.select(
        F.col("a.id").alias("a_id"),
        F.col("b.id").alias("b_id"),
        F.col("c.id").alias("c_id"),
    )


def _q_pagerank_personalized(spark, sf_dir):
    """Personalized PageRank from a single customer on the 3-level DAG:
    teleport mass seeds only at customer 1, flows to its nation then its
    region, zero everywhere else. Oracle: the closed form of the
    3-iteration delta chain, normalized."""
    g = customer_hierarchy_graph(spark, sf_dir)
    pr = (
        g.page_rank()
        .personalized([1001])
        .max_iterations(3)
        .with_tol(0.0)
        .set_checkpoint_dir(_ckpt())
    )
    return pr.run().select("id", F.round("pagerank", 6).alias("pagerank"))


def _q_pagerank_parallel(spark, sf_dir):
    """parallelPersonalizedPageRank: TWO personalized walks (customer 1001
    and nation 101) batched into one Pregel loop — one array-valued message
    per edge per superstep regardless of K. Oracle: both closed-form delta
    chains, each normalized, packed into an array in source order."""
    g = customer_hierarchy_graph(spark, sf_dir)
    pr = (
        g.page_rank()
        .parallel_personalized([1001, 101])
        .max_iterations(3)
        .with_tol(0.0)
        .set_checkpoint_dir(_ckpt())
    )
    # explode the per-source array to (id, source_idx, pagerank) rows: the
    # driver's pandas canonicalizer cannot sort array columns, and the
    # exploded form is losslessly equivalent (source order is the index)
    return pr.run().select(
        "id",
        F.posexplode(
            F.transform("pageranks", lambda x: F.round(x, 6))
        ).alias("source_idx", "pagerank"),
    )


def _random_walks_sql(
    num_walks: int = 2,
    steps: int = 3,
    seed: int = 42,
    scalar_path: bool = False,
) -> str:
    """DuckDB replay of operators/random_walks.py: identical md5-derived
    hash60 rank order and per-step choice, unrolled over ``steps`` CTEs,
    on the reversed hierarchy edge set. ``scalar_path`` emits the path as
    a '->'-joined string (driver-comparable form); the list form feeds
    ``_skipgram_pairs_sql``."""

    def h(expr: str) -> str:
        return f"('0x'||substr(md5({expr}),1,15))::BIGINT"

    walk_rows = ", ".join(f"({i})" for i in range(num_walks))
    ctes = [
        f"e AS (SELECT dst AS src, src AS dst FROM ({_EDGES_SMALL_SQL}))",
        (
            "ranked AS (SELECT src, dst, row_number() OVER ("
            "PARTITION BY src ORDER BY "
            + h(f"CAST(dst AS VARCHAR)||'|{seed}'")
            + ", dst) AS rank, count(*) OVER (PARTITION BY src) AS odeg "
            "FROM (SELECT DISTINCT src, dst FROM e))"
        ),
        f"verts AS ({_VERTS_SMALL_SQL})",
        (
            f"w0 AS (SELECT v.id * {num_walks} + t.n AS walk_id, "
            "v.id AS cur, [v.id] AS path FROM verts v "
            f"CROSS JOIN (VALUES {walk_rows}) AS t(n))"
        ),
    ]
    for t in range(1, steps + 1):
        prev = f"w{t - 1}"
        choice = h(f"CAST(walk_id AS VARCHAR)||'|{t}|{seed}'")
        ctes.append(
            f"w{t} AS (SELECT walk_id, COALESCE(r.dst, cur) AS cur, "
            "CASE WHEN r.dst IS NULL THEN path "
            "ELSE list_append(path, r.dst) END AS path "
            f"FROM {prev} LEFT JOIN ranked r ON r.src = {prev}.cur "
            f"AND r.rank = {choice} % r.odeg + 1)"
        )
    path_col = (
        "array_to_string(path, '->') AS path_str" if scalar_path else "path"
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT walk_id, path[1] AS start, {path_col} FROM w{steps}"
    )


def _skipgram_pairs_sql(window: int = 2, **walk_kwargs) -> str:
    """The walk replay extended with the skip-gram window expansion
    (DuckDB lists are 1-based; Spark's 0-based j-bounds translate to
    1 <= j <= len)."""
    walks = _random_walks_sql(**walk_kwargs)
    offs = ", ".join(
        f"({o})" for o in range(-window, window + 1) if o != 0
    )
    return (
        f"WITH walks AS ({walks}), "
        "pos AS (SELECT path, unnest(range(1, len(path) + 1)) AS i "
        "FROM walks), "
        'pr AS (SELECT path[i] AS center, o.off AS "offset", '
        f"i + o.off AS j, path FROM pos CROSS JOIN (VALUES {offs}) AS o(off)) "
        'SELECT center, path[j] AS context, "offset" FROM pr '
        "WHERE j >= 1 AND j <= len(path)"
    )


def _q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus on the REVERSED hierarchy graph
    (region -> its nations -> their customers), so every hop exercises the
    hash choice over real branching (regions have 5 nation children,
    nations ~tens of customers). Oracle: the identical md5-hash walk
    process unrolled in SQL — rank neighbours by hash60(dst|seed), pick
    rank = hash60(walk_id|step|seed) % out_degree + 1, three steps."""
    from graphframes_rs_spark.graphframe import GraphFrame

    g = customer_hierarchy_graph(spark, sf_dir)
    rev = GraphFrame(
        g.vertices,
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    walks = rev.random_walks(num_walks=2, walk_length=3, seed=42)
    # '->'-join the path so the driver canonicalizer can sort/hash rows
    # (pandas sort_values cannot order list columns); operator keeps arrays
    return walks.select(
        "walk_id",
        "start",
        F.concat_ws("->", F.col("path").cast("array<string>")).alias(
            "path_str"
        ),
    )


def _q_hits(spark, sf_dir):
    """HITS hubs & authorities, two Jacobi iterations on the hierarchy
    DAG. Oracle: a2 = Σ in-neighbours' out-degree, h2 = Σ out-neighbours'
    in-degree (the t=2 iterates from all-ones), each normalized."""
    g = customer_hierarchy_graph(spark, sf_dir)
    hb = g.hits().max_iterations(2).set_checkpoint_dir(_ckpt())
    return hb.run().select(
        "id",
        F.round("authority", 6).alias("authority"),
        F.round("hub", 6).alias("hub"),
    )


def _q_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context, offset) training pairs over the same
    deterministic walk corpus as ``random_walks`` — the full
    walks -> pairs embedding input pipeline, end to end. Oracle: the walk
    replay SQL extended with the positional window expansion."""
    from graphframes_rs_spark.graphframe import GraphFrame
    from graphframes_rs_spark.operators.random_walks import skipgram_pairs

    g = customer_hierarchy_graph(spark, sf_dir)
    rev = GraphFrame(
        g.vertices,
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    walks = rev.random_walks(num_walks=2, walk_length=3, seed=42)
    return skipgram_pairs(walks, window=2)


def _node2vec_graph(spark, sf_dir):
    """Symmetrized hierarchy graph plus customer<->region shortcut edges —
    the triangles (customer, nation, region) make all three node2vec
    weight classes reachable: return (x == prev), distance-1 (edge
    prev -> x exists), and distance-2."""
    g = customer_hierarchy_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cr = cust.join(
        nation, cust["c_nationkey"] == nation["n_nationkey"]
    ).select(
        (F.col("c_custkey") + 1000).cast("long").alias("src"),
        (F.col("n_regionkey") + 50).cast("long").alias("dst"),
    )
    base = g.edges.unionByName(cr)
    edges = base.unionByName(
        base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return GraphFrame(g.vertices, edges)


_N2V_EDGES_SQL = (
    f"{_EDGES_SMALL_SQL} "
    "UNION ALL SELECT CAST(c_custkey + 1000 AS BIGINT), "
    "CAST(n_regionkey + 50 AS BIGINT) FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey"
)


def _node2vec_sql(
    num_walks: int = 1,
    steps: int = 3,
    p: float = 4.0,
    q: float = 0.25,
    seed: int = 42,
) -> str:
    """DuckDB replay of operators/random_walks.py::node2vec_walks:
    identical hash60 rank order, integer bias weights
    (round(840/p) / 840 / round(840/q)), and cumulative-weight draw
    ``u = hash60(walk_id|step|seed) % total`` — unrolled per step."""
    w_ret = max(1, round(840 / p))
    w_d2 = max(1, round(840 / q))

    def h(expr: str) -> str:
        return f"('0x'||substr(md5({expr}),1,15))::BIGINT"

    walk_rows = ", ".join(f"({i})" for i in range(num_walks))
    ctes = [
        f"eb AS ({_N2V_EDGES_SQL})",
        "e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb)",
        (
            "ranked AS (SELECT src, dst, row_number() OVER ("
            "PARTITION BY src ORDER BY "
            + h(f"CAST(dst AS VARCHAR)||'|{seed}'")
            + ", dst) AS rank, count(*) OVER (PARTITION BY src) AS odeg "
            "FROM e)"
        ),
        f"verts AS ({_VERTS_SMALL_SQL})",
        (
            f"w0 AS (SELECT v.id * {num_walks} + t.n AS walk_id, "
            "CAST(NULL AS BIGINT) AS prev, v.id AS cur, [v.id] AS path "
            f"FROM verts v CROSS JOIN (VALUES {walk_rows}) AS t(n))"
        ),
        (
            "w1 AS (SELECT walk_id, "
            "CASE WHEN r.dst IS NOT NULL THEN cur END AS prev, "
            "COALESCE(r.dst, cur) AS cur, "
            "CASE WHEN r.dst IS NULL THEN path "
            "ELSE list_append(path, r.dst) END AS path "
            "FROM w0 LEFT JOIN ranked r ON r.src = w0.cur AND r.rank = "
            + h(f"CAST(walk_id AS VARCHAR)||'|1|{seed}'")
            + " % r.odeg + 1)"
        ),
    ]
    for t in range(2, steps + 1):
        u = h(f"CAST(walk_id AS VARCHAR)||'|{t}|{seed}'")
        ctes.append(
            f"cand{t} AS (SELECT w.walk_id, r.rank, r.dst AS cand, "
            f"CASE WHEN r.dst = w.prev THEN {w_ret} "
            f"WHEN d1.src IS NOT NULL THEN 840 ELSE {w_d2} END AS wt "
            f"FROM w{t - 1} w JOIN ranked r ON r.src = w.cur "
            "LEFT JOIN e d1 ON d1.src = w.prev AND d1.dst = r.dst)"
        )
        ctes.append(
            f"pick{t} AS (SELECT walk_id, cand FROM ("
            "SELECT walk_id, cand, wt, "
            "sum(wt) OVER (PARTITION BY walk_id ORDER BY rank) AS cum, "
            f"sum(wt) OVER (PARTITION BY walk_id) AS tot FROM cand{t}) "
            f"WHERE {u} % tot < cum AND {u} % tot >= cum - wt)"
        )
        ctes.append(
            f"w{t} AS (SELECT w.walk_id, "
            "CASE WHEN p.cand IS NOT NULL THEN w.cur END AS prev, "
            "COALESCE(p.cand, w.cur) AS cur, "
            "CASE WHEN p.cand IS NULL THEN w.path "
            "ELSE list_append(w.path, p.cand) END AS path "
            f"FROM w{t - 1} w LEFT JOIN pick{t} p USING (walk_id))"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT walk_id, path[1] AS start, "
        f"array_to_string(path, '->') AS path_str FROM w{steps}"
    )


def _weighted_walks_sql(
    num_walks: int = 1, steps: int = 3, seed: int = 42
) -> str:
    """DuckDB replay of weighted_random_walks on the REVERSED weighted
    hierarchy graph (weight = 1 + (src+dst) % 5, direction-symmetric):
    identical hash rank order, integer cumulative intervals, and
    ``u = hash60(walk_id|step|seed) % total`` draw."""

    def h(expr: str) -> str:
        return f"('0x'||substr(md5({expr}),1,15))::BIGINT"

    hd = h(f"CAST(dst AS VARCHAR)||'|{seed}'")
    walk_rows = ", ".join(f"({i})" for i in range(num_walks))
    ctes = [
        (
            "e AS (SELECT t.dst AS src, t.src AS dst, "
            "CAST(round((1.0 + (t.src + t.dst) % 5) * 1000000) AS BIGINT) "
            f"AS qw FROM ({_EDGES_SMALL_SQL}) t)"
        ),
        (
            "r AS (SELECT src, dst, "
            f"sum(qw) OVER (PARTITION BY src ORDER BY {hd}, dst "
            "ROWS UNBOUNDED PRECEDING) - qw AS lo, "
            f"sum(qw) OVER (PARTITION BY src ORDER BY {hd}, dst "
            "ROWS UNBOUNDED PRECEDING) AS hi, "
            "sum(qw) OVER (PARTITION BY src) AS tot FROM e)"
        ),
        "tots AS (SELECT src AS id, max(tot) AS tot FROM r GROUP BY src)",
        f"verts AS ({_VERTS_SMALL_SQL})",
        (
            f"w0 AS (SELECT v.id * {num_walks} + t.n AS walk_id, v.id AS cur, "
            "tots.tot AS cur_tot, [v.id] AS path FROM verts v "
            "LEFT JOIN tots ON tots.id = v.id "
            f"CROSS JOIN (VALUES {walk_rows}) AS t(n))"
        ),
    ]
    for t in range(1, steps + 1):
        prev = f"w{t - 1}"
        u = h(f"CAST(walk_id AS VARCHAR)||'|{t}|{seed}'")
        ctes.append(
            f"w{t} AS (SELECT walk_id, COALESCE(r.dst, cur) AS cur, "
            "CASE WHEN r.dst IS NOT NULL THEN t2.tot END AS cur_tot, "
            "CASE WHEN r.dst IS NULL THEN path "
            "ELSE list_append(path, r.dst) END AS path "
            f"FROM {prev} LEFT JOIN r ON r.src = {prev}.cur "
            f"AND {u} % {prev}.cur_tot >= r.lo "
            f"AND {u} % {prev}.cur_tot < r.hi "
            "LEFT JOIN tots t2 ON t2.id = r.dst)"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT walk_id, path[1] AS start, "
        f"array_to_string(path, '->') AS path_str FROM w{steps}"
    )


def _q_weighted_walks(spark, sf_dir):
    """Edge-weight-biased walks on the REVERSED weighted hierarchy graph
    (the deterministic 1 + (src+dst) % 5 weights bias each region's
    nation choice and each nation's customer choice). Oracle: the
    integer cumulative-interval draw replayed in SQL."""
    from graphframes_rs_spark.operators.random_walks import (
        weighted_random_walks,
    )

    g = weighted_hierarchy_graph(spark, sf_dir)
    rev = GraphFrame(
        g.vertices,
        g.edges.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            "weight",
        ),
    )
    walks = weighted_random_walks(
        rev, "weight", num_walks=1, walk_length=3, seed=42
    )
    return walks.select(
        "walk_id",
        "start",
        F.concat_ws("->", F.col("path").cast("array<string>")).alias(
            "path_str"
        ),
    )


def _q_node2vec_walks(spark, sf_dir):
    """Second-order biased walks (p=4, q=0.25: DFS-leaning) on the
    symmetrized hierarchy graph with customer<->region shortcuts, so
    return / distance-1 / distance-2 weights all fire. Oracle: the
    identical integer-weight hash draw unrolled in SQL."""
    g = _node2vec_graph(spark, sf_dir)
    walks = g.node2vec_walks(
        num_walks=1, walk_length=3, p=4.0, q=0.25, seed=42
    )
    return walks.select(
        "walk_id",
        "start",
        F.concat_ws("->", F.col("path").cast("array<string>")).alias(
            "path_str"
        ),
    )


def _neighborhood_sql(k: int = 4, radius: int = 3, seed: int = 42) -> str:
    """DuckDB replay of operators/neighborhood.py: identical one-hot FM
    register init (h & -h of hash60(id|i|seed)) and per-round bit_or
    closure over OUT-neighbours, on the REVERSED hierarchy edge set;
    estimate = 2^mean(lowest-zero-bit) / 0.77351."""

    def h(expr: str) -> str:
        return f"('0x'||substr(md5({expr}),1,15))::BIGINT"

    def one_hot(i: int) -> str:
        hx = h(f"CAST(id AS VARCHAR)||'|{i}|{seed}'")
        return f"({hx} & -({hx})) AS r{i}"

    init_cols = ", ".join(one_hot(i) for i in range(k))
    ctes = [
        f"e AS (SELECT dst AS src, src AS dst FROM ({_EDGES_SMALL_SQL}))",
        f"verts AS ({_VERTS_SMALL_SQL})",
        f"m0 AS (SELECT id, {init_cols} FROM verts)",
    ]
    for t in range(1, radius + 1):
        prev = f"m{t - 1}"
        agg = ", ".join(f"bit_or(n.r{i}) AS r{i}" for i in range(k))
        mrg = ", ".join(
            f"m.r{i} | COALESCE(a.r{i}, 0) AS r{i}" for i in range(k)
        )
        ctes.append(
            f"m{t} AS (SELECT m.id, {mrg} FROM {prev} m LEFT JOIN "
            f"(SELECT e.src AS id, {agg} FROM e JOIN {prev} n "
            "ON n.id = e.dst GROUP BY e.src) a USING (id))"
        )
    mean_r = " + ".join(
        f"(bit_count(xor(r{i}, r{i} + 1)) - 1)" for i in range(k)
    )
    regs = ", ".join(f"r{i} AS reg_{i}" for i in range(k))
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT id, round(pow(2.0, ({mean_r}) / {float(k)}) / 0.77351, 6)"
        f" AS nf_est, {regs} FROM m{radius}"
    )


def _q_neighborhood(spark, sf_dir):
    """Approximate neighborhood function (FM sketches, k=4) on the
    REVERSED hierarchy graph — regions reach their whole subtree, so
    register closure is non-trivial while the DAG depth (2) exercises
    the early-stop voting inside the radius-3 budget. Oracle: the
    identical integer bit_or closure unrolled in SQL (registers are
    bit-exact; the estimate is a pure function of them)."""
    g = customer_hierarchy_graph(spark, sf_dir)
    rev = GraphFrame(
        g.vertices,
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    out = (
        rev.neighborhood_function()
        .max_radius(3)
        .with_registers(4)
        .with_seed(42)
        .run()
    )
    return out.select(
        "id",
        F.round("nf_est", 6).alias("nf_est"),
        *[f"reg_{i}" for i in range(4)],
    )


def _effective_diameter_sql(
    k: int = 4, radius: int = 8, ratio: float = 0.9, seed: int = 42
) -> str:
    """DuckDB replay of operators/neighborhood.py::effective_diameter on
    the SYMMETRIZED hierarchy graph: per-round FM register closure (same
    integer bit ops as _neighborhood_sql), per-round global estimate
    sums, then the smallest t covering ``ratio`` of the fixpoint total.
    Robust to Spark's early-stop: past closure every round's sum equals
    the fixpoint, so min-t and the totals agree regardless of how many
    no-change rounds each engine ran."""

    def h(expr: str) -> str:
        return f"('0x'||substr(md5({expr}),1,15))::BIGINT"

    def one_hot(i: int) -> str:
        hx = h(f"CAST(id AS VARCHAR)||'|{i}|{seed}'")
        return f"({hx} & -({hx})) AS r{i}"

    init_cols = ", ".join(one_hot(i) for i in range(k))
    est = (
        "pow(2.0, ("
        + " + ".join(f"(bit_count(xor(r{i}, r{i} + 1)) - 1)" for i in range(k))
        + f") / {float(k)}) / 0.77351"
    )
    ctes = [
        f"eb AS ({_EDGES_SMALL_SQL})",
        "e AS (SELECT src, dst FROM eb UNION SELECT dst, src FROM eb)",
        f"verts AS ({_VERTS_SMALL_SQL})",
        f"m0 AS (SELECT id, {init_cols} FROM verts)",
        # each vertex ORs its own registers with its out-neighbours': a
        # self row plus the out-edges, so each round reads the previous
        # round ONCE (DuckDB inlines CTEs; two references per round would
        # replay the whole chain 2^radius times)
        (
            "nb AS (SELECT id, id AS nb FROM verts UNION ALL "
            "SELECT src, dst FROM e WHERE src IN (SELECT id FROM verts))"
        ),
    ]
    for t in range(1, radius + 1):
        prev = f"m{t - 1}"
        agg = ", ".join(f"bit_or(p.r{i}) AS r{i}" for i in range(k))
        ctes.append(
            f"m{t} AS (SELECT s.id, {agg} FROM nb s JOIN {prev} p "
            "ON p.id = s.nb GROUP BY s.id)"
        )
    sums = " UNION ALL ".join(
        f"SELECT {t} AS t, sum({est}) AS s FROM m{t}"
        for t in range(radius + 1)
    )
    ctes.append(f"sums AS ({sums})")
    ctes.append(
        f"tot AS (SELECT s AS total FROM sums WHERE t = {radius})"
    )
    return (
        "WITH "
        + ", ".join(ctes)
        + " SELECT CAST(t AS INT) AS effective_diameter, "
        "round(s, 6) AS n_pairs_est, round(total, 6) AS total_pairs_est "
        f"FROM sums, tot WHERE s >= {ratio} * total ORDER BY t LIMIT 1"
    )


def _feature_prop_sql(rounds: int = 2, alpha: float = 0.5) -> str:
    """DuckDB replay of operators/feature_propagation.py on the hierarchy
    graph with INTEGER-valued features [id % 7, id % 11]: integral sums
    are exact doubles in both engines, and the mean/blend expressions are
    written with the identical operation order, so arrays match
    bit-for-bat before the final elementwise round(6)."""
    ctes = [
        f"e AS ({_EDGES_SMALL_SQL})",
        f"verts AS ({_VERTS_SMALL_SQL})",
        (
            "f0 AS (SELECT id, [CAST(id % 7 AS DOUBLE), "
            "CAST(id % 11 AS DOUBLE)] AS f FROM verts)"
        ),
    ]
    for t in range(1, rounds + 1):
        prev = f"f{t - 1}"
        ctes.append(
            f"a{t} AS (SELECT e.dst AS id, sum(n.f[1]) AS s1, "
            f"sum(n.f[2]) AS s2, CAST(count(*) AS DOUBLE) AS c "
            f"FROM e JOIN {prev} n ON n.id = e.src GROUP BY e.dst)"
        )
        ctes.append(
            f"f{t} AS (SELECT v.id, CASE WHEN a.id IS NULL THEN v.f ELSE "
            f"[(1 - {alpha}) * v.f[1] + {alpha} * (a.s1 / a.c), "
            f"(1 - {alpha}) * v.f[2] + {alpha} * (a.s2 / a.c)] END AS f "
            f"FROM {prev} v LEFT JOIN a{t} a USING (id))"
        )
    return (
        "WITH "
        + ", ".join(ctes)
        + f" SELECT id, CAST(0 AS INTEGER) AS feat_idx, "
        f"round(f[1], 6) AS feature FROM f{rounds} "
        f"UNION ALL SELECT id, CAST(1 AS INTEGER), round(f[2], 6) "
        f"FROM f{rounds}"
    )


def _q_feature_propagation(spark, sf_dir):
    """SGC-style feature smoothing (2 rounds, alpha 0.5) on the hierarchy
    graph with integer-derived features, so nations blend their
    customers' features and regions their nations'. Oracle: the rounds
    unrolled in SQL with identical operation order."""
    from graphframes_rs_spark.operators.feature_propagation import (
        feature_propagation,
    )

    g = customer_hierarchy_graph(spark, sf_dir)
    feats = g.vertices.select(
        "id",
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 11).cast("double"),
        ).alias("features"),
    )
    out = feature_propagation(g, feats, rounds=2, alpha=0.5)
    # exploded scalar form (id, feat_idx, feature): the driver comparator
    # cannot sort array columns (same policy as pagerank_parallel)
    return out.select(
        "id",
        F.posexplode(
            F.transform("features", lambda x: F.round(x, 6))
        ).alias("feat_idx", "feature"),
    )


def _q_conductance(spark, sf_dir):
    """Per-community conductance of the nation partition on the hierarchy
    graph (customers + their nation in one community; regions are
    singletons): each nation community's only cut edge is its region
    link. Oracle: the same cut/internal/volume tallies in SQL over the
    canonical undirected edge set."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    labels = (
        cust.select(
            (F.col("c_custkey") + 1000).cast("long").alias("id"),
            (F.col("c_nationkey") + 100).cast("long").alias("label"),
        )
        .unionByName(
            nation.select(
                (F.col("n_nationkey") + 100).cast("long").alias("id"),
                (F.col("n_nationkey") + 100).cast("long").alias("label"),
            )
        )
        .unionByName(
            region.select(
                (F.col("r_regionkey") + 50).cast("long").alias("id"),
                (F.col("r_regionkey") + 50).cast("long").alias("label"),
            )
        )
    )
    g = customer_hierarchy_graph(spark, sf_dir)
    return g.conductance(labels)


_CONDUCTANCE_SQL = (
    # hierarchy edges all run high id -> low id, so the canonical
    # undirected simple pair is just (dst, src); labels: customer/nation ->
    # nation, region -> itself
    f"WITH e AS (SELECT DISTINCT dst AS a, src AS b FROM ({_EDGES_SMALL_SQL})), "
    "lab AS (SELECT CAST(c_custkey + 1000 AS BIGINT) AS id, "
    "CAST(c_nationkey + 100 AS BIGINT) AS label FROM customer "
    "UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), "
    "CAST(n_nationkey + 100 AS BIGINT) FROM nation "
    "UNION ALL SELECT CAST(r_regionkey + 50 AS BIGINT), "
    "CAST(r_regionkey + 50 AS BIGINT) FROM region), "
    "le AS (SELECT la.label AS sl, lb.label AS dl FROM e "
    "JOIN lab la ON la.id = e.a JOIN lab lb ON lb.id = e.b), "
    "side AS (SELECT sl AS label, "
    "CASE WHEN sl <> dl THEN 1 ELSE 0 END AS cut, "
    "CASE WHEN sl = dl THEN 1 ELSE 0 END AS own FROM le "
    "UNION ALL SELECT dl, 1, 0 FROM le WHERE sl <> dl), "
    "tal AS (SELECT label, CAST(sum(cut) AS BIGINT) AS cut_edges, "
    "CAST(sum(own) AS BIGINT) AS internal_edges "
    "FROM side GROUP BY label), "
    "mem AS (SELECT label, count(*) AS n_members FROM lab GROUP BY label), "
    "m AS (SELECT count(*) AS total FROM e) "
    "SELECT mem.label, n_members, COALESCE(cut_edges, 0) AS cut_edges, "
    "COALESCE(internal_edges, 0) AS internal_edges, "
    "COALESCE(cut_edges, 0) + 2 * COALESCE(internal_edges, 0) AS volume, "
    "CASE WHEN least(COALESCE(cut_edges, 0) + 2 * COALESCE(internal_edges, 0), "
    "2 * total - (COALESCE(cut_edges, 0) + 2 * COALESCE(internal_edges, 0))) > 0 "
    "THEN round(COALESCE(cut_edges, 0) / least("
    "COALESCE(cut_edges, 0) + 2 * COALESCE(internal_edges, 0), "
    "2 * total - (COALESCE(cut_edges, 0) + 2 * COALESCE(internal_edges, 0))), 6) "
    "END AS conductance "
    "FROM mem LEFT JOIN tal USING (label) CROSS JOIN m"
)


def _q_effective_diameter(spark, sf_dir):
    """ANF effective diameter (ratio 0.9, k=4 registers) of the
    SYMMETRIZED hierarchy graph (true diameter 4: customer -> nation ->
    region -> nation' -> customer'). Oracle: full per-round register
    replay + the identical min-t selection."""
    g = customer_hierarchy_graph(spark, sf_dir).symmetrize()
    return g.effective_diameter(
        ratio=0.9, max_radius=8, num_registers=4, seed=42
    )


def _q_kcore_forest(spark, sf_dir):
    g = customer_hierarchy_graph(spark, sf_dir)
    return g.k_core().set_checkpoint_dir(_ckpt()).run()


def _q_mis_forest(spark, sf_dir):
    """Per-vertex MIS invariant gate: ``ok`` = (member AND no neighbour is a
    member) OR (non-member AND some neighbour is a member) — independence
    plus maximality, checked for every vertex. The member set itself is
    seed-dependent (xxhash64 uniforms), so the oracle asserts the invariant
    (all true) rather than the membership; a wrong MIS flips rows to false
    and fails the value hash."""
    from graphframes_rs_spark.graphframe import symmetrize_edges

    g = customer_hierarchy_graph(spark, sf_dir)
    members = (
        g.maximal_independent_set()
        .with_random_seed(7)
        .set_checkpoint_dir(_ckpt())
        .run()
        .select(F.col("id").alias("mid"))
    )
    edges = symmetrize_edges(g.edges, deduplicate=True)
    has_member_nbr = (
        edges.join(members, edges["dst"] == members["mid"], "left_semi")
        .select(F.col("src").alias("id"))
        .distinct()
        .withColumn("has_mnbr", F.lit(True))
    )
    is_member = members.select(F.col("mid").alias("id"), F.lit(True).alias("is_m"))
    return (
        g.vertices.select("id")
        .join(is_member, "id", "left")
        .join(has_member_nbr, "id", "left")
        .select(
            "id",
            (
                F.coalesce(F.col("is_m"), F.lit(False))
                != F.coalesce(F.col("has_mnbr"), F.lit(False))
            ).alias("ok"),
        )
    )


def _q_assortativity(spark, sf_dir):
    """Degree assortativity of the hierarchy forest — strongly negative
    (pure hub-and-spoke). Oracle: the same corr over the symmetrized
    simple edge set in DuckDB."""
    g = customer_hierarchy_graph(spark, sf_dir)
    return g.degree_assortativity()


def _q_link_prediction(spark, sf_dir):
    """Neighborhood-overlap link prediction on the nation->region layer:
    the only wedge middles are the regions (each of degree exactly 5 in
    TPC-H), so the candidates are the 10 nation pairs per region, each
    with one witness — common=1, jaccard=1 (both nations have degree 1),
    adamic_adar=1/ln(5). Closed-form oracle; max_degree=None for
    exactness (the capped default is the production path)."""
    from graphframes_rs_spark.graphframe import GraphFrame

    g = customer_hierarchy_graph(spark, sf_dir)
    layer_e = g.edges.filter((F.col("src") >= 100) & (F.col("src") < 1000))
    layer_v = g.vertices.filter((F.col("id") >= 50) & (F.col("id") < 1000))
    return GraphFrame(layer_v, layer_e).link_prediction(max_degree=None)


def _q_ktruss(spark, sf_dir):
    """4-truss on the hierarchy forest with a planted K5 over the five
    region vertices: the forest closes no triangles (drops in round 1),
    every K5 edge closes 3 >= k-2 (survives) — the truss is exactly the
    10 clique edges with support 3, closed-form."""
    from graphframes_rs_spark.graphframe import GraphFrame

    g = customer_hierarchy_graph(spark, sf_dir)
    regions = g.vertices.filter((F.col("id") >= 50) & (F.col("id") < 100))
    a = regions.select(F.col("id").alias("src"))
    b = regions.select(F.col("id").alias("dst"))
    clique = a.crossJoin(b).filter(F.col("src") < F.col("dst"))
    planted = GraphFrame(g.vertices, g.edges.unionByName(clique))
    return planted.k_truss(4).set_checkpoint_dir(_ckpt()).run()


def _q_betweenness(spark, sf_dir):
    """Sampled-source Brandes betweenness from customers 1-3 on the
    hierarchy DAG: every source's only intermediate vertex is its nation
    (customer -> nation -> region), so betweenness(nation) = number of
    sampled sources in it and 0 elsewhere — closed-form oracle."""
    g = customer_hierarchy_graph(spark, sf_dir)
    b = g.betweenness([1001, 1002, 1003]).set_checkpoint_dir(_ckpt())
    return b.run()


def _q_coloring_forest(spark, sf_dir):
    """Per-vertex proper-coloring invariant gate (same style as
    ``mis_forest``): ``ok`` = colored AND no neighbour shares the color
    AND color <= degree (the Jones–Plassmann bound). The coloring itself
    is seed-dependent, so the oracle asserts the all-true invariant; any
    missing, conflicting, or out-of-bound color flips a row to false and
    fails the value hash."""
    from graphframes_rs_spark.graphframe import symmetrize_edges

    g = customer_hierarchy_graph(spark, sf_dir)
    colors = g.greedy_coloring().set_checkpoint_dir(_ckpt()).run()
    und = symmetrize_edges(g.edges, deduplicate=True)
    deg = und.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("__deg")
    )
    c_src = colors.select(F.col("id").alias("src"), F.col("color").alias("__c1"))
    c_dst = colors.select(F.col("id").alias("dst"), F.col("color").alias("__c2"))
    conflicted = (
        und.join(c_src, "src")
        .join(c_dst, "dst")
        .filter(F.col("__c1") == F.col("__c2"))
        .select(F.col("src").alias("id"))
        .distinct()
        .withColumn("__bad", F.lit(True))
    )
    return (
        colors.join(deg, "id", "left")
        .join(conflicted, "id", "left")
        .select(
            "id",
            (
                F.col("color").isNotNull()
                & F.col("__bad").isNull()
                & (F.col("color") <= F.coalesce(F.col("__deg"), F.lit(0)))
            ).alias("ok"),
        )
    )


def _q_wcc_big(spark, sf_dir):
    g = lineitem_graph(spark, sf_dir)
    return g.connected_components().set_checkpoint_dir(_ckpt()).run()


def _q_kcore_big(spark, sf_dir):
    g = lineitem_graph(spark, sf_dir)
    return g.k_core().set_checkpoint_dir(_ckpt()).run()


def _q_label_propagation(spark, sf_dir):
    g = customer_hierarchy_graph(spark, sf_dir)
    return g.label_propagation().max_iterations(5).set_checkpoint_dir(_ckpt()).run()


def _q_triangles(spark, sf_dir):
    return lineitem_triple_graph(spark, sf_dir).triangle_count()


def _q_weighted_sssp(spark, sf_dir):
    g = weighted_hierarchy_graph(spark, sf_dir)
    return g.weighted_shortest_paths(1001).set_checkpoint_dir(_ckpt()).run()


def _q_clustering_coeff(spark, sf_dir):
    return lineitem_triple_graph(spark, sf_dir).clustering_coefficient()


def _q_topo_layers(spark, sf_dir):
    from graphframes_rs_spark.sources.graphs import order_chain_graph

    g = order_chain_graph(spark, sf_dir)
    return g.topological_layers().max_iterations(64).set_checkpoint_dir(_ckpt()).run()


def _q_modularity(spark, sf_dir):
    # score the closed-form nation partition of the hierarchy graph:
    # customers labelled by their nation vertex, nations/regions by
    # themselves — exercises the full modularity pipeline while keeping a
    # recursion-free oracle
    g = customer_hierarchy_graph(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    labels = (
        cust.select(
            (F.col("c_custkey") + 1000).cast("long").alias("id"),
            (F.col("c_nationkey") + 100).cast("long").alias("label"),
        )
        .unionByName(
            g.vertices.filter(F.col("id") < 1000).select(
                "id", F.col("id").alias("label")
            )
        )
    )
    return g.modularity(labels)


def _q_doc_token_counts(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        txt.token_count(c).cast("long").alias("n_tokens"),
        txt.bpe_ish_token_count(c).cast("long").alias("n_bpe_tokens"),
    )


def _q_doc_quality(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.round(txt.alpha_ratio(c), 6).alias("alpha_ratio"),
        F.round(txt.stopword_ratio(c), 6).alias("stopword_ratio"),
        txt.quality_score(c).alias("quality"),
    )


def _q_doc_repetition(spark, sf_dir):
    """Gopher-style repetition filters as a narrow no-shuffle projection;
    the oracle recomputes the bigram histogram via explode+groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.repetition_stats(docs)


def _q_doc_lang(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", txt.language_id(F.col("text")).alias("lang_pred"))


def _q_doc_fingerprint(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", txt.rolling_hash(F.col("text")).alias("fingerprint"))


def _q_doc_normalize(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    c = F.col("text")
    return docs.select(
        "doc_id",
        F.md5(txt.normalize_text(c)).alias("norm_hash"),
        txt.url_count(c).alias("n_urls"),
        txt.email_count(c).alias("n_emails"),
    )


def _q_pii_scrub(spark, sf_dir):
    return txt.pii_scrub_report(load_table(spark, sf_dir, "documents"))


def _q_doc_packing(spark, sf_dir):
    return txt.pack_documents(
        load_table(spark, sf_dir, "documents"), cap_tokens=2048, shards=16
    )


def _q_vocab_stats(spark, sf_dir):
    return txt.vocab_stats(load_table(spark, sf_dir, "documents"))


def _q_token_topk(spark, sf_dir):
    return txt.token_topk(load_table(spark, sf_dir, "documents"), k=20)


def _q_dedup_exact(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_duplicates(docs)


def _q_minhash_sigs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, k=MINHASH_K)


def _q_neardup_first_arrival(spark, sf_dir):
    """First-arrival-wins near-dup at LSH-bucket granularity (the batch
    twin of the streaming foreachBatch ingest): a doc survives iff it is
    the min-doc_id claimant of EVERY one of its band buckets. Same
    minhash/band dials as the lsh_candidates entry. Oracle: identical
    band keys in SQL, min(doc_id) per bucket, all-buckets conjunction."""
    from graphframes_rs_spark.streaming import dedup as sdedup

    docs = load_table(spark, sf_dir, "documents")
    return sdedup.neardup_first_arrival(
        docs, k=MINHASH_K, bands=MINHASH_BANDS
    )


def _q_simhash_first_arrival(spark, sf_dir):
    """First-arrival-wins near-dup in the SIMHASH space (the batch twin
    of streaming_simhash_dedup): a doc survives iff it is the min-doc_id
    claimant of BOTH of its pigeonhole band buckets (bits=32,
    max_hamming=1 => two 16-bit bands; any pair within the Hamming
    budget shares a whole band — the door-filter default, sized so
    spurious bucket collisions stay rare: see the operator's band-width
    rule). Oracle: the simhash signature SQL + the same band
    extraction, min per bucket, all-buckets conjunction."""
    from graphframes_rs_spark.streaming import dedup as sdedup

    docs = load_table(spark, sf_dir, "documents")
    return sdedup.simhash_first_arrival(docs)


def _q_embedding_first_arrival(spark, sf_dir):
    """First-arrival-wins near-dup in EMBEDDING space (the batch twin of
    streaming_embedding_dedup): a vector survives iff no smaller-id
    vector has cosine >= threshold with it — every processed vector
    claims, accepted or not (the microbatch-invariance property).
    method="blocked" pins the exact candidate path so the DuckDB
    cross-pair oracle is exact. Oracle: pairwise round-6 cosine, drop
    the larger id of every qualifying pair, NULL vectors pass."""
    from graphframes_rs_spark.streaming import dedup as sdedup

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return sdedup.embedding_first_arrival(
        emb, threshold=NEARDUP_COS_T, method="blocked"
    )


def _q_lsh_candidates(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, k=MINHASH_K)
    # max_bucket_size=None: the DuckDB oracle for this entry is exact
    # (uncapped), so the oracle-gated query must be exact too; production
    # callers keep the capped default (DEFAULT_MAX_BUCKET_SIZE).
    return dedup.minhash_lsh_candidates(
        sigs, k=MINHASH_K, bands=MINHASH_BANDS, max_bucket_size=None
    )


def _q_jaccard_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # max_doc_freq=None: exact to match the exact DuckDB oracle (the
    # capped default stays on for production callers).
    return dedup.ngram_jaccard_pairs(docs, threshold=JACCARD_T, max_doc_freq=None)


def _q_dedup_incremental(spark, sf_dir):
    """Incremental-ingestion dedup: the batch (doc_id >= 400) against the
    already-accepted index (doc_id < 400) — LSH band collisions between
    the two signature tables, exact distinct-shingle Jaccard verification
    on candidates; only new x index pairs are ever considered. Oracle:
    the same band construction + shingle-intersection Jaccard in SQL,
    restricted to cross-corpus pairs. max_bucket_size=None: exact to
    match the exact oracle (the capped default stays on in production)."""
    docs = load_table(spark, sf_dir, "documents")
    index = docs.filter(F.col("doc_id") < 400)
    new = docs.filter(F.col("doc_id") >= 400)
    return dedup.dedup_against_index(
        new, index, k=MINHASH_K, bands=MINHASH_BANDS, threshold=JACCARD_T,
        max_bucket_size=None,
    )


def _q_dedup_incr_indexed(spark, sf_dir):
    """Same incremental-ingestion contract as dedup_incremental, but
    through a prebuilt pipeline.dedup.MinHashIndex (the corpus's banded
    signature + shingle tables precomputed once and reused per batch —
    the MinHash-space index object mirroring similarity.IVFIndex and
    ExactSubstrIndex). Query-time params default to the index's stored
    build provenance. The oracle is byte-identical to dedup_incremental's
    — the index changes WHERE the corpus pipeline is paid, never the
    emitted pairs."""
    docs = load_table(spark, sf_dir, "documents")
    idx = dedup.minhash_index(
        docs.filter(F.col("doc_id") < 400), k=MINHASH_K, bands=MINHASH_BANDS
    )
    return dedup.dedup_against_index(
        docs.filter(F.col("doc_id") >= 400), idx, threshold=JACCARD_T,
        max_bucket_size=None,
    )


def _q_ngram_dup_coverage(spark, sf_dir):
    """Exact-substring-dedup estimate: per-doc fraction of 3-gram
    positions (and of tokens, via span-union coverage) duplicated across
    >= 2 documents. Oracle: the same positional-gram pipeline in plain SQL
    over the raw gram strings (Spark shuffles 64-bit hashes instead — the
    values agree unless xxhash64 collides, which at this scale it does
    not)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicated_ngram_coverage(docs, n=3)


def _q_dedup_strip_spans(spark, sf_dir):
    """Exact-substring dedup REWRITE (Lee et al. 2022): every token
    covered by a 3-gram that appears in >= 2 documents is removed and the
    survivors re-joined in original order — the production cut that
    ngram_dup_coverage only measures. Oracle: the identical positional-
    gram pipeline + anti-join + ORDER BY-pos string_agg rebuild in SQL
    over raw gram strings (Spark ships 64-bit xxhash grams instead; the
    outputs agree unless the hash collides, which at this scale it does
    not)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.strip_duplicated_spans(docs, n=3)


def _q_exact_substr_spans(spark, sf_dir):
    """TRUE exact-substring duplicate spans (Lee et al. 2022 ExactSubstr;
    reference has no text ops — beyond-reference operator): maximal char
    spans covered by a verbatim >= 40-char substring occurring >= 2 times
    corpus-wide, occurrence-counted (same-doc repeats count). Exact by
    the window lemma (pipeline/dedup.py:exact_substr_spans) — equivalent
    to a suffix-array scan at threshold 40 without a global suffix sort.
    Oracle: the same positional 40-char-window pipeline over RAW substrings
    plus a gaps-and-islands interval merge (Spark ships xxhash64 of each
    window instead; outputs agree unless the hash collides, which at this
    scale it does not)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substr_spans(docs, min_len=40, min_count=2)


def _q_exact_substr_keepfirst(spark, sf_dir):
    """keep_first=True exact-substring spans: only NON-FIRST occurrences
    of each duplicated 40-char window are reported (one canonical copy of
    every duplicated passage survives corpus-wide). Oracle: at
    min_count=2 the removal set is exactly the occurrences with
    row_number > 1 per window content (ordered by doc_id, pos), then the
    same island merge."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substr_spans(
        docs, min_len=40, min_count=2, keep_first=True
    )


def _q_exact_substr_incr(spark, sf_dir):
    """Incremental exact-substring dedup (the third incremental space
    next to dedup_incremental's MinHash and embedding_dedup_incr's IVF):
    the corpus splits by doc_id % 5 into an accepted index (!= 0) and a
    new batch (== 0); spans of batch docs covered by a 40-char window
    PRESENT in the index (presence semantics, >= 1 occurrence). Oracle:
    batch windows semi-joined to index windows over raw substrings + the
    same island merge."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    idx = dedup.exact_substr_index(corpus, min_len=40)
    return dedup.exact_substr_spans_against_index(batch, idx, min_len=40)


def _q_exact_substr_strip(spark, sf_dir):
    """Rewrite half of TRUE exact-substring dedup: every char inside an
    exact_substr_spans span removed from every occurrence, survivors
    re-joined in order via one JVM-side F.aggregate fold over the per-doc
    sorted span array. Oracle: the spans pipeline + lag()-segment
    string_agg rebuild in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_substr_strip(docs, min_len=40, min_count=2)


def _q_tfidf_topk(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return txt.tfidf_topk_terms(docs, k=5)


def _q_bm25(spark, sf_dir):
    """Okapi BM25 top-20 for the query {hash, join, spark} (k1=1.2,
    b=0.75). Oracle: the scoring formula written out in SQL over the same
    whitespace tokenization."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.bm25_search(docs, ["hash", "join", "spark"], k=20)


def _q_simhash(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash(docs, bits=32)


def _q_simhash_neardups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    # max_bucket_size=None: the oracle is brute-force-exact over all pairs.
    return dedup.simhash_near_duplicates(
        docs, bits=32, max_hamming=3, max_bucket_size=None
    )


def _q_simhash_incr(spark, sf_dir):
    """Incremental simhash ingestion dedup through a prebuilt
    pipeline.dedup.SimHashIndex (doc_id<400 corpus, doc_id>=400 batch):
    pigeonhole band collisions between the batch's signatures and the
    index's stored ones, exact popcount filter. Cap off => provably
    equal to the brute-force cross-side scan, which IS the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    idx = dedup.simhash_index(docs.filter(F.col("doc_id") < 400), bits=32)
    return dedup.simhash_against_index(
        docs.filter(F.col("doc_id") >= 400), idx,
        max_hamming=3, max_bucket_size=None,
    )


def _q_embedding_neardup(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return dedup.embedding_near_duplicates(emb, threshold=NEARDUP_COS_T)


def _q_embedding_dedup_incr(spark, sf_dir):
    """Incremental embedding-ingestion dedup through a PREBUILT IVF index
    (similarity.ivf_index + dedup.embedding_dedup_against_index): the
    corpus is split by vec_id % 5 into an existing index (!= 0) and a new
    batch (== 0); only new x index pairs are emitted, exact-cosine
    rescored. Full-probe dials (nprobe = nlist) make the candidate set
    provably exhaustive, so this entry pins the CONTRACT (pair policy +
    exact rescore + index reuse) — the approximation dials are exercised
    by the recall-gated pytests and the bench's 200k recall column."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    index_side = emb.filter(F.col("vec_id") % 5 != 0)
    batch = emb.filter(F.col("vec_id") % 5 == 0)
    idx = similarity.ivf_index(index_side, nlist=4)
    return dedup.embedding_dedup_against_index(
        batch, idx, threshold=NEARDUP_COS_T, nprobe=4
    )


def _q_embedding_neardup_ivf(spark, sf_dir):
    """[id_a, id_b, recall_ok] — the IVF-cell-bounded near-dup candidate
    path (similarity.ivf_cosine_candidates) gated against the exact pair
    set: rows are the exact pairs, recall_ok is the corpus-level recall
    >= 0.8 gate (measured 1.0 at nlist=8/nprobe=4 on the sf fixtures; the
    seeded KMeans quantizer makes the candidate set deterministic). The
    sub-quadratic 100 TB path for embedding dedup — total gram FLOPs
    ~ nprobe*n^2/nlist vs the exact generator's n^2/1."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    exact = dedup.embedding_near_duplicates(emb, threshold=NEARDUP_COS_T).select(
        "id_a", "id_b"
    )
    approx = dedup.embedding_near_duplicates(
        emb, threshold=NEARDUP_COS_T, method="ivf", nlist=8, nprobe=4
    ).select("id_a", "id_b", F.lit(1).alias("__hit"))
    joined = exact.join(approx, ["id_a", "id_b"], "left")
    gate = joined.agg(
        (
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            >= F.count(F.lit(1)) * F.lit(0.8)
        ).alias("recall_ok")
    )
    # 1-row broadcast cross join: the same scalar-broadcast pattern the
    # PageRank normalizers use — no collect, no driver round-trip
    return exact.crossJoin(F.broadcast(gate))


def _q_ann_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk(emb, queries, k=ANN_K)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training: per query vector
    (vec_id < 10), the top-5 most-similar embeddings with a DIFFERENT
    label — the informative negatives. Base stays distributed, queries
    broadcast, rank-truncating window. Oracle: the same label-pruned
    cross score + row_number in SQL."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.col("label").cast("long").alias("label"),
    )
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.hard_negatives(emb, queries, k=ANN_K)


def _q_rich_club(spark, sf_dir):
    """Rich-club coefficient phi(k) of the big bipartite graph at degree
    thresholds 1/2/4/8/16 — hubs-linking-hubs structure. One edge pass
    evaluates every threshold as conditional sums (never a scan per k).
    Oracle: identical symmetrize + threshold counts in SQL."""
    g = lineitem_graph(spark, sf_dir)
    return g.rich_club(ks=(1, 2, 4, 8, 16))


def _q_rfm_features(spark, sf_dir):
    """RFM (recency/frequency/monetary) user-feature block with ntile
    quantile scores — deterministic (recency vs the corpus max timestamp,
    tie-broken window orders). One combine-enabled groupBy over events is
    the only full-data pass; windows run on the per-user frame. Oracle:
    identical date_diff + ntile orders in SQL."""
    events = load_table(spark, sf_dir, "events")
    return ev.rfm_features(events, n_bins=5)


def _q_ab_test_welch(spark, sf_dir):
    """Per-event-type Welch's t-test between two deterministic arms
    (user_id parity) over the event value metric — the experimentation
    readout. Variances from (Σx, Σx², n) so the oracle evaluates the
    identical closed form; one combine-enabled groupBy is the only
    full-data pass. Oracle: the same sums + Welch expressions in SQL."""
    events = load_table(spark, sf_dir, "events")
    return ev.ab_test_welch(events)


def _q_inverted_postings(spark, sf_dir):
    """Inverted-index build: per term its document frequency, corpus
    frequency, and the first-50 ascending-doc_id posting list as a
    comma-joined string (scalar export form; the cap keeps stop-word
    rows bounded while df/cf still count everything). Oracle: the same
    per-(term, doc) tf aggregate + list_sort slice in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.inverted_postings(docs, min_df=2, max_postings=50)


def _q_fastrp(spark, sf_dir):
    """FastRP node embeddings (Chen et al. 2019) over the customer->
    nation->region hierarchy graph: ±1 hash-parity projection, 2 hops of
    neighbour-sum, hop-mixed by integer addition — exact integers end to
    end, so the SQL oracle replays it bit-for-bit. Output is the
    exploded scalar form [id, dim, emb]."""
    from graphframes_rs_spark.operators.fastrp import fastrp_embedding

    g = customer_hierarchy_graph(spark, sf_dir)
    return fastrp_embedding(g.edges, dims=4, hops=2, seed=42)


def _q_ann_topk_scan(spark, sf_dir):
    """Exact top-k with the base DISTRIBUTED and the query set broadcast —
    the dual of cosine_topk_blas for the serving-shaped case (huge base,
    few queries): one mapInPandas BLAS scan emits per-batch candidate ids
    (bounded |q|*(k+margin) per batch), then the exact sequential-fold SQL
    cosine rescores and ranks, so results are bit-identical to ann_topk.
    Oracle: identical to ann_topk (same semantics by construction)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk_scan(emb, queries, k=ANN_K)
    return out.select(
        "query_id", "neighbor_id", "cosine", F.col("rank").cast("long").alias("rank")
    )


def _recall_gate(exact, approx):
    """[query_id, recall_ok]: per-query recall@k of ``approx`` against the
    exact top-k, gated at RECALL_MIN_HITS/ANN_K. Both inputs are
    deterministic (seeded hyperplanes / seeded KMeans), so the gate is a
    hard oracle: any ANN regression flips rows to false."""
    e = exact.select("query_id", "neighbor_id")
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(e, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        e.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= RECALL_MIN_HITS).alias(
                "recall_ok"
            ),
        )
    )


def _q_ann_lsh(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=ANN_K)
    approx = similarity.lsh_topk(
        emb, queries, k=ANN_K, planes_per_table=LSH_PLANES, tables=LSH_TABLES
    )
    return _recall_gate(exact, approx)


def _q_mixture_weights(spark, sf_dir):
    """Temperature-mixing weight calculation (T5/UniMax rule): per-source
    token mass, tau=0.5 flattened target shares, and the epoch factors a
    100k-token budget implies. Oracle: the same pow/normalize/round
    expressions over the same whitespace token counts in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.temperature_mixture_weights(
        docs, strata_col="source", tau=0.5, token_budget=100_000
    )


def _q_mixture_sample(spark, sf_dir):
    """Epoch-weighted mixture sampling on the documents table, strata =
    doc_id % 3 rendered as a label: weight 2.5 repeats stratum-0 docs
    2-3x (hash fraction), 0.4 downsamples stratum-1, stratum-2 keeps the
    default single epoch. Oracle: identical hash rule + epoch explode."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("s"), (F.col("doc_id") % 3).cast("string")).alias(
            "stratum"
        ),
    )
    out = curation.mixture_sample(
        docs, "stratum", {"s0": 2.5, "s1": 0.4}, default_weight=1.0
    )
    return out.select("doc_id", "stratum", "epoch")


_MIXTURE_SQL = (
    "WITH d AS (SELECT doc_id, 's' || CAST(doc_id % 3 AS VARCHAR) AS stratum "
    "FROM documents), "
    "wtd AS (SELECT doc_id, stratum, "
    "CASE stratum WHEN 's0' THEN 2.5 WHEN 's1' THEN 0.4 ELSE 1.0 END AS w, "
    "('0x'||substr(md5('42:' || stratum || ':' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT "
    "% 1000000 AS b FROM d), "
    "cnt AS (SELECT doc_id, stratum, CAST(floor(w) AS INT) + "
    "CASE WHEN b < (w - floor(w)) * 1000000 THEN 1 ELSE 0 END AS n FROM wtd) "
    "SELECT doc_id, stratum, unnest(range(0, n)) AS epoch FROM cnt WHERE n > 0"
)


def _q_corpus_shuffle(spark, sf_dir):
    """Deterministic hash shuffle into 8 training shards; output is the
    (shard, pos) layout for every doc. Oracle: the same two hash draws
    (shard assignment + within-shard order) in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return curation.corpus_shuffle(docs, num_shards=8)


_SHUFFLE_SQL = (
    "WITH d AS (SELECT doc_id, "
    "('0x'||substr(md5('42:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT % 8 "
    "AS shard, "
    "('0x'||substr(md5('pos|42:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT "
    "AS ord FROM documents) "
    "SELECT CAST(shard AS INT) AS shard, "
    "CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id) - 1 "
    "AS BIGINT) AS pos, doc_id FROM d"
)


def _q_sample_neighbors(spark, sf_dir):
    """GraphSAGE fanout sampling (k=3) on the REVERSED hierarchy graph
    (regions/nations have real branching). Oracle: the identical
    hash-ranked row_number filter in SQL."""
    from graphframes_rs_spark.operators.random_walks import sample_neighbors

    g = customer_hierarchy_graph(spark, sf_dir)
    rev = GraphFrame(
        g.vertices,
        g.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
    )
    return sample_neighbors(rev, k=3, seed=42)


_SAMPLE_NBRS_SQL = (
    f"WITH e AS (SELECT dst AS src, src AS dst FROM ({_EDGES_SMALL_SQL})), "
    "r AS (SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY "
    "('0x'||substr(md5(CAST(dst AS VARCHAR)||'|42'),1,15))::BIGINT, dst) "
    "AS rank FROM (SELECT DISTINCT src, dst FROM e)) "
    "SELECT src AS id, dst AS neighbor, CAST(rank AS INT) AS rank "
    "FROM r WHERE rank <= 3"
)


def _q_hypertable_rollup(spark, sf_dir):
    """15min -> 1h -> 1d continuous-aggregate hierarchy; coarser levels
    re-aggregate the finer level, never the raw events. Oracle: every
    level computed DIRECTLY from the raw events in SQL — equality proves
    the re-aggregation (sum/count/min/max composition) is lossless."""
    events = load_table(spark, sf_dir, "events")
    return ev.hypertable_rollup(events)


_ROLLUP_SQL = (
    "SELECT r.res AS resolution_s, "
    "((epoch_ms(ts) // 1000) // r.res) * r.res AS window_start_epoch, "
    "event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "round(sum(value), 6) AS total_value, "
    "round(min(value), 6) AS min_value, round(max(value), 6) AS max_value "
    "FROM events CROSS JOIN (VALUES (900), (3600), (86400)) r(res) "
    "GROUP BY 1, 2, 3"
)


def _q_asof_join(spark, sf_dir):
    """Point-in-time join: every purchase gets the user's latest click at
    or before it (no future leakage). The Spark side is the
    union-sort-carry window plan (no join operator); the oracle is
    DuckDB's NATIVE ``ASOF LEFT JOIN`` — an entirely independent
    implementation, so the gate checks semantics, not a replay."""
    from graphframes_rs_spark.pipeline.joins import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value"
    )
    out = asof_join(purchases, clicks, "user_id")
    # NULL-free entry policy: purchases with no prior click carry epoch-0 /
    # -1 sentinels instead of NULLs (the library keeps the NULLs)
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce(
            "ts_right", F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("ts_right"),
        F.coalesce("value_right", F.lit(-1.0)).alias("value_right"),
    )


_ASOF_SQL = (
    "WITH p AS (SELECT event_id, user_id, ts FROM events "
    "WHERE event_type = 'purchase'), "
    "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') "
    "SELECT p.event_id, p.user_id, p.ts, "
    "COALESCE(c.ts, TIMESTAMP '1970-01-01 00:00:00') AS ts_right, "
    "COALESCE(c.value, -1.0) AS value_right "
    "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts"
)


def _q_events_sliding(spark, sf_dir):
    """Sliding-window counts (1 h window, 15 min slide): every event lands
    in exactly 4 overlapping windows. Oracle: explicit k=0..3 window-start
    expansion with Spark's floor alignment (epoch 0, slide-aligned)."""
    events = load_table(spark, sf_dir, "events")
    out = ev.sliding_counts(events, "1 hour", "15 minutes")
    return out.select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )


_SLIDING_SQL = (
    "WITH w AS (SELECT event_type, value, "
    "((epoch_ms(ts) // 1000) // 900 - k.k) * 900 AS ws "
    "FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) k(k)) "
    "SELECT ws AS window_start_epoch, event_type, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "round(sum(value), 6) AS total_value FROM w GROUP BY 1, 2"
)


def _q_attribution(spark, sf_dir):
    """Conversion attribution: click -> purchase pairs per user within a
    30-minute horizon (the batch face of the stream-stream interval
    join; the streaming face is pytest-exercised via readStream)."""
    events = load_table(spark, sf_dir, "events")
    return ev.attribution_join(events, horizon_minutes=30)


_ATTRIBUTION_SQL = (
    "WITH t AS (SELECT user_id, event_id AS trigger_id, ts AS trigger_ts "
    "FROM events WHERE event_type = 'click'), "
    "o AS (SELECT user_id, event_id AS outcome_id, ts AS outcome_ts "
    "FROM events WHERE event_type = 'purchase') "
    "SELECT t.user_id, trigger_id, outcome_id, trigger_ts, outcome_ts, "
    "CAST(floor(epoch(outcome_ts)) - floor(epoch(trigger_ts)) AS BIGINT) "
    "AS lag_seconds "
    "FROM t JOIN o ON t.user_id = o.user_id "
    "AND outcome_ts > trigger_ts "
    "AND outcome_ts <= trigger_ts + INTERVAL 30 MINUTE"
)


def _q_bipartite_projection(spark, sf_dir):
    """One-mode projection of the lineitem bipartite graph onto suppliers:
    supplier pairs weighted by shared-order count (>= 2). Oracle passes
    the hub cap explicitly uncapped so the gate checks the exact
    projection semantics; the production default keeps the cap ON."""
    from graphframes_rs_spark.operators.link_prediction import (
        bipartite_projection,
    )

    g = lineitem_graph(spark, sf_dir)
    return bipartite_projection(
        g.edges, side="dst", max_degree=None, min_common=2
    )


_BIPROJ_SQL = (
    f"WITH e AS ({_EDGES_BIG_SQL}) "
    "SELECT l.dst AS a, r.dst AS b, count(*) AS n_common "
    "FROM e l JOIN e r ON l.src = r.src AND l.dst < r.dst "
    "GROUP BY l.dst, r.dst HAVING count(*) >= 2"
)


def _q_kmv_overlap(spark, sf_dir):
    """KMV bottom-k sketch overlap between the even-doc and odd-doc
    halves' token vocabularies — corpus overlap from 2x256 sketch rows,
    no vocabulary join. Oracle: the identical min-k hash sets and
    estimate formulas in SQL."""
    from graphframes_rs_spark.functions.sketches import (
        kmv_overlap,
        kmv_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    tok = lambda parity: docs.filter(  # noqa: E731
        F.col("doc_id") % 2 == parity
    ).select(F.explode(F.split(F.col("text"), " ")).alias("token"))
    ska = kmv_sketch(tok(0), "token", k=256)
    skb = kmv_sketch(tok(1), "token", k=256)
    return kmv_overlap(ska, skb, k=256)


_KMV_SQL = (
    "WITH tokens AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token "
    "FROM documents), "
    "ska AS (SELECT DISTINCT ('0x'||substr(md5(token||'|42'),1,15))::BIGINT AS h "
    "FROM tokens WHERE doc_id % 2 = 0 ORDER BY h LIMIT 256), "
    "skb AS (SELECT DISTINCT ('0x'||substr(md5(token||'|42'),1,15))::BIGINT AS h "
    "FROM tokens WHERE doc_id % 2 = 1 ORDER BY h LIMIT 256), "
    "mg AS (SELECT COALESCE(a.h, b.h) AS h, "
    "CASE WHEN a.h IS NOT NULL THEN 1 ELSE 0 END AS ia, "
    "CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END AS ib "
    "FROM ska a FULL JOIN skb b ON a.h = b.h ORDER BY 1 LIMIT 256), "
    "agg AS (SELECT CAST(count(*) AS BIGINT) AS union_k, "
    "CAST(sum(ia * ib) AS BIGINT) AS n_both, max(h) AS kth FROM mg) "
    "SELECT union_k, n_both, "
    "round(n_both / union_k, 6) AS jaccard_est, "
    "round((n_both / union_k) * (CASE WHEN union_k < 256 "
    "THEN CAST(union_k AS DOUBLE) "
    "ELSE (255.0 * 1152921504606846976.0) / kth END), 6) AS intersection_est "
    "FROM agg"
)


def _q_token_cms(spark, sf_dir):
    """Count-Min sketch of corpus token frequencies (4 x 1024 cells)
    point-queried for the full vocabulary. Oracle: the identical
    md5-celled sketch built and queried in SQL — every estimate matches
    exactly, overestimates and all."""
    docs = load_table(spark, sf_dir, "documents")
    sketch = txt.token_cms(docs, width=1024, depth=4)
    vocab = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    ).distinct()
    return txt.token_cms_estimate(sketch, vocab, width=1024, depth=4)


_TOKEN_CMS_SQL = (
    "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token "
    "FROM documents), "
    "ds AS (SELECT * FROM (VALUES (0),(1),(2),(3)) d(d)), "
    "cells AS (SELECT d.d, ('0x'||substr(md5("
    "CAST(d.d AS VARCHAR)||'|'||token||'|42'),1,15))::BIGINT % 1024 AS col "
    "FROM tok CROSS JOIN ds d), "
    "sk AS (SELECT d, col, count(*) AS cnt FROM cells GROUP BY d, col), "
    "q AS (SELECT v.token, d.d, ('0x'||substr(md5("
    "CAST(d.d AS VARCHAR)||'|'||v.token||'|42'),1,15))::BIGINT % 1024 AS col "
    "FROM (SELECT DISTINCT token FROM tok) v CROSS JOIN ds d) "
    "SELECT token, min(COALESCE(cnt, 0)) AS est_count "
    "FROM q LEFT JOIN sk USING (d, col) GROUP BY token"
)


def _q_line_dedup(spark, sf_dir):
    """C4-style corpus-global exact line dedup. The synthetic docs have no
    newlines, so words are first chunked deterministically into 4-word
    lines (both engines apply the identical transform); the planted
    near-duplicate groups then share whole lines, which must survive only
    at their first (doc_id, pos) occurrence. Oracle: the same
    min-key-first / reassemble logic in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    nchunks = F.ceil(F.size(words) / F.lit(4)).cast("int")
    chunked = docs.select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), nchunks - 1),
                lambda i: F.array_join(F.slice(words, i * 4 + 1, 4), " "),
            ),
            "\n",
        ).alias("text"),
    )
    out = dedup.line_dedup(chunked)
    return out.select("doc_id", "text", "n_kept", "n_dropped")


_LINE_DEDUP_SQL = (
    "WITH d2 AS (SELECT doc_id, list_transform("
    "range(1, CAST(ceil(len(string_split(text, ' ')) / 4.0) AS BIGINT) + 1), "
    "i -> array_to_string((string_split(text, ' '))[(i-1)*4+1:(i-1)*4+4], ' ')"
    ") AS lines FROM documents), "
    "seg AS (SELECT doc_id, unnest(range(1, len(lines)+1)) AS i, lines FROM d2), "
    "segl AS (SELECT doc_id, i - 1 AS pos, lines[i] AS line FROM seg), "
    "firsts AS (SELECT line, min(doc_id * 4096 + pos) AS fk FROM segl GROUP BY line), "
    "surv AS (SELECT s.doc_id, s.pos, s.line FROM segl s JOIN firsts f "
    "ON s.line = f.line AND s.doc_id * 4096 + s.pos = f.fk), "
    "tot AS (SELECT doc_id, count(*) AS n_total FROM segl GROUP BY doc_id) "
    "SELECT s.doc_id, string_agg(s.line, chr(10) ORDER BY s.pos) AS text, "
    "count(*) AS n_kept, any_value(t.n_total) - count(*) AS n_dropped "
    "FROM surv s JOIN tot t ON s.doc_id = t.doc_id GROUP BY s.doc_id"
)


def _q_embedding_outliers(spark, sf_dir):
    """Distance-to-centroid z-score outlier flags over the embeddings
    table. Oracle: per-dimension mean via unnest indexing, the identical
    sequential-fold distance, and population-stddev z-scores in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_outliers(emb, z_threshold=2.0)


_EMB_OUTLIERS_SQL = (
    # the distance fold is ORDERED (list_reduce over dimension order), so
    # it reproduces Spark's sequential aggregate() fold bit-for-bit given
    # the same mean vector
    "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), "
    "dims AS (SELECT unnest(range(1, len(v) + 1)) AS i, v FROM e), "
    "mu AS (SELECT list(m ORDER BY i) AS mv FROM "
    "(SELECT i, avg(v[i]) AS m FROM dims GROUP BY i)), "
    "dist AS (SELECT vec_id, sqrt(list_reduce(list_transform("
    "range(1, len(v) + 1), i -> (v[i] - mv[i]) * (v[i] - mv[i])), "
    "(a, b) -> a + b)) AS dist FROM e CROSS JOIN mu), "
    "mom AS (SELECT avg(dist) AS md, stddev_pop(dist) AS sd FROM dist) "
    "SELECT vec_id, round(dist, 6) AS dist, "
    "round(CASE WHEN sd > 0 THEN (dist - md) / sd ELSE 0.0 END, 6) AS z, "
    "(CASE WHEN sd > 0 THEN (dist - md) / sd ELSE 0.0 END) > 2.0 AS is_outlier "
    "FROM dist CROSS JOIN mom"
)


def _q_ann_pq(spark, sf_dir):
    """Product-quantization ANN (m=8 subspaces x 6 bits, ADC scoring,
    exact rerank of the top 150): same per-query recall@5 gate as the
    LSH/IVF entries. Measured min per-query recall at these dials is
    1.0 at sf0.01."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=ANN_K)
    approx = similarity.pq_topk(
        emb, queries, k=ANN_K, m=8, nbits=6, rerank=150
    )
    return _recall_gate(exact, approx)


def _q_ann_ivfpq(spark, sf_dir):
    """IVFADC composite (coarse inverted lists bound the rows scanned,
    PQ residual codes bound the bytes shipped — the production 1e9+
    vector shape): nlist=16, nprobe=12, m=8 x 6 bits on residuals, ADC
    top-200 re-ranked exactly. Measured min per-query recall@5 at these
    dials is 0.8 at sf0.01 (the misses are coarse-probe misses, gone at
    nprobe=nlist), exactly the 4/5 gate."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=ANN_K)
    approx = similarity.ivfpq_topk(
        emb, queries, k=ANN_K, nlist=IVF_NLIST, nprobe=12, m=8, nbits=6,
        rerank=200,
    )
    return _recall_gate(exact, approx)


def _q_ann_ivf(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(emb, queries, k=ANN_K)
    approx = similarity.ivf_topk(
        emb, queries, k=ANN_K, nlist=IVF_NLIST, nprobe=IVF_NPROBE
    )
    return _recall_gate(exact, approx)


def _q_image_features(spark, sf_dir):
    """Real-codec round trip: deterministic 8x6 PPM payloads are encoded
    per document id, decoded by the pure-numpy P6 parser inside
    mapInPandas, and reduced to per-channel means — which the oracle
    reproduces analytically from the pixel formula (byte i of image m is
    (m*31 + i*7) % 256)."""
    from graphframes_rs_spark.pipeline import multimodal as mm

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = mm.synthetic_ppm_media(ids, width=8, height=6)
    return mm.image_features(media)


def _q_image_dims(spark, sf_dir):
    """JPEG header-parsing round trip: deterministic SOF0/SOF2 header
    streams are encoded per document id (width 16 + m % 97, height
    9 + m % 53, progressive for odd m), parsed back by the pure-python
    marker walk inside mapInPandas — no codec library, no fake decoder.
    The oracle reproduces the dimensions from the closed form."""
    from graphframes_rs_spark.pipeline import multimodal as mm

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    return mm.image_dimensions(mm.synthetic_jpeg_media(ids))


def _q_image_dims_png(spark, sf_dir):
    """PNG header-parsing round trip: deterministic signature+IHDR+IEND
    streams are encoded per document id (width 32 + m % 89, height
    11 + m % 41, RGBA/RGB alternating), parsed back by the pure-python
    IHDR chunk walk inside mapInPandas — no codec library, no fake
    decoder. The oracle reproduces the dimensions from the closed form."""
    from graphframes_rs_spark.pipeline import multimodal as mm

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    return mm.image_dimensions(mm.synthetic_png_media(ids))


def _q_video_duration(spark, sf_dir):
    """MP4 container-parsing round trip: deterministic ftyp+moov/mvhd
    streams are encoded per document id (duration 500 + (m % 997) * 10 ms
    at timescale 1000, mvhd v0/v1 alternating), parsed back by the
    pure-python box walk inside mapInPandas. The oracle reproduces the
    duration from the closed form."""
    from graphframes_rs_spark.pipeline import multimodal as mm

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    return mm.video_durations(mm.synthetic_mp4_media(ids))


def _q_audio_features(spark, sf_dir):
    """Real-codec round trip for audio: deterministic PCM WAV clips decoded
    by the stdlib wave parser inside mapInPandas; the oracle integrates the
    sample formula (((m*31 + i*7) % 256 - 128) * 256 as int16) analytically."""
    from graphframes_rs_spark.pipeline import multimodal as mm

    ids = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id")
    )
    media = mm.synthetic_wav_media(ids, n_samples=256, sample_rate=8000)
    return mm.audio_features(media)


def _q_event_transitions(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    return ev.event_transitions(events)


def _q_events_hourly(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = ev.tumbling_counts(events, "1 hour")
    return out.select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "event_type",
        "n_events",
        "total_value",
    )


def _q_sessions(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    out = ev.sessionize(events, gap_minutes=30)
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.col("session_start").cast("long").alias("session_start_epoch"),
        F.col("session_end").cast("long").alias("session_end_epoch"),
        "n_events",
    )


def _q_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") < 45)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def _q_top_customers(spark, sf_dir):
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    rev = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("revenue"))
    )
    w = Window.orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
    )


def _q_dedup_clusters(spark, sf_dir):
    """Near-dup clusters: WCC over the exact n-gram-Jaccard pair graph —
    the graph+pipeline composition (transitivity from components, not
    pairs). Oracle: recursive-CTE closure with min-member labels."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.duplicate_clusters(
        docs, threshold=JACCARD_T, max_doc_freq=None, checkpoint_dir=_ckpt()
    )


def _q_token_pmi(spark, sf_dir):
    """Top-100 token collocations by document-level PMI (Church & Hanks
    1990) over df>=5 tokens and pair-df>=3 — rank by rounded pmi then
    lexicographic pair, fully deterministic. Oracle: identical
    distinct-presence counts and ln ratio in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.token_pmi(docs, min_count=5, min_pair_count=3, topk=100)


def _q_ngram_containment(spark, sf_dir):
    """Quote / excerpt detection: pairs with word-3-gram CONTAINMENT
    |A∩B|/min(|A|,|B|) >= 0.5 — catches a short doc pasted inside a long
    one that Jaccard's union term dilutes below threshold. Same inverted
    index as jaccard_pairs (exact here: max_doc_freq=None to match the
    exact oracle; the df cap stays ON for production callers). Oracle:
    identical shingle pipeline + least() denominator in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(
        docs, threshold=0.5, max_doc_freq=None
    )


def _q_bpe_merges(spark, sf_dir):
    """Top-100 adjacent character-pair counts weighted by word frequency
    — the merge-selection statistic of a BPE tokenizer trainer (Sennrich
    et al. 2016). Corpus collapses to the distinct-word frame first so
    pair work is vocabulary-bounded, not corpus-bounded. Oracle: same
    distinct-word freq + substr pair explode + rank in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.bpe_merge_stats(docs, topk=100, min_count=2)


# fixed rank-ordered merge list for the bpe_encode entry — shared
# LITERALLY by the Spark query and the DuckDB oracle so the gate tests
# the ENCODER (merge replay, positions, id assignment), with the trainer
# covered by its own pure-python-twin pytest (tests/test_text_search.py)
_BPE_ENTRY_MERGES = [
    ("t", "h"), ("th", "e"), ("a", "n"), ("i", "n"),
    ("an", "d"), ("r", "o"), ("e", "r"), ("s", "t"),
]


def _q_bpe_encode(spark, sf_dir):
    """BPE application: each document's symbol sequence under a fixed
    rank-ordered merge list (greedy merge-order replay, Sennrich et al.
    2016), with dense sorted-vocabulary token ids. The replay runs once
    per DISTINCT word (vocab-bounded pandas UDF) and joins back to the
    positional stream. Oracle: the same replay as a DuckDB recursive
    CTE — one sentinel-delimited replace per step until per-rank
    fixpoint — then identical window position/id assignment."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.bpe_encode(docs, _BPE_ENTRY_MERGES)


def _q_bpe_encode_fixed(spark, sf_dir):
    """Fixed-vocab BPE encoding (the production tokenizer contract): the
    symbol vocabulary is FROZEN on a train slice (doc_id % 5 != 0) —
    distinct characters ∪ each merge's fused symbol, dense sorted ids,
    id 0 reserved for unk — then a DISJOINT batch (doc_id % 5 == 0) is
    encoded against it, so ids match the train corpus's assignments and
    never drift batch-to-batch (contrast `bpe_encode`, whose ids are
    corpus-relative). OOV symbols keep their text with token_id = 0.
    Oracle: same recursive-CTE merge replay over the batch + the same
    chars-∪-fused vocabulary from the train slice, LEFT JOIN, unk 0."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = txt.bpe_vocab(
        docs.filter(F.col("doc_id") % 5 != 0), merges=_BPE_ENTRY_MERGES
    )
    return txt.bpe_encode(docs.filter(F.col("doc_id") % 5 == 0), vocab=vocab)


def _q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al., NeurIPS 2023): per-doc
    hashed-n-gram log-likelihood ratio of a target slice (sources
    src13/src8) vs the raw corpus, for importance resampling toward the
    target distribution. Bucket log-ratios are quantized to integer
    micro-units before the per-doc dot product so the score is exact-sum
    reproducible. Oracle: identical md5-hash60 buckets, Laplace
    smoothing, and integer dot product in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_weights(
        docs, ["src13", "src8"], n_buckets=256, smoothing=1.0
    )


def _q_dedup_keep_best(spark, sf_dir):
    """Near-dup clusters with the survivor chosen by QUALITY (argmax via
    one combine-enabled max_by aggregate, ties -> lowest doc_id) — the
    curation form of dedup: min-id canonicals throw away the best-written
    copy whenever it isn't the smallest id. Oracle: the dedup_clusters
    recursive-CTE closure + the quality expression + a row_number argmax."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dedup_keep_best(
        docs, threshold=JACCARD_T, max_doc_freq=None, checkpoint_dir=_ckpt()
    )


def _q_decontaminate(spark, sf_dir):
    """Benchmark-overlap check: distinct 3-gram collisions of every train
    doc (doc_id % 100 != 0) against the deterministic eval split."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.decontamination_report(docs)


def _q_decontaminate_semantic(spark, sf_dir):
    """Embedding-space decontamination: max cosine of every train vector
    (vec_id % 50 != 0) against the deterministic eval split, flagged at
    0.8 (graphframes_rs_spark/pipeline/curation.py semantic_decontamination)."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return curation.semantic_decontamination(emb, threshold=0.8)


def _q_curate_corpus(spark, sf_dir):
    """End-to-end curation verdict: one keep/drop decision per document
    with the first failing stage as reason (eval holdout -> exact dup ->
    quality -> repetition -> contamination -> mixture sampling).
    Thresholds chosen to exercise multiple reasons on this corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.curate_corpus(docs, quality_min=0.82, top_bigram_max=0.06)


def _q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style clusters: WCC over the embedding-cosine near-dup
    pair graph (blocked-BLAS candidates + exact SQL rescore). Oracle:
    brute-force cosine pairs + recursive-CTE closure, min-member labels."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return dedup.semantic_dedup_clusters(
        emb, threshold=NEARDUP_COS_T, checkpoint_dir=_ckpt()
    )


def _q_decontaminate_eval(spark, sf_dir):
    """The production decontamination path: an EXPLICIT eval/benchmark set
    (here doc_id % 50 == 1) checked against the full corpus — eval docs
    that are themselves in the corpus come back 100% contaminated, the
    leak the operator exists to catch."""
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % 50 == 1).select("doc_id", "text")
    return curation.decontamination_report(docs, eval_docs=eval_docs)


def _q_decontaminate_prod(spark, sf_dir):
    """Decontamination at the documented production n-gram range (8-13
    words; n=9 here): long shingles collide only on verbatim leaks, the
    realistic benchmark-overlap configuration."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.decontamination_report(docs, n=9)


def _q_stratified_sample(spark, sf_dir):
    """Deterministic hash-based training-mixture sampling, stratified by
    predicted language (50% en, 10% und, 25% otherwise)."""
    docs = load_table(spark, sf_dir, "documents")
    with_lang = docs.select(
        "doc_id", "text", txt.language_id(F.col("text")).alias("lang_pred")
    )
    return curation.stratified_sample(
        with_lang, "lang_pred", {"en": 0.5, "und": 0.1}, default_fraction=0.25
    ).select("doc_id", "lang_pred")


def _q_louvain_cliques(spark, sf_dir):
    """Louvain on planted cliques: customers form one clique per
    ``custkey % 100`` residue class (exactly equal sizes — this matters:
    with UNEVEN cliques, absorbing a small clique into a big ring
    neighbour genuinely raises modularity, so the planted partition would
    not be the optimum), plus one ring edge between consecutive groups'
    minima. Ring edges are ~1% of clique edges and uniform clique degree
    makes every cross-clique merge strictly modularity-negative
    (ΔQ = 1/m − k²/2m² < 0 at these sizes), so the optimum — and
    Louvain's answer — is exactly the planted cliques, labelled by their
    minimum member."""
    cust = load_table(spark, sf_dir, "customer").select(
        (F.col("c_custkey") + 1000).cast("long").alias("id"),
        (F.col("c_custkey") % 100).alias("grp"),
    )
    intra = (
        cust.alias("x")
        .join(
            cust.alias("y"),
            (F.col("x.grp") == F.col("y.grp")) & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("src"), F.col("y.id").alias("dst"))
    )
    mins = cust.groupBy("grp").agg(F.min("id").alias("mid"))
    ring = (
        mins.alias("x")
        .join(mins.alias("y"), F.col("y.grp") == (F.col("x.grp") + 1) % 100)
        .select(F.col("x.mid").alias("src"), F.col("y.mid").alias("dst"))
    )
    g = GraphFrame(cust.select("id"), intra.unionByName(ring))
    return g.louvain().max_moves(30).set_checkpoint_dir(_ckpt()).run()


def _q_source_stats(spark, sf_dir):
    """Per-source mixture dashboard: doc/token volume, mean quality,
    exact-dup rate, language breadth — the profile a curation run reads
    before choosing stratified_sample fractions."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.source_stats(docs)


def _q_mst_rings(spark, sf_dir):
    """Borůvka minimum spanning forest on planted weighted rings: customers
    form one ring per nation (≥3 members), ring-edge weights are a
    deterministic md5 hash < 100000, and every 5th member gets a pos+3
    chord weighted 200000+ (strictly heavier than ANY ring edge). By the
    cycle property the unique MSF is each ring minus its max-weight edge
    with every chord rejected — closed-form for the oracle, while the
    algorithm must genuinely contract components and reject cycle-heavy
    edges."""
    from pyspark.sql import Window

    from graphframes_rs_spark.pipeline.text import hash60

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_custkey")
    wg = Window.partitionBy("c_nationkey")
    g = (
        cust.select("c_nationkey", "c_custkey")
        .withColumn("cnt", F.count(F.lit(1)).over(wg))
        .filter(F.col("cnt") >= 3)
        .withColumn("pos", F.row_number().over(w))
        .withColumn("nxt", F.lead("c_custkey").over(w))
        .withColumn("nxt3", F.lead("c_custkey", 3).over(w))
        .withColumn("mn", F.min("c_custkey").over(wg))
    )
    ring = g.select(
        (F.col("c_custkey") + 1000).cast("long").alias("src"),
        (F.coalesce("nxt", "mn") + 1000).cast("long").alias("dst"),
    )
    chords = g.filter(
        (F.col("pos") % 5 == 1) & F.col("nxt3").isNotNull()
    ).select(
        (F.col("c_custkey") + 1000).cast("long").alias("src"),
        (F.col("nxt3") + 1000).cast("long").alias("dst"),
    )

    def weighted(df, base):
        u, v = F.least("src", "dst"), F.greatest("src", "dst")
        h = F.pmod(hash60(F.concat_ws(":", u, v)), F.lit(100000))
        return df.select(
            "src", "dst", (F.lit(base) + h).cast("double").alias("weight")
        )

    edges = weighted(ring, 0).unionByName(weighted(chords, 200000))
    vertices = g.select((F.col("c_custkey") + 1000).cast("long").alias("id"))
    out = (
        GraphFrame(vertices, edges)
        .minimum_spanning_forest()
        .set_checkpoint_dir(_ckpt())
        .run()
    )
    return out.select("src", "dst", "weight")


def _q_kmeans_clusters(spark, sf_dir):
    """Deterministic Lloyd k-means over the embeddings table: hash-ranked
    init, 2 rounds, rounded distances/centroids — the full assignment is
    re-derivable in SQL, so the oracle replays both rounds verbatim."""
    from graphframes_rs_spark.pipeline import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans_assign(emb, k=8, iters=2)


def _q_domain_cap(spark, sf_dir):
    """Per-source document cap (C4-style): at most 40 docs per source,
    chosen by seeded hash rank — survivors and their ranks are a pure
    window closed form."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.domain_cap(docs, group_col="source", cap=40).select(
        "doc_id", "source", "grp_rank"
    )


def _q_knn_components(spark, sf_dir):
    """Embedding-space cluster discovery: WCC over the symmetrized k=3
    cosine kNN graph — the bridge from the similarity operators into the
    graph engine. Oracle: SQL kNN edges (same rounding/tie-break) +
    recursive-CTE closure with min-member labels."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    edges = similarity.knn_graph(emb, k=3).select("src", "dst")
    verts = emb.select(F.col("vec_id").alias("id"))
    out = (
        GraphFrame(verts, edges)
        .connected_components()
        .set_checkpoint_dir(_ckpt())
        .run()
    )
    return out.select(F.col("id").alias("vec_id"), "component")


def _q_length_stats(spark, sf_dir):
    """Per-source token-length distribution (exact interpolated
    percentiles — same definition as SQL percentile_cont)."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.length_percentiles(docs, group_col="source")


def _q_cohort_retention(spark, sf_dir):
    """Hour-granularity cohort retention over the events table."""
    events = load_table(spark, sf_dir, "events")
    return ev.cohort_retention(events, granularity="hour")


def _q_funnel_steps(spark, sf_dir):
    """view -> click -> purchase ordered funnel (earliest-qualifying
    chaining, no time window)."""
    events = load_table(spark, sf_dir, "events")
    return ev.funnel(events, ["view", "click", "purchase"])


def _q_doc_chunks(spark, sf_dir):
    """Fixed-size overlapped token chunking (40-token chunks, 8 overlap)."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.chunk_documents(docs, chunk_tokens=40, overlap=8)


def _q_source_terms(spark, sf_dir):
    """Top-5 tokens per source — the per-group heavy-hitter shape (rank
    window partitioned by the group, parallel across groups)."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.grouped_token_topk(docs, group_col="source", k=5)


def _q_negative_samples(spark, sf_dir):
    """word2vec negative sampling over the hierarchy graph: each edge as
    a (center, context) skip-gram pair draws 3 negatives from the
    deg^0.75 line; the cumulative-interval layout and hash draws replay
    exactly in SQL."""
    from graphframes_rs_spark.operators.random_walks import negative_samples

    g = customer_hierarchy_graph(spark, sf_dir)
    pairs = g.edges.select(
        F.col("src").alias("center"), F.col("dst").alias("context")
    )
    return negative_samples(g.edges, pairs, k=3)


def _q_snapshot_diff(spark, sf_dir):
    """CDC snapshot diff with a planted change mix: every 10th customer's
    balance bumped (updated), every 97th dropped (deleted), every 500th
    cloned to a new key (inserted), rest unchanged."""
    from graphframes_rs_spark.pipeline import cdc

    cust = load_table(spark, sf_dir, "customer")
    old = cust.select(F.col("c_custkey").alias("id"), F.col("c_acctbal").alias("bal"))
    new = (
        cust.filter(F.col("c_custkey") % 97 != 0)
        .select(
            F.col("c_custkey").alias("id"),
            (
                F.col("c_acctbal")
                + F.when(F.col("c_custkey") % 10 == 0, 10.0).otherwise(0.0)
            ).alias("bal"),
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 500 == 0).select(
                (F.col("c_custkey") + 200000).alias("id"),
                F.col("c_acctbal").alias("bal"),
            )
        )
    )
    return cdc.snapshot_diff(old, new, "id")


def _q_scd2(spark, sf_dir):
    """SCD type-2 validity intervals from the orders change log: each
    customer's orders become versioned rows valid until the next order
    day (open-ended sentinel + is_current for the latest)."""
    from graphframes_rs_spark.pipeline import joins

    orders = load_table(spark, sf_dir, "orders")
    ch = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    )
    out = joins.scd2_intervals(
        ch, key_col="o_custkey", ts_col="day", tiebreak_cols=("o_orderkey",)
    )
    return out.select(
        "o_custkey", "o_orderkey", "valid_from", "valid_to", "is_current"
    )


def _q_edit_distance_pairs(spark, sf_dir):
    """Record-linkage near-dup detection: 4-token prefix blocking +
    exact JVM Levenshtein rescoring."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.edit_distance_pairs(docs, prefix_tokens=4)


def _q_temporal_reach(spark, sf_dir):
    """Supply-chain contagion: earliest time each order/supplier can be
    reached from the first order via shared-supplier links whose ship
    dates never decrease (time-respecting paths on the bipartite
    lineitem graph, both directions stamped with the lineitem ship day).
    Oracle: recursive (node, time)-state closure + min."""
    li = load_table(spark, sf_dir, "lineitem")
    day = F.datediff(F.col("l_shipdate"), F.lit("1970-01-01")).cast("long")
    fwd = li.select(
        F.col("l_orderkey").alias("src"),
        (F.col("l_suppkey") + 10_000_000).cast("long").alias("dst"),
        day.alias("ts"),
    )
    rev = li.select(
        (F.col("l_suppkey") + 10_000_000).cast("long").alias("src"),
        F.col("l_orderkey").alias("dst"),
        day.alias("ts"),
    )
    edges = fwd.unionByName(rev)
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    source = li.agg(F.min("l_orderkey")).collect()[0][0]
    g = GraphFrame(verts, edges)
    return (
        g.temporal_reachability([int(source)], ts_col="ts")
        .set_checkpoint_dir(_ckpt())
        .run()
    )


def _q_events_json(spark, sf_dir):
    """Semi-structured column handling: extract the integer ``k`` field
    from the events table's JSON ``props`` string (JVM-side get_json_object
    — no Python in the path) and aggregate per event type."""
    events = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).alias("sum_k"),
        F.max(k).alias("max_k"),
    )


def _q_events_pivot(spark, sf_dir):
    """OLAP pivot: events per (day, event_type) as one wide row per day
    with an explicit (deterministic) column list."""
    events = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).cast("date")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        events.select(day.alias("day"), "event_type")
        .groupBy("day")
        .pivot("event_type", types)
        .count()
    )
    return out.select(
        F.col("day").cast("string").alias("day"),
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    )


def _q_sales_rollup(spark, sf_dir):
    """OLAP rollup: order totals at (region, nation), per-region, and
    grand-total levels in one pass (partial aggregation reused across
    levels by Spark's Expand)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
    )
    out = (
        j.rollup("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
        )
    )
    # subtotal rows carry NULL keys; surface them as 'ALL' so the result
    # is NULL-free (comparator-friendly and clearer to read)
    return out.select(
        F.coalesce("r_name", F.lit("ALL")).alias("r_name"),
        F.coalesce("n_name", F.lit("ALL")).alias("n_name"),
        "n_orders",
        "total_price",
    )


def _q_sales_cube(spark, sf_dir):
    """CUBE over (priority, status): all four grouping-set combinations in
    one pass (Spark plans a single Expand + one aggregate, not four scans).
    Subtotal NULL keys surface as 'ALL', matching sales_rollup."""
    orders = load_table(spark, sf_dir, "orders")
    out = orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_price"),
    )
    return out.select(
        F.coalesce("o_orderpriority", F.lit("ALL")).alias("o_orderpriority"),
        F.coalesce("o_orderstatus", F.lit("ALL")).alias("o_orderstatus"),
        "n_orders",
        "total_price",
    )


def _q_tpch_shipping(spark, sf_dir):
    """TPC-H Q3-shaped shipping-priority query: top-10 unshipped orders of
    one market segment by revenue. The segment filter reduces customer to
    a broadcastable key list (explicit broadcast), lineitem's date filter
    pushes to the parquet scan, and the top-10 plans as
    TakeOrderedAndProject. Oracle: the same SQL in DuckDB."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    pivot = "1998-01-01"
    keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    j = (
        orders.filter(F.col("o_orderdate") < F.lit(pivot).cast("timestamp"))
        .join(F.broadcast(keys), orders["o_custkey"] == keys["c_custkey"])
        .join(
            li.filter(F.col("l_shipdate") > F.lit(pivot).cast("timestamp")),
            orders["o_orderkey"] == li["l_orderkey"],
        )
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


def _q_tpch_local_volume(spark, sf_dir):
    """TPC-H Q5-shaped local-supplier-volume query: revenue per nation for
    orders where customer and supplier sit in the SAME nation of one
    region, over one year. nation⋈region and supplier are explicit
    broadcasts; the only big shuffle joins are lineitem⋈orders (orderkey)
    and orders⋈customer (custkey). Oracle: the same SQL."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    nk = (
        nation.join(
            F.broadcast(region.filter(F.col("r_name") == "ASIA")),
            nation["n_regionkey"] == region["r_regionkey"],
        ).select("n_nationkey", "n_name")
    )
    j = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .filter(cust["c_nationkey"] == supp["s_nationkey"])
        .join(F.broadcast(nk), cust["c_nationkey"] == nk["n_nationkey"])
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


def _q_price_percentiles(spark, sf_dir):
    """Exact per-segment order-price quartiles + p95 (linear
    interpolation): Spark's exact ``percentile`` aggregate vs DuckDB's
    ``quantile_cont`` — identical definitions. Exact percentiles shuffle
    every value to its group; at 100 TB swap in approx_percentile (same
    call shape) when a bounded error beats the sort cost."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    j = orders.join(
        F.broadcast(cust.select("c_custkey", "c_mktsegment")),
        orders["o_custkey"] == cust["c_custkey"],
    )
    pct = F.percentile("o_totalprice", F.array(*[F.lit(x) for x in (0.25, 0.5, 0.75, 0.95)]))
    return j.groupBy("c_mktsegment").agg(
        F.round(pct[0], 4).alias("p25"),
        F.round(pct[1], 4).alias("p50"),
        F.round(pct[2], 4).alias("p75"),
        F.round(pct[3], 4).alias("p95"),
    )


def _q_markup_strip(spark, sf_dir):
    """HTML-ish markup removal: documents are deterministically wrapped in
    tags + entities (both engines build the identical wrapped string), then
    stripped back to plain text — proving tag removal, one-level entity
    decoding, and whitespace collapse. RE2-safe regexes only."""
    docs = load_table(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit('<p id="'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.col("text"),
        F.lit(" &amp;amp; x &lt; y&nbsp;z</p><br/>"),
    )
    return docs.select(
        "doc_id", txt.strip_markup(wrapped).alias("clean")
    )


def _q_lm_score(spark, sf_dir):
    """Corpus-bigram-model average log-probability per document (add-0.5
    smoothing) — the cheap perplexity proxy."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.bigram_lm_score(docs)


def _q_wcc_incremental(spark, sf_dir):
    """Incremental WCC maintenance: start from the labeling of the
    customer→nation subgraph (components = nations, min-member labels),
    then fold in the nation→region edge batch — the composed labeling
    must equal a full recompute on the whole hierarchy (the
    connected_components closed form, which is this entry's oracle)."""
    from graphframes_rs_spark.operators.connected_components import (
        update_components,
    )

    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    labels = (
        cust.join(nation, cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            (F.col("c_custkey") + 1000).cast("long").alias("id"),
            (F.col("n_nationkey") + 100).cast("long").alias("component"),
        )
        .unionByName(
            nation.select(
                (F.col("n_nationkey") + 100).cast("long").alias("id"),
                (F.col("n_nationkey") + 100).cast("long").alias("component"),
            )
        )
        .unionByName(
            region.select(
                (F.col("r_regionkey") + 50).cast("long").alias("id"),
                (F.col("r_regionkey") + 50).cast("long").alias("component"),
            )
        )
    )
    batch = nation.select(
        (F.col("n_nationkey") + 100).cast("long").alias("src"),
        (F.col("n_regionkey") + 50).cast("long").alias("dst"),
    )
    return update_components(labels, batch, checkpoint_dir=_ckpt())


def _q_coarsen(spark, sf_dir):
    """One coarsening level: contract a deterministic matching (nation
    2k ↔ 2k+1; nation 24 unmatched) over the 25-vertex customer-fanout
    multigraph (edge per customer: c_nationkey → c_custkey % 25, unit
    weight). Parallel edges collapse by weight-sum; intra-pair edges
    drop. Returns the coarsened edge set [src, dst, weight]."""
    from graphframes_rs_spark.operators.coarsen import coarsen_graph

    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    v = nation.select(F.col("n_nationkey").cast("long").alias("id"))
    e = cust.select(
        F.col("c_nationkey").cast("long").alias("src"),
        (F.col("c_custkey") % 25).cast("long").alias("dst"),
    )
    matching = (
        nation.filter(F.col("n_nationkey") < 24)
        .select(
            F.col("n_nationkey").cast("long").alias("id"),
            F.col("n_nationkey").bitwiseXOR(F.lit(1)).cast("long").alias("partner"),
        )
    )
    return coarsen_graph(GraphFrame(v, e), matching).edges


def _q_profile_orders(spark, sf_dir):
    """Per-column profiling report over orders (exact distincts, min/max
    as strings)."""
    from graphframes_rs_spark.pipeline.profile import profile_table

    orders = load_table(spark, sf_dir, "orders")
    return profile_table(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"],
    )


def _q_events_anomaly(spark, sf_dir):
    """Trailing-24h z-score anomaly flags on the per-type hourly series;
    the scored hour is excluded from its own baseline frame. Warm-up
    hours carry z = 0 here (entry-level NULL-free policy; the library
    keeps them NULL)."""
    events = load_table(spark, sf_dir, "events")
    out = ev.hourly_anomalies(events)
    return out.select(
        "event_type",
        "window_start_epoch",
        "n_events",
        F.coalesce("z", F.lit(0.0)).alias("z"),
        "is_anomaly",
    )


def _q_events_anomaly_value(spark, sf_dir):
    """Value-scored variant: the hourly metric is sum(value) per type
    (volume anomalies), exercising hourly_anomalies' value_col mode.
    Same trailing-24h self-excluded baseline."""
    events = load_table(spark, sf_dir, "events")
    out = ev.hourly_anomalies(events, value_col="value")
    return out.select(
        "event_type",
        "window_start_epoch",
        F.round("n_events", 6).alias("n_events"),
        F.coalesce("z", F.lit(0.0)).alias("z"),
        "is_anomaly",
    )


def _q_gapfill_locf(spark, sf_dir):
    """TimescaleDB-style time_bucket_gapfill, LOCF fill: 15-minute grid
    per event type over the value>9 subsample (~56% of grid buckets are
    gaps at sf0.01). Oracle: the same grid + IGNORE-NULLS window carry in
    DuckDB SQL."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value") > 9)
    return ev.time_bucket_gapfill(events, bucket_s=900, method="locf")


def _q_gapfill_linear(spark, sf_dir):
    """Gap-fill with linear interpolation between the surrounding observed
    buckets (trailing gaps fall back to locf). Oracle: identical
    prev/next IGNORE-NULLS window lookups and the same interpolation
    expression order."""
    events = load_table(spark, sf_dir, "events").filter(F.col("value") > 9)
    return ev.time_bucket_gapfill(events, bucket_s=900, method="linear")


_GAPFILL_BASE_SQL = (
    "o AS (SELECT event_type, (epoch_ms(ts) // 1000) // 900 * 900 "
    "AS bucket_epoch, avg(value) AS v FROM events WHERE value > 9 "
    "GROUP BY 1, 2), "
    "s AS (SELECT event_type, min(bucket_epoch) AS lo, "
    "max(bucket_epoch) AS hi FROM o GROUP BY 1), "
    "g AS (SELECT event_type, unnest(range(lo, hi + 900, 900)) "
    "AS bucket_epoch FROM s), "
    "j AS (SELECT g.event_type, g.bucket_epoch, o.v FROM g "
    "LEFT JOIN o USING (event_type, bucket_epoch))"
)


def _q_ewma_counts(spark, sf_dir):
    """EWMA-smoothed hourly event rate per type (alpha=0.3), the alerting
    baseline series. The fold evaluates ``0.3*x + 0.7*prev`` JVM-side in
    that operand order; the oracle's recursive CTE replays the identical
    IEEE-754 expression, so the doubles match bit-for-bit before the
    6-dp round."""
    return ev.ewma_counts(
        load_table(spark, sf_dir, "events"), alpha=0.3, bucket_s=3600
    )


def _q_weighted_sample(spark, sf_dir):
    """Efraimidis-Spirakis weighted sampling without replacement: per
    source, exactly 5 docs with inclusion probability proportional to
    n_chars (deterministic md5-derived u). Oracle: the identical
    -ln(u)/w exponential keys and row_number ordering in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    out = curation.weighted_sample_topk(
        docs, weight_col="n_chars", k=5, strata_col="source", seed=42
    )
    return out.select(
        "source",
        "doc_id",
        "n_chars",
        F.col("sample_rank").cast("long").alias("sample_rank"),
    )


def _q_reciprocity(spark, sf_dir):
    """Global digraph statistics (reciprocity + density) on the dense
    97-residue graph (src = l_orderkey % 97, dst = l_partkey % 97,
    distinct) — partially reciprocal by construction. Oracle: EXISTS
    self-join over the same deduplicated non-loop edge set."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 97).cast("long").alias("src"),
        (F.col("l_partkey") % 97).cast("long").alias("dst"),
    ).distinct()
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    return GraphFrame(vertices, edges).reciprocity()


def _q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: BM25 lexical top-20 for {hash, join, spark}
    fused with the dense top-20 around embedding 0 (vec_id = doc_id) by
    reciprocal-rank fusion, k=60. Oracle: both retrievers + the fusion
    formula in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    lex = txt.bm25_search(docs, ["hash", "join", "spark"], k=20).select(
        F.col("doc_id").alias("id"), "rank"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    queries = emb.filter(F.col("vec_id") == 0)
    dense = similarity.cosine_topk(emb, queries, k=20).select(
        F.col("neighbor_id").alias("id"), F.col("rank").cast("long").alias("rank")
    )
    return similarity.rrf_fuse([lex, dense], k=60, topk=10).select(
        F.col("id").alias("doc_id"), "rrf", "n_lists", "rank"
    )


def _q_split_assign(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test assignment by key hash —
    stable under corpus growth. Oracle replays the md5-bucket cut."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.train_val_test_split(docs, (0.8, 0.1, 0.1), seed=42).select(
        "doc_id", "split"
    )


def _q_vocab_ids(spark, sf_dir):
    """Frequency-ranked vocabulary (min_count=2): deterministic dense ids,
    ties lexicographic."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.build_vocab(docs, min_count=2)


def _q_encode_docs(spark, sf_dir):
    """Documents encoded as vocabulary-id sequences (min_count=50 so some
    tokens fall out-of-vocab and exercise the unk path). The id sequence
    is '-'-joined for the driver comparator (array columns are
    unsortable there); the operator keeps its array API."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = txt.build_vocab(docs, min_count=50)
    out = txt.encode_documents(docs, vocab)
    return out.select(
        "doc_id",
        "n_tokens",
        F.concat_ws("-", F.col("token_ids").cast("array<string>")).alias(
            "token_ids_str"
        ),
    )


def _q_doc_entropy(spark, sf_dir):
    """Within-document token Shannon entropy (repetitiveness signal)."""
    docs = load_table(spark, sf_dir, "documents")
    return txt.token_entropy(docs)


def _q_quality_filter(spark, sf_dir):
    """Median-gated corpus filter: keep documents whose composite quality
    score is >= the corpus's exact median score. The median rides a 1-row
    broadcast (no driver action); at 100 TB swap the exact percentile for
    approx_percentile in the same call shape."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", txt.quality_score(F.col("text")).alias("quality")
    )
    med = scored.agg(F.percentile("quality", F.lit(0.5)).alias("med"))
    return (
        scored.crossJoin(F.broadcast(med))
        .filter(F.col("quality") >= F.col("med"))
        .select("doc_id", "quality")
    )


def _q_degree_histogram(spark, sf_dir):
    """Degree-distribution histogram of the big bipartite graph: the
    first thing anyone plots about a graph. Two combine-enabled
    aggregates (id -> degree, degree -> count)."""
    g = lineitem_graph(spark, sf_dir)
    degs = g.degrees
    return (
        degs.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_vertices"))
    )


def _q_salted_user_stats(spark, sf_dir):
    """Per-user event stats through the two-stage salted aggregate — the
    skew-safe shape (hot users fan out over 16 salt buckets before the
    per-user merge). Oracle: the plain one-stage GROUP BY, proving the
    salt never changes results."""
    from graphframes_rs_spark.pipeline import skew

    events = load_table(spark, sf_dir, "events")
    return skew.salted_agg(
        events,
        ["user_id"],
        [
            F.count(F.lit(1)).alias("pn"),
            F.sum("value").alias("ps"),
            F.max("value").alias("pm"),
        ],
        [
            F.sum("pn").alias("n_events"),
            F.round(F.sum("ps"), 4).alias("total_value"),
            F.max("pm").alias("max_value"),
        ],
        buckets=16,
    )


def _q_running_totals(spark, sf_dir):
    """Ordered analytics: per-customer cumulative order spend and order
    sequence number (one customer-keyed window)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.round(F.sum("o_totalprice").over(w), 4).alias("cum_spend"),
    )


def _q_eigenvector(spark, sf_dir):
    """Power-iteration eigenvector centrality (3 rounds, L1-normalized)
    on the symmetrized hierarchy graph; oracle unrolls the identical
    join-sum-normalize rounds in SQL."""
    g = customer_hierarchy_graph(spark, sf_dir)
    und = GraphFrame(g.vertices, symmetrize_edges(g.edges, deduplicate=True))
    return (
        und.eigenvector_centrality()
        .max_iterations(3)
        .set_checkpoint_dir(_ckpt())
        .run()
    )


def _q_interval_join(spark, sf_dir):
    """Grid-bucketed interval overlap join: which of a customer's orders
    fall within 10 days of each other (self-join on per-customer 10-day
    windows). Oracle: the plain SQL inequality join."""
    from graphframes_rs_spark.pipeline import joins

    orders = load_table(spark, sf_dir, "orders")
    iv = orders.select(
        F.col("o_custkey").alias("key"),
        F.col("o_orderkey").alias("id"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).alias("start"),
        (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")) + 10).alias("end"),
    )
    out = joins.interval_join(iv, iv, cell=7)
    return out.filter(F.col("l_id") < F.col("r_id"))


def _q_closeness(spark, sf_dir):
    """Landmark closeness/harmonic centrality on the hierarchy DAG with
    the 5 region vertices as landmarks: every customer reaches exactly its
    own region at distance 2, nations theirs at 1, regions none (self
    excluded) — closed-form per-tier oracle."""
    g = customer_hierarchy_graph(spark, sf_dir)
    return (
        g.closeness_centrality([50, 51, 52, 53, 54])
        .set_checkpoint_dir(_ckpt())
        .run()
    )


def _q_matching_forest(spark, sf_dir):
    """Per-vertex maximal-matching invariant gate (mirrors mis_forest):
    ``ok`` = matched vertices have exactly one symmetric partner along a
    real edge AND no edge survives with both endpoints unmatched. The
    matched set is seed-dependent (hash handshake), so the oracle asserts
    the all-true invariant, not membership."""
    from graphframes_rs_spark.graphframe import symmetrize_edges

    g = customer_hierarchy_graph(spark, sf_dir)
    m = (
        g.maximal_matching()
        .with_random_seed(7)
        .set_checkpoint_dir(_ckpt())
        .run()
    )
    edges = symmetrize_edges(g.edges, deduplicate=True)
    # partner edge must exist
    real = m.join(
        edges,
        (m["id"] == edges["src"]) & (m["partner"] == edges["dst"]),
        "left_semi",
    ).select("id").withColumn("edge_ok", F.lit(True))
    # symmetry: partner's partner is me; one row per id by construction
    sym = (
        m.alias("a")
        .join(
            m.alias("b"),
            (F.col("a.partner") == F.col("b.id"))
            & (F.col("b.partner") == F.col("a.id")),
            "left_semi",
        )
        .select(F.col("id")).withColumn("sym_ok", F.lit(True))
    )
    matched_ids = m.select("id").withColumn("is_m", F.lit(True))
    # maximality: every vertex either matched or has a matched neighbour
    # OR is isolated (no incident edges at all)
    nbr_matched = (
        edges.join(matched_ids, edges["dst"] == matched_ids["id"], "left_semi")
        .select(F.col("src").alias("id"))
        .distinct()
        .withColumn("has_mnbr", F.lit(True))
    )
    non_isolated = (
        edges.select(F.col("src").alias("id")).distinct().withColumn("touch", F.lit(True))
    )
    return (
        g.vertices.select("id")
        .join(matched_ids, "id", "left")
        .join(real, "id", "left")
        .join(sym, "id", "left")
        .join(nbr_matched, "id", "left")
        .join(non_isolated, "id", "left")
        .select(
            "id",
            F.when(
                F.coalesce("is_m", F.lit(False)),
                F.coalesce("edge_ok", F.lit(False))
                & F.coalesce("sym_ok", F.lit(False)),
            )
            .otherwise(
                ~F.coalesce("touch", F.lit(False))
                | F.coalesce("has_mnbr", F.lit(False))
            )
            .alias("ok"),
        )
    )


def _q_katz(spark, sf_dir):
    """Truncated Katz series (3 rounds, alpha=0.05, beta=1.0) on the
    hierarchy DAG. Oracle: the identical recurrence unrolled in SQL —
    unlike eigenvector there is no normalization step, so each round is
    exactly one join-sum + affine map."""
    g = customer_hierarchy_graph(spark, sf_dir)
    return (
        g.katz_centrality()
        .max_iterations(3)
        .alpha(0.05)
        .beta(1.0)
        .set_checkpoint_dir(_ckpt())
        .run()
    )


def _q_vertex_cover(spark, sf_dir):
    """2-approx vertex cover (both endpoints of a maximal matching)
    invariant gate, mirroring matching_forest: every distinct hierarchy
    edge must have >= 1 covered endpoint (follows from matching
    maximality). The cover is seed-dependent, so the oracle asserts the
    all-true per-edge invariant, not membership."""
    from graphframes_rs_spark.operators.matching import vertex_cover_2approx

    g = customer_hierarchy_graph(spark, sf_dir)
    cover = vertex_cover_2approx(g, seed=7, checkpoint_dir=_ckpt())
    e = g.edges.select("src", "dst").distinct()
    cs = cover.select(F.col("id").alias("src"), F.lit(1).alias("__cs"))
    cd = cover.select(F.col("id").alias("dst"), F.lit(1).alias("__cd"))
    return (
        e.join(cs, "src", "left")
        .join(cd, "dst", "left")
        .select(
            "src",
            "dst",
            (F.col("__cs").isNotNull() | F.col("__cd").isNotNull()).alias(
                "covered"
            ),
        )
    )


def _q_densest_subgraph(spark, sf_dir):
    """Densest subgraph by 2(1+eps) parallel peeling on a planted
    clique+path: K8 over the 8 rank-smallest customers plus a long path
    over the rest. Round 1 removes every path vertex (deg <= 2 < the
    2(1+.1)*rho threshold), leaving exactly the clique as the best
    snapshot — closed-form oracle: the 8 clique members at density
    (8*7/2)/8 = 3.5."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer")
    ranked = cust.select(
        F.row_number()
        .over(Window.orderBy("c_custkey"))
        .cast("long")
        .alias("rn")
    )
    top8 = ranked.filter(F.col("rn") <= 8)
    clique = (
        top8.alias("a")
        .crossJoin(top8.alias("b"))
        .filter(F.col("a.rn") < F.col("b.rn"))
        .select(F.col("a.rn").alias("src"), F.col("b.rn").alias("dst"))
    )
    w = Window.orderBy("rn")
    path = (
        ranked.filter(F.col("rn") >= 9)
        .select(F.col("rn").alias("src"), F.lead("rn").over(w).alias("dst"))
        .filter(F.col("dst").isNotNull())
    )
    vertices = ranked.select(F.col("rn").alias("id"))
    g = GraphFrame(vertices, clique.unionByName(path))
    return (
        g.densest_subgraph()
        .epsilon(0.1)
        .set_checkpoint_dir(_ckpt())
        .run()
    )


def _verification_order(
    base: dict[str, Callable[[SparkSession, str], DataFrame]],
    artifact_dir: "str | None" = None,
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Reorder ``base`` so the driver's time-boxed CORRECTNESS window is
    never wasted re-proving green entries: scan the committed
    ``CORRECTNESS_r*.json`` artifacts next to this file and sort entries
    by (never-checked first, then red/no-oracle at their latest check,
    then green ordered least-recently-verified), ties in declaration
    order. The order is thus DYNAMIC — each round's results rotate the
    next round's front — fixing the round-6 static reorder that would
    have re-walked the same 50 green entries forever."""
    import glob as _glob
    import re as _re

    here = (
        artifact_dir
        if artifact_dir is not None
        else os.path.dirname(os.path.abspath(__file__))
    )
    status: dict[str, tuple[int, bool]] = {}
    for path in sorted(_glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if m is None:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = (
                row.get("err") is None
                and bool(row.get("rows_match"))
                and bool(row.get("schema_match"))
                and bool(row.get("hash_match"))
            )
            prev = status.get(name)
            if prev is None or rnd >= prev[0]:
                status[name] = (rnd, green)

    def sort_key(pair: tuple[int, str]) -> tuple[int, int, int]:
        idx, name = pair
        st = status.get(name)
        if st is None:
            return (0, 0, idx)
        rnd, green = st
        return (2 if green else 1, rnd, idx)

    ordered = sorted(enumerate(base), key=sort_key)
    return {name: base[name] for _, name in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _verification_order({
    # Declaration order is thematic; the served order is computed by
    # _verification_order from the committed CORRECTNESS_r*.json
    # artifacts (never-driver-checked entries first, then reds, then
    # greens stalest-first) so the driver's time-boxed window always
    # verifies the entries with the least evidence.
        "bfs_paths": _q_bfs_paths,
        "pagerank_parallel": _q_pagerank_parallel,
        "random_walks": _q_random_walks,
        "weighted_walks": _q_weighted_walks,
        "node2vec_walks": _q_node2vec_walks,
        "hybrid_search": _q_hybrid_search,
        "events_anomaly_value": _q_events_anomaly_value,
        "gapfill_locf": _q_gapfill_locf,
        "gapfill_linear": _q_gapfill_linear,
        "ewma_counts": _q_ewma_counts,
        "weighted_sample": _q_weighted_sample,
        "reciprocity": _q_reciprocity,
        "split_assign": _q_split_assign,
        "vocab_ids": _q_vocab_ids,
        "encode_docs": _q_encode_docs,
        "quality_filter": _q_quality_filter,
        "degree_histogram": _q_degree_histogram,
        "salted_user_stats": _q_salted_user_stats,
        "tpch_shipping": _q_tpch_shipping,
        "tpch_local_volume": _q_tpch_local_volume,
        "price_percentiles": _q_price_percentiles,
        "markup_strip": _q_markup_strip,
        "running_totals": _q_running_totals,
        "cohort_retention": _q_cohort_retention,
        "funnel_steps": _q_funnel_steps,
        "doc_chunks": _q_doc_chunks,
        "coloring_forest": _q_coloring_forest,
        "betweenness": _q_betweenness,
        "ktruss_planted": _q_ktruss,
        "link_prediction": _q_link_prediction,
        "assortativity": _q_assortativity,
        "conductance": _q_conductance,
        "feature_propagation": _q_feature_propagation,
        "clustering_coeff": _q_clustering_coeff,
        "topo_layers": _q_topo_layers,
        "modularity_nations": _q_modularity,
        "louvain_cliques": _q_louvain_cliques,
        "source_stats": _q_source_stats,
        "doc_repetition": _q_doc_repetition,
        "line_dedup": _q_line_dedup,
        "token_cms": _q_token_cms,
        "kmv_overlap": _q_kmv_overlap,
        "bipartite_projection": _q_bipartite_projection,
        "ngram_dup_coverage": _q_ngram_dup_coverage,
        "exact_substr_spans": _q_exact_substr_spans,
        "exact_substr_keepfirst": _q_exact_substr_keepfirst,
        "exact_substr_incr": _q_exact_substr_incr,
        "exact_substr_strip": _q_exact_substr_strip,
        "dedup_strip_spans": _q_dedup_strip_spans,
        "tfidf_topk": _q_tfidf_topk,
        "bm25_topk": _q_bm25,
        "curate_corpus": _q_curate_corpus,
        "semantic_dedup": _q_semantic_dedup,
        "decontaminate_eval": _q_decontaminate_eval,
        "decontaminate_prod": _q_decontaminate_prod,
        "ann_pq": _q_ann_pq,
        "embedding_outliers": _q_embedding_outliers,
        "image_dims_png": _q_image_dims_png,
        "video_duration": _q_video_duration,
        "attribution": _q_attribution,
        "events_sliding": _q_events_sliding,
        "asof_join": _q_asof_join,
        "hypertable_rollup": _q_hypertable_rollup,
        "mixture_sample": _q_mixture_sample,
        "mixture_weights": _q_mixture_weights,
        "corpus_shuffle": _q_corpus_shuffle,
        "sample_neighbors": _q_sample_neighbors,
        "event_transitions": _q_event_transitions,
        "graph_counts": _q_graph_counts,
        "in_degrees": _q_in_degrees,
        "out_degrees": _q_out_degrees,
        "degrees": _q_degrees,
        "symmetrize": _q_symmetrize,
        "aggregate_messages": _q_aggregate_messages,
        "triplets": _q_triplets,
        "connected_components": _q_connected_components,
        "shortest_paths": _q_shortest_paths,
        "pagerank_dag": _q_pagerank_dag,
        "pagerank_personalized": _q_pagerank_personalized,
        "neighborhood_fn": _q_neighborhood,
        "effective_diameter": _q_effective_diameter,
        "skipgram_pairs": _q_skipgram_pairs,
        "hits": _q_hits,
        "pagerank_weighted": _q_pagerank_weighted,
        "motif_triangles": _q_motif_triangles,
        "scc_rings": _q_scc_rings,
        "mst_rings": _q_mst_rings,
        "closeness": _q_closeness,
        "kmeans_clusters": _q_kmeans_clusters,
        "domain_cap": _q_domain_cap,
        "knn_components": _q_knn_components,
        "length_stats": _q_length_stats,
        "eigenvector": _q_eigenvector,
        "katz": _q_katz,
        "matching_forest": _q_matching_forest,
        "vertex_cover": _q_vertex_cover,
        "densest_subgraph": _q_densest_subgraph,
        "interval_join": _q_interval_join,
        "source_terms": _q_source_terms,
        "negative_samples": _q_negative_samples,
        "snapshot_diff": _q_snapshot_diff,
        "scd2_intervals": _q_scd2,
        "edit_distance_pairs": _q_edit_distance_pairs,
        "temporal_reach": _q_temporal_reach,
        "events_json": _q_events_json,
        "events_pivot": _q_events_pivot,
        "sales_rollup": _q_sales_rollup,
        "sales_cube": _q_sales_cube,
        "doc_entropy": _q_doc_entropy,
        "lm_score": _q_lm_score,
        "wcc_incremental": _q_wcc_incremental,
        "coarsen": _q_coarsen,
        "profile_orders": _q_profile_orders,
        "events_anomaly": _q_events_anomaly,
        "kcore_forest": _q_kcore_forest,
        "mis_forest": _q_mis_forest,
        "wcc_big": _q_wcc_big,
        "kcore_big": _q_kcore_big,
        "triangles": _q_triangles,
        "weighted_sssp": _q_weighted_sssp,
        "label_propagation": _q_label_propagation,
        "doc_token_counts": _q_doc_token_counts,
        "doc_quality": _q_doc_quality,
        "doc_lang": _q_doc_lang,
        "doc_fingerprint": _q_doc_fingerprint,
        "doc_normalize": _q_doc_normalize,
        "pii_scrub": _q_pii_scrub,
        "doc_packing": _q_doc_packing,
        "vocab_stats": _q_vocab_stats,
        "token_topk": _q_token_topk,
        "dedup_exact": _q_dedup_exact,
        "minhash_sigs": _q_minhash_sigs,
        "lsh_candidates": _q_lsh_candidates,
        "neardup_first_arrival": _q_neardup_first_arrival,
        "simhash_first_arrival": _q_simhash_first_arrival,
        "embedding_first_arrival": _q_embedding_first_arrival,
        "jaccard_pairs": _q_jaccard_pairs,
        "dedup_incremental": _q_dedup_incremental,
        "dedup_incr_indexed": _q_dedup_incr_indexed,
        "simhash": _q_simhash,
        "simhash_neardups": _q_simhash_neardups,
        "simhash_incr": _q_simhash_incr,
        "dedup_clusters": _q_dedup_clusters,
        "dedup_keep_best": _q_dedup_keep_best,
        "token_pmi": _q_token_pmi,
        "ngram_containment": _q_ngram_containment,
        "bpe_merges": _q_bpe_merges,
        "bpe_encode": _q_bpe_encode,
        "bpe_encode_fixed": _q_bpe_encode_fixed,
        "dsir_weights": _q_dsir_weights,
        "hard_negatives": _q_hard_negatives,
        "fastrp_embedding": _q_fastrp,
        "inverted_postings": _q_inverted_postings,
        "ab_test_welch": _q_ab_test_welch,
        "rfm_features": _q_rfm_features,
        "rich_club": _q_rich_club,
        "decontaminate": _q_decontaminate,
        "decontaminate_semantic": _q_decontaminate_semantic,
        "stratified_sample": _q_stratified_sample,
        "embedding_neardup": _q_embedding_neardup,
        "embedding_dedup_incr": _q_embedding_dedup_incr,
        "embedding_neardup_ivf": _q_embedding_neardup_ivf,
        "ann_topk": _q_ann_topk,
        "ann_topk_scan": _q_ann_topk_scan,
        "ann_lsh": _q_ann_lsh,
        "ann_ivf": _q_ann_ivf,
        "ann_ivfpq": _q_ann_ivfpq,
        "image_features": _q_image_features,
        "image_dims": _q_image_dims,
        "audio_features": _q_audio_features,
        "events_hourly": _q_events_hourly,
        "sessions": _q_sessions,
        "pricing_summary": _q_pricing_summary,
        "top_customers": _q_top_customers,
    })


# --------------------------------------------------------------------------
# oracles
# --------------------------------------------------------------------------

def _minhash_sig_sql() -> str:
    params = dedup.minhash_params(MINHASH_K)
    x = _HASH60.format(x="shingle") + " % 2147483647"
    aggs = ", ".join(
        f"CAST(min(({a} * x + {b}) % 2147483647) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    return (
        f"WITH sh AS ({_SHINGLES_SQL}), "
        f"hx AS (SELECT doc_id, {x} AS x FROM sh) "
        f"SELECT doc_id, {aggs} FROM hx GROUP BY doc_id"
    )


def _lsh_candidates_sql() -> str:
    return (
        f"WITH sigs AS ({_minhash_sig_sql()}), banded AS ({_banded_sql()}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM banded a JOIN banded b ON a.band = b.band "
        "AND a.bucket = b.bucket AND a.doc_id < b.doc_id"
    )


def _banded_sql() -> str:
    """The UNION-ALL band-key CTE body shared by every MinHash-band
    oracle (`_lsh_candidates_sql`, `_dedup_incremental_sql`,
    `_neardup_first_arrival_sql`) — one construction, mirroring
    `pipeline.dedup._lsh_band_keys`, so a band-hash change can never
    silently break parity for only SOME entries."""
    rows = MINHASH_K // MINHASH_BANDS
    band_selects = []
    for b in range(MINHASH_BANDS):
        key = f"(mh_{b * rows} % 1000000007)"
        for r in range(1, rows):
            key = f"(({key} * 31 + mh_{b * rows + r}) % 1000000007)"
        band_selects.append(
            f"SELECT doc_id, {b} AS band, {key} AS bucket FROM sigs"
        )
    return " UNION ALL ".join(band_selects)


def _neardup_first_arrival_sql() -> str:
    """Batch twin of the streaming bucket-claim ingest: same band keys
    as _lsh_candidates_sql, min(doc_id) winner per bucket (the entry
    uses order_col=None => doc_id arbitration), survivor = all-buckets
    conjunction. NULL-text docs (none in the test tables) are accepted
    unconditionally, matching the operator's nothing-to-collide-on
    policy."""
    return (
        f"WITH sigs AS ({_minhash_sig_sql()}), banded AS ({_banded_sql()}), "
        "w AS (SELECT band, bucket, min(doc_id) AS wdoc "
        "FROM banded GROUP BY 1, 2), "
        "cl AS (SELECT b.doc_id, bool_and(b.doc_id = w.wdoc) AS ok "
        "FROM banded b JOIN w USING (band, bucket) GROUP BY 1) "
        "SELECT doc_id FROM cl WHERE ok "
        "UNION ALL SELECT doc_id FROM documents WHERE text IS NULL"
    )


def _simhash_first_arrival_sql() -> str:
    """Batch twin of the simhash claim-index ingest: the signature SQL of
    the simhash entry + the operator's pigeonhole banding (bits=32,
    max_hamming=1 => two 16-bit bands at offsets 0/16), min(doc_id)
    winner per bucket, all-buckets conjunction; NULL-text docs accepted
    unconditionally (nothing to collide on)."""
    return (
        f"WITH sigs AS ({_simhash_sql()}), "
        "banded AS (SELECT doc_id, CAST(b AS BIGINT) AS band, "
        "(simhash >> CAST(16 * b AS INT)) & 65535 AS bucket "
        "FROM sigs, unnest([0, 1]) AS t(b)), "
        "w AS (SELECT band, bucket, min(doc_id) AS wdoc "
        "FROM banded GROUP BY 1, 2), "
        "cl AS (SELECT b.doc_id, bool_and(b.doc_id = w.wdoc) AS ok "
        "FROM banded b JOIN w USING (band, bucket) GROUP BY 1) "
        "SELECT doc_id FROM cl WHERE ok "
        "UNION ALL SELECT doc_id FROM documents WHERE text IS NULL"
    )


def _dedup_incremental_sql() -> str:
    """Exact oracle for dedup_against_index on the doc_id<400 index /
    doc_id>=400 batch split: the same band-key construction as
    _lsh_candidates_sql restricted to cross-corpus collisions, then the
    same shingle-intersection Jaccard as the jaccard_pairs oracle on the
    surviving candidates."""
    return (
        f"WITH sigs AS ({_minhash_sig_sql()}), banded AS ({_banded_sql()}), "
        "cand AS (SELECT DISTINCT nb.doc_id AS new_id, ib.doc_id AS index_id "
        "FROM banded nb JOIN banded ib ON nb.band = ib.band "
        "AND nb.bucket = ib.bucket "
        "AND nb.doc_id >= 400 AND ib.doc_id < 400), "
        f"sh AS ({_SHINGLES_SQL}), "
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n "
        "FROM sh GROUP BY 1), "
        "common AS (SELECT c.new_id, c.index_id, "
        "CAST(count(*) AS BIGINT) AS c FROM cand c "
        "JOIN sh a ON a.doc_id = c.new_id "
        "JOIN sh b ON b.doc_id = c.index_id AND a.shingle = b.shingle "
        "GROUP BY 1, 2) "
        "SELECT new_id, index_id, j AS jaccard FROM ("
        "SELECT new_id, index_id, "
        "round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS j "
        "FROM common JOIN sizes sa ON new_id = sa.doc_id "
        "JOIN sizes sb ON index_id = sb.doc_id) "
        f"WHERE j >= {JACCARD_T}"
    )


def _wcc_big_sql() -> str:
    """Exact WCC oracle for the bipartite lineitem graph: project the graph
    onto its (small) supplier side, take the recursive transitive closure of
    supplier↔supplier connectivity (suppliers sharing an order), then label
    every supplier/order with the minimum order id of its component — the
    same min-member labeling ``connected_components().run()`` emits. Orders
    always carry smaller ids than the +10M-offset suppliers, so the min
    member of any component IS an order id."""
    return (
        "WITH RECURSIVE "
        "e AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, "
        "CAST(l_suppkey + 10000000 AS BIGINT) AS s FROM lineitem), "
        "s2s AS MATERIALIZED (SELECT DISTINCT a.s AS x, b.s AS y "
        "FROM e a JOIN e b ON a.o = b.o), "
        "reach AS (SELECT s AS x, s AS y FROM (SELECT DISTINCT s FROM e) "
        "UNION SELECT r.x, t.y FROM reach r JOIN s2s t ON r.y = t.x), "
        "mo AS (SELECT s, min(o) AS mo FROM e GROUP BY s), "
        "scomp AS MATERIALIZED (SELECT r.x AS s, min(mo.mo) AS component "
        "FROM reach r JOIN mo ON r.y = mo.s GROUP BY r.x) "
        "SELECT e.o AS id, min(sc.component) AS component "
        "FROM e JOIN scomp sc ON e.s = sc.s GROUP BY e.o "
        "UNION ALL SELECT s AS id, component FROM scomp"
    )


def _kcore_big_sql(iters: int = 10) -> str:
    """Exact coreness oracle: the iterated-H-index fixpoint (Lü et al. 2016
    — the same recurrence k_core().run() iterates) unrolled ``iters`` times.
    Convergence on the sf0.01 bipartite graph takes 4 rounds; 10 leaves a
    2.5× margin, and extra rounds past the fixpoint are no-ops. MATERIALIZED
    stops DuckDB inlining each stage into the next (the chain references
    every stage twice, so inlining would re-evaluate it exponentially)."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, "
        "CAST(l_suppkey + 10000000 AS BIGINT) AS s FROM lineitem)",
        "ue AS MATERIALIZED (SELECT o AS u, s AS v FROM e UNION ALL SELECT s, o FROM e)",
        "c0 AS MATERIALIZED (SELECT u AS id, CAST(count(*) AS BIGINT) AS c "
        "FROM ue GROUP BY u)",
    ]
    prev = "c0"
    for i in range(1, iters + 1):
        parts.append(
            f"c{i} AS MATERIALIZED (SELECT d.id, least(d.c, COALESCE(h.h, 0)) AS c "
            f"FROM {prev} d LEFT JOIN ("
            f"SELECT u, max(least(cv, rn)) AS h FROM ("
            f"SELECT ue.u, p.c AS cv, CAST(row_number() OVER ("
            f"PARTITION BY ue.u ORDER BY p.c DESC) AS BIGINT) AS rn "
            f"FROM ue JOIN {prev} p ON ue.v = p.id) GROUP BY u) h ON d.id = h.u)"
        )
        prev = f"c{i}"
    return ", ".join(parts) + f" SELECT id, c AS kcore FROM {prev}"


def _label_propagation_sql(iters: int = 5) -> str:
    """Synchronous LPA unrolled ``iters`` times on the hierarchy graph:
    score(l) = neighbour-count(l) + 1 if l is the vertex's current label,
    winner = max score with ties to the smallest label — exactly the
    operator's histogram-argmax with self-vote. The UNION ALL self-row
    guarantees every vertex (isolated included) scores its own label."""
    parts = [
        f"WITH raw AS MATERIALIZED ({_EDGES_SMALL_SQL})",
        "ue AS MATERIALIZED (SELECT DISTINCT u, v FROM ("
        "SELECT src AS u, dst AS v FROM raw WHERE src <> dst "
        "UNION ALL SELECT dst, src FROM raw WHERE src <> dst))",
        f"l0 AS MATERIALIZED (SELECT id, id AS label FROM ({_VERTS_SMALL_SQL}))",
    ]
    prev = "l0"
    for i in range(1, iters + 1):
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT id, l AS label FROM ("
            f"SELECT id, l, row_number() OVER ("
            f"PARTITION BY id ORDER BY s DESC, l) AS rn FROM ("
            f"SELECT cnt.id, cnt.l, cnt.c + CASE WHEN cnt.l = cur.label "
            f"THEN 1 ELSE 0 END AS s FROM ("
            f"SELECT ue.u AS id, p.label AS l, count(*) AS c "
            f"FROM ue JOIN {prev} p ON ue.v = p.id GROUP BY 1, 2) cnt "
            f"JOIN {prev} cur ON cnt.id = cur.id "
            f"UNION ALL SELECT id, label AS l, 1 AS s FROM {prev})) WHERE rn = 1)"
        )
        prev = f"l{i}"
    return ", ".join(parts) + f" SELECT id, label FROM {prev}"


def _simhash_sql() -> str:
    bits = 32
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN v_{j} > 0 THEN CAST({2**j} AS BIGINT) ELSE 0 END"
        for j in range(bits)
    )
    h = _HASH60.format(x="t")
    return (
        "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t "
        "FROM documents), "
        f"hashed AS (SELECT doc_id, {h} AS h FROM tok), "
        f"votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id) "
        f"SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes"
    )


_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(range(1, len({a}) + 1), i -> {a}[i] * {b}[i])), (s, x) -> s + x)"
)
_NORM = (
    "sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({a}, x -> x * x)), (s, x) -> s + x))"
)


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"{_DOT.format(a=a, b=b)} / ({_NORM.format(a=a)} * {_NORM.format(a=b)})"
    )


def _lang_scores_sql() -> str:
    parts = []
    for lang, words in txt.LANG_MARKERS.items():
        arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
        parts.append(
            f"len(list_filter(toks, t -> list_contains({arr}, t))) AS s_{lang}"
        )
    return ", ".join(parts)


def oracle_sql() -> dict[str, str]:
    stop_arr = "[" + ", ".join(f"'{w}'" for w in txt.STOPWORDS_EN) + "]"
    alpha = (
        "CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g')) AS DOUBLE)"
        " / length(text)"
    )
    toks_lower = "string_split(lower(text), ' ')"
    stop_hits = f"len(list_filter({toks_lower}, t -> list_contains({stop_arr}, t)))"
    stop_ratio = f"CAST({stop_hits} AS DOUBLE) / greatest(len({toks_lower}), 1)"
    toks = "string_split(text, ' ')"
    mwl = (
        f"CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform({toks}, t -> CAST(length(t) AS BIGINT))), (a, x) -> a + x) AS DOUBLE)"
        f" / greatest(len({toks}), 1)"
    )
    quality = (
        f"round(0.25 * (CASE WHEN length(text) >= 50 AND length(text) <= 10000 "
        f"THEN 1.0 ELSE 0.0 END) + 0.35 * ({alpha}) "
        f"+ 0.2 * least(({stop_ratio}) * 5, 1.0) "
        f"+ 0.2 * (CASE WHEN ({mwl}) >= 3 AND ({mwl}) <= 10 THEN 1.0 ELSE 0.0 END), 6)"
    )
    fingerprint = (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(string_split_regex(text, ''), ch -> CAST(ord(ch) AS BIGINT))), "
        "(h, c) -> (h * 31 + c) % 1000000007)"
    )
    cos_ab = _cosine_sql("a.v", "b.v")
    cos_qn = _cosine_sql("q.qv", "b.nv")
    # shared by ann_topk / ann_topk_scan: exact cosine ranking
    ann_topk_sql = (
        "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
        "FROM embeddings WHERE vec_id < 10), "
        "b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv FROM embeddings), "
        f"s AS (SELECT query_id, neighbor_id, round({cos_qn}, 6) AS cosine "
        "FROM b CROSS JOIN q WHERE query_id <> neighbor_id), "
        "r AS (SELECT *, CAST(row_number() OVER ("
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank "
        "FROM s) "
        f"SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= {ANN_K}"
    )
    # shared by dedup_clusters / dedup_keep_best: recursive closure over
    # the exact n-gram-Jaccard pair graph, ending at the `reach` CTE
    dedup_cluster_cte = (
        f"WITH RECURSIVE sh AS MATERIALIZED ({_SHINGLES_SQL}), "
        "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1), "
        "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "CAST(count(*) AS BIGINT) AS c FROM sh a "
        "JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2), "
        "pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM ("
        "SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (sa.n + sb.n - c) AS j "
        "FROM common JOIN sizes sa ON doc_a = sa.doc_id "
        f"JOIN sizes sb ON doc_b = sb.doc_id) WHERE j >= {JACCARD_T}), "
        "ue AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs "
        "UNION ALL SELECT doc_b, doc_a FROM pairs), "
        "reach AS (SELECT doc_id AS x, doc_id AS y FROM documents "
        "UNION SELECT r.x, e.v FROM reach r JOIN ue e ON r.y = e.u)"
    )

    return {
        "graph_counts": (
            f"SELECT (SELECT CAST(count(*) AS BIGINT) FROM ({_VERTS_BIG_SQL})) AS n_nodes, "
            f"(SELECT CAST(count(*) AS BIGINT) FROM ({_EDGES_BIG_SQL})) AS n_edges"
        ),
        "in_degrees": (
            f"SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_degree "
            f"FROM ({_EDGES_BIG_SQL}) GROUP BY dst"
        ),
        "aggregate_messages": (
            f"WITH e AS ({_EDGES_BIG_SQL}), "
            "m AS (SELECT src AS id, dst % 97 AS v FROM e "
            "UNION ALL SELECT dst AS id, src % 97 AS v FROM e) "
            "SELECT id, CAST(sum(v) AS BIGINT) AS nbr_val_sum "
            "FROM m GROUP BY id"
        ),
        "out_degrees": (
            f"SELECT src AS id, CAST(count(*) AS BIGINT) AS out_degree "
            f"FROM ({_EDGES_BIG_SQL}) GROUP BY src"
        ),
        "rich_club": (
            f"WITH e0 AS ({_EDGES_BIG_SQL}), "
            "sym AS (SELECT DISTINCT src, dst FROM ("
            "SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)), "
            "deg AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS d "
            "FROM sym GROUP BY 1), "
            "pe AS (SELECT a.d AS ds, b.d AS dd FROM sym s "
            "JOIN deg a ON s.src = a.id JOIN deg b ON s.dst = b.id "
            "WHERE s.src < s.dst), "
            "ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS k), "
            "en AS (SELECT k, "
            "(SELECT CAST(count(*) AS BIGINT) FROM deg WHERE d > k) "
            "AS n_nodes, "
            "(SELECT CAST(count(*) AS BIGINT) FROM pe "
            "WHERE ds > k AND dd > k) AS n_edges FROM ks) "
            "SELECT k, n_nodes, n_edges, "
            "round(CASE WHEN n_nodes >= 2 THEN "
            "2.0 * n_edges / (n_nodes * (n_nodes - 1.0)) END, 6) AS phi "
            "FROM en"
        ),
        "rfm_features": (
            "WITH pu AS (SELECT user_id, max(ts) AS last_ts, "
            "CAST(count(*) AS BIGINT) AS frequency, "
            "round(sum(value), 6) AS monetary FROM events GROUP BY 1), "
            "cm AS (SELECT max(ts) AS cmax FROM events), "
            "f AS (SELECT user_id, "
            "CAST(date_diff('day', CAST(last_ts AS DATE), "
            "CAST(cmax AS DATE)) AS BIGINT) AS recency_days, "
            "frequency, monetary FROM pu CROSS JOIN cm) "
            "SELECT user_id, recency_days, frequency, monetary, "
            "CAST(ntile(5) OVER (ORDER BY recency_days, user_id) AS BIGINT) "
            "AS r_score, "
            "CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id) AS BIGINT) "
            "AS f_score, "
            "CAST(ntile(5) OVER (ORDER BY monetary DESC, user_id) AS BIGINT) "
            "AS m_score FROM f"
        ),
        "ab_test_welch": (
            "WITH g AS (SELECT event_type AS segment, "
            "user_id % 2 = 0 AS arm_a, CAST(count(*) AS BIGINT) AS n, "
            "sum(value) AS s1, sum(value * value) AS s2 "
            "FROM events GROUP BY 1, 2), "
            "a AS (SELECT segment, n AS n_a, s1 AS s1_a, s2 AS s2_a "
            "FROM g WHERE arm_a), "
            "b AS (SELECT segment, n AS n_b, s1 AS s1_b, s2 AS s2_b "
            "FROM g WHERE NOT arm_a), "
            "j AS (SELECT * FROM a JOIN b USING (segment) "
            "WHERE n_a >= 2 AND n_b >= 2), "
            "e AS (SELECT segment, n_a, n_b, "
            "s1_a / n_a AS mean_a, s1_b / n_b AS mean_b, "
            "(s2_a - s1_a * s1_a / n_a) / (n_a - 1) AS var_a, "
            "(s2_b - s1_b * s1_b / n_b) / (n_b - 1) AS var_b FROM j) "
            "SELECT segment, n_a, n_b, "
            "round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b, "
            "round(var_a, 6) AS var_a, round(var_b, 6) AS var_b, "
            "round(CASE WHEN var_a / n_a + var_b / n_b > 0 THEN "
            "(mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b) END, 6) "
            "AS t_stat, "
            "round(CASE WHEN var_a / n_a + var_b / n_b > 0 THEN "
            "(var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b) "
            "/ ((var_a / n_a) * (var_a / n_a) / (n_a - 1) "
            "+ (var_b / n_b) * (var_b / n_b) / (n_b - 1)) END, 6) AS dof "
            "FROM e"
        ),
        "inverted_postings": (
            "WITH td AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf "
            "FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term "
            "FROM documents) WHERE term <> '' GROUP BY 1, 2) "
            "SELECT term, CAST(count(*) AS BIGINT) AS df, "
            "CAST(sum(tf) AS BIGINT) AS cf, "
            "array_to_string(list_sort(list(doc_id))[1:50], ',') AS postings "
            "FROM td GROUP BY term HAVING count(*) >= 2"
        ),
        "fastrp_embedding": (
            f"WITH e0 AS ({_EDGES_SMALL_SQL}), "
            "sym AS (SELECT DISTINCT src, dst FROM ("
            "SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)), "
            "verts AS (SELECT DISTINCT src AS id FROM sym), "
            "ds AS (SELECT CAST(unnest(range(0, 4)) AS BIGINT) AS dim), "
            "r AS (SELECT id, dim, CASE WHEN "
            + _HASH60.format(x="id::VARCHAR || ':' || dim::VARCHAR || ':42'")
            + " % 2 = 0 THEN 1 ELSE -1 END AS val "
            "FROM verts CROSS JOIN ds), "
            "h1 AS (SELECT s.src AS id, r.dim, sum(r.val) AS val "
            "FROM sym s JOIN r ON s.dst = r.id GROUP BY 1, 2), "
            "h2 AS (SELECT s.src AS id, h1.dim, sum(h1.val) AS val "
            "FROM sym s JOIN h1 ON s.dst = h1.id GROUP BY 1, 2) "
            "SELECT h1.id, h1.dim, CAST(h1.val + h2.val AS BIGINT) AS emb "
            "FROM h1 JOIN h2 ON h1.id = h2.id AND h1.dim = h2.dim"
        ),
        "degrees": (
            f"SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ("
            f"SELECT src AS id FROM ({_EDGES_BIG_SQL}) "
            f"UNION ALL SELECT dst AS id FROM ({_EDGES_BIG_SQL})) GROUP BY id"
        ),
        "symmetrize": (
            f"WITH e AS ({_EDGES_SMALL_SQL}) "
            "SELECT DISTINCT * FROM ("
            "SELECT src, dst FROM e WHERE src <> dst "
            "UNION ALL SELECT dst AS src, src AS dst FROM e WHERE src <> dst)"
        ),
        "triplets": (
            f"WITH e AS ({_EDGES_SMALL_SQL}), v AS ("
            "SELECT CAST(c_custkey + 1000 AS BIGINT) AS id, 'c' || c_custkey AS name FROM customer "
            "UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), 'n' || n_nationkey FROM nation "
            "UNION ALL SELECT CAST(r_regionkey + 50 AS BIGINT), 'r' || r_regionkey FROM region) "
            "SELECT e.src, e.dst, sv.name AS src_name, dv.name AS dst_name "
            "FROM e LEFT JOIN v sv ON e.src = sv.id LEFT JOIN v dv ON e.dst = dv.id"
        ),
        "connected_components": (
            "SELECT CAST(r_regionkey + 50 AS BIGINT) AS id, "
            "CAST(r_regionkey + 50 AS BIGINT) AS component FROM region "
            "UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), "
            "CAST(n_regionkey + 50 AS BIGINT) FROM nation "
            "UNION ALL SELECT CAST(c_custkey + 1000 AS BIGINT), "
            "CAST(n_regionkey + 50 AS BIGINT) "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey"
        ),
        "shortest_paths": (
            f"WITH v AS ({_VERTS_SMALL_SQL}), lm AS ("
            "SELECT CAST(c_nationkey + 100 AS BIGINT) AS nid, "
            "CAST(n_regionkey + 50 AS BIGINT) AS rid "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey = 1) "
            "SELECT v.id, CAST(CASE WHEN v.id = 1001 THEN 0 "
            "WHEN v.id = (SELECT nid FROM lm) THEN 1 "
            "WHEN v.id = (SELECT rid FROM lm) THEN 2 "
            "ELSE 2147483647 END AS INTEGER) AS dist_1001 FROM v"
        ),
        "pagerank_dag": (
            # closed form of 3-iteration delta-PageRank on the fixed-depth DAG
            "WITH cc AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY 1), "
            "np AS (SELECT CAST(n_nationkey + 100 AS BIGINT) AS id, n_regionkey, "
            "  0.15 + 0.85 * 0.15 * COALESCE(n_cust, 0) AS pr, COALESCE(n_cust, 0) AS n_cust "
            "  FROM nation LEFT JOIN cc ON nk = n_nationkey), "
            "rp AS (SELECT CAST(r_regionkey + 50 AS BIGINT) AS id, "
            "  0.15 + 0.85 * 0.15 * count(*) + 0.85 * 0.85 * 0.15 * sum(n_cust) AS pr "
            "  FROM region JOIN np ON np.n_regionkey = r_regionkey GROUP BY r_regionkey), "
            "raw AS (SELECT CAST(c_custkey + 1000 AS BIGINT) AS id, 0.15 AS pr FROM customer "
            "  UNION ALL SELECT id, pr FROM np UNION ALL SELECT id, pr FROM rp), "
            "tot AS (SELECT sum(pr) AS s FROM raw) "
            "SELECT id, round(pr / s, 6) AS pagerank FROM raw, tot"
        ),
        "mst_rings": (
            # closed form by the cycle property: each nation-ring minus its
            # unique max-weight edge; 200000+ chords are cycle-heaviest and
            # never appear
            "WITH g AS (SELECT c_nationkey AS nk, c_custkey AS ck, "
            "count(*) OVER (PARTITION BY c_nationkey) AS cnt, "
            "lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey) AS nxt, "
            "min(c_custkey) OVER (PARTITION BY c_nationkey) AS mn FROM customer), "
            "ring AS (SELECT nk, CAST(ck + 1000 AS BIGINT) AS a, "
            "CAST(COALESCE(nxt, mn) + 1000 AS BIGINT) AS b FROM g WHERE cnt >= 3), "
            "rw AS (SELECT nk, least(a, b) AS u, greatest(a, b) AS v, CAST(("
            + _HASH60.format(x="least(a, b) || ':' || greatest(a, b)")
            + " % 100000) AS DOUBLE) AS w FROM ring), "
            "mx AS (SELECT nk, max(w) AS mw FROM rw GROUP BY nk) "
            "SELECT u AS src, v AS dst, w AS weight "
            "FROM rw JOIN mx USING (nk) WHERE w < mw"
        ),
        "closeness": (
            # fixed-depth DAG: customer -> nation -> region, landmarks = the
            # 5 regions; distances are closed-form per tier
            f"WITH v AS ({_VERTS_SMALL_SQL}) SELECT id, "
            "CAST(CASE WHEN id >= 1000 THEN 1 WHEN id >= 100 THEN 1 "
            "ELSE 0 END AS INTEGER) AS n_reachable, "
            "CAST(CASE WHEN id >= 1000 THEN 0.5 WHEN id >= 100 THEN 1.0 "
            "ELSE 0.0 END AS DOUBLE) AS harmonic, "
            "CAST(CASE WHEN id >= 1000 THEN 0.5 WHEN id >= 100 THEN 1.0 "
            "ELSE 0.0 END AS DOUBLE) AS closeness FROM v"
        ),
        "kmeans_clusters": (
            # replay both Lloyd rounds: hash-ranked init, rounded distances
            # (tie-break on lower cid), rounded refreshed centroids
            "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
            "init AS (SELECT vec_id, v, "
            + _HASH60.format(x="CAST(vec_id AS VARCHAR)")
            + " AS h FROM e ORDER BY h LIMIT 8), "
            "c0 AS (SELECT row_number() OVER (ORDER BY h) - 1 AS cid, v FROM init), "
            "d1 AS (SELECT e.vec_id, c.cid, round(CAST(list_sum(list_transform("
            "generate_series(1, len(e.v)), i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])"
            ")) AS DOUBLE), 6) AS d2 FROM e, c0 c), "
            "a1 AS (SELECT vec_id, cid AS cluster FROM (SELECT vec_id, cid, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1) "
            "WHERE rn = 1), "
            "m1 AS (SELECT cluster, pos, round(avg(val), 6) AS mv FROM ("
            "SELECT a1.cluster, unnest(e.v) AS val, "
            "unnest(generate_series(1, len(e.v))) AS pos "
            "FROM a1 JOIN e USING (vec_id)) GROUP BY cluster, pos), "
            "c1 AS (SELECT cluster AS cid, list(mv ORDER BY pos) AS v FROM m1 "
            "GROUP BY cluster UNION ALL SELECT cid, v FROM c0 "
            "WHERE cid NOT IN (SELECT cluster FROM m1)), "
            "dd AS (SELECT e.vec_id, c.cid, round(CAST(list_sum(list_transform("
            "generate_series(1, len(e.v)), i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])"
            ")) AS DOUBLE), 6) AS d2 FROM e, c1 c) "
            "SELECT vec_id, CAST(cid AS INTEGER) AS cluster, d2 AS dist2 FROM ("
            "SELECT vec_id, cid, d2, "
            "row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM dd) "
            "WHERE rn = 1"
        ),
        "source_terms": (
            "WITH c AS (SELECT source, unnest(string_split(lower(text), ' ')) "
            "AS token FROM documents), "
            "g AS (SELECT source, token, CAST(count(*) AS BIGINT) AS n "
            "FROM c GROUP BY 1, 2) "
            "SELECT source, token, n, rank FROM (SELECT *, "
            "CAST(row_number() OVER (PARTITION BY source "
            "ORDER BY n DESC, token) AS BIGINT) AS rank FROM g) "
            "WHERE rank <= 5"
        ),
        "negative_samples": (
            # replay: symmetrized degrees -> deg^0.75 integer weights ->
            # (md5-bucket, vid)-ordered cumulative line -> hash-draw lookup
            f"WITH es AS MATERIALIZED (SELECT src, dst FROM ({_EDGES_SMALL_SQL}) "
            "WHERE src <> dst UNION SELECT dst, src FROM ("
            + _EDGES_SMALL_SQL
            + ") WHERE src <> dst), "
            "deg AS (SELECT src AS vid, count(*) AS deg FROM es GROUP BY 1), "
            "w AS (SELECT vid, greatest(1, CAST(floor(pow(deg, 0.75) * 1000) "
            "AS BIGINT)) AS wi, "
            + _HASH60.format(x="CAST(vid AS VARCHAR)")
            + " % 64 AS bkt FROM deg), "
            "line AS MATERIALIZED (SELECT vid, wi, "
            "sum(wi) OVER (ORDER BY bkt, vid ROWS UNBOUNDED PRECEDING) - wi "
            "AS lo FROM w), "
            "tw AS (SELECT CAST(sum(wi) AS BIGINT) AS total FROM w), "
            "pairs AS (SELECT DISTINCT CAST(c_custkey + 1000 AS BIGINT) AS center, "
            "CAST(c_nationkey + 100 AS BIGINT) AS context FROM customer "
            "UNION SELECT CAST(n_nationkey + 100 AS BIGINT), "
            "CAST(n_regionkey + 50 AS BIGINT) FROM nation), "
            "draws AS MATERIALIZED (SELECT center, context, s.slot, "
            + _HASH60.format(
                x="'42:' || center || ':' || context || ':' || s.slot"
            )
            + " % (SELECT total FROM tw) AS v FROM pairs, "
            "(SELECT unnest(generate_series(0, 2)) AS slot) s) "
            "SELECT d.center, d.context, CAST(d.slot AS INTEGER) AS slot, "
            "l.vid AS neg_id FROM draws d JOIN line l "
            "ON d.v >= l.lo AND d.v < l.lo + l.wi"
        ),
        "snapshot_diff": (
            "WITH o AS (SELECT c_custkey AS id, c_acctbal AS bal FROM customer), "
            "n AS (SELECT c_custkey AS id, c_acctbal + CASE WHEN "
            "c_custkey % 10 = 0 THEN 10.0 ELSE 0.0 END AS bal FROM customer "
            "WHERE c_custkey % 97 <> 0 UNION ALL "
            "SELECT c_custkey + 200000, c_acctbal FROM customer "
            "WHERE c_custkey % 500 = 0) "
            "SELECT COALESCE(o.id, n.id) AS id, "
            "CASE WHEN o.id IS NULL THEN 'inserted' "
            "WHEN n.id IS NULL THEN 'deleted' "
            "WHEN o.bal IS NOT DISTINCT FROM n.bal THEN 'unchanged' "
            "ELSE 'updated' END AS change, "
            "o.bal AS old_bal, n.bal AS new_bal "
            "FROM o FULL OUTER JOIN n ON o.id = n.id"
        ),
        "scd2_intervals": (
            "WITH ch AS (SELECT o_custkey, o_orderkey, "
            "CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE) "
            "AS BIGINT) AS day FROM orders) "
            "SELECT o_custkey, o_orderkey, day AS valid_from, "
            "COALESCE(lead(day) OVER w, 9223372036854775807) AS valid_to, "
            "lead(day) OVER w IS NULL AS is_current FROM ch "
            "WINDOW w AS (PARTITION BY o_custkey ORDER BY day, o_orderkey)"
        ),
        "edit_distance_pairs": (
            "WITH b AS (SELECT doc_id, md5(array_to_string("
            "(string_split(text, ' '))[1:4], ' ')) AS blk, text FROM documents), "
            "p AS (SELECT a.doc_id AS doc_a, bb.doc_id AS doc_b, "
            "a.text AS ta, bb.text AS tb FROM b a JOIN b bb "
            "ON a.blk = bb.blk AND a.doc_id < bb.doc_id) "
            "SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS INTEGER) "
            "AS edit_distance, round(1.0 - levenshtein(ta, tb) / "
            "CAST(greatest(length(ta), length(tb)) AS DOUBLE), 6) AS similarity "
            "FROM p"
        ),
        "temporal_reach": (
            "WITH RECURSIVE "
            "e AS MATERIALIZED (SELECT l_orderkey AS src, "
            "CAST(l_suppkey + 10000000 AS BIGINT) AS dst, "
            "CAST(date_diff('day', DATE '1970-01-01', l_shipdate::DATE) AS BIGINT) AS t "
            "FROM lineitem UNION ALL "
            "SELECT CAST(l_suppkey + 10000000 AS BIGINT), l_orderkey, "
            "CAST(date_diff('day', DATE '1970-01-01', l_shipdate::DATE) AS BIGINT) "
            "FROM lineitem), "
            # NOT _VERTS_BIG_SQL here: under WITH RECURSIVE DuckDB gives
            # union-in-CTE recursive evaluation semantics and the UNION
            # stops deduplicating; DISTINCT over UNION ALL is immune
            "v AS MATERIALIZED (SELECT DISTINCT id FROM ("
            "SELECT src AS id FROM e UNION ALL SELECT dst FROM e)), "
            "reach(node, t) AS ("
            "SELECT CAST(min(l_orderkey) AS BIGINT), CAST(0 AS BIGINT) FROM lineitem "
            "UNION "
            "SELECT e.dst, e.t FROM reach r JOIN e ON e.src = r.node AND e.t >= r.t), "
            "arr AS (SELECT node, min(t) AS arrival FROM reach GROUP BY node) "
            "SELECT v.id, COALESCE(arr.arrival, 9223372036854775807) AS arrival, "
            "arr.node IS NOT NULL AS reachable "
            "FROM v LEFT JOIN arr ON v.id = arr.node"
        ),
        "events_json": (
            "WITH k AS (SELECT event_type, "
            "CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv FROM events) "
            "SELECT event_type, CAST(count(kv) AS BIGINT) AS n_with_k, "
            "CAST(sum(kv) AS BIGINT) AS sum_k, max(kv) AS max_k "
            "FROM k GROUP BY event_type"
        ),
        "events_pivot": (
            "WITH d AS (SELECT CAST(date_trunc('day', ts) AS DATE) AS day, "
            "event_type FROM events) "
            "SELECT CAST(day AS VARCHAR) AS day, "
            "CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_click, "
            "CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_error, "
            "CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchase, "
            "CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS n_signup, "
            "CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_view "
            "FROM d GROUP BY day"
        ),
        "sales_rollup": (
            "SELECT COALESCE(r_name, 'ALL') AS r_name, "
            "COALESCE(n_name, 'ALL') AS n_name, "
            "CAST(count(*) AS BIGINT) AS n_orders, "
            "round(sum(o_totalprice), 4) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY ROLLUP (r_name, n_name)"
        ),
        "lm_score": (
            "WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks "
            "FROM documents), "
            "g AS (SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1, "
            "unnest(toks[2:len(toks)]) AS w2 FROM t), "
            "bc AS (SELECT w1, w2, count(*) AS cb FROM g GROUP BY 1, 2), "
            "wc AS (SELECT w1, sum(cb) AS cw1 FROM bc GROUP BY 1), "
            "vv AS (SELECT count(DISTINCT tk) AS v FROM ("
            "SELECT unnest(string_split(lower(text), ' ')) AS tk "
            "FROM documents)), "
            "sc AS (SELECT doc_id, ln((cb + 0.5) / (cw1 + 0.5 * v)) AS lp "
            "FROM g JOIN bc USING (w1, w2) JOIN wc USING (w1), vv), "
            "o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams, "
            "round(avg(lp), 6) AS avg_logprob FROM sc GROUP BY 1) "
            "SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams, "
            "COALESCE(avg_logprob, 0.0) AS avg_logprob "
            "FROM documents d LEFT JOIN o USING (doc_id)"
        ),
        "wcc_incremental": (
            "SELECT CAST(r_regionkey + 50 AS BIGINT) AS id, "
            "CAST(r_regionkey + 50 AS BIGINT) AS component FROM region "
            "UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), "
            "CAST(n_regionkey + 50 AS BIGINT) FROM nation "
            "UNION ALL SELECT CAST(c_custkey + 1000 AS BIGINT), "
            "CAST(n_regionkey + 50 AS BIGINT) "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey"
        ),
        "coarsen": (
            "WITH e AS (SELECT CAST(c_nationkey AS BIGINT) AS src, "
            "CAST(c_custkey % 25 AS BIGINT) AS dst FROM customer), "
            "r AS (SELECT "
            "CASE WHEN src < 24 THEN src - src % 2 ELSE src END AS s2, "
            "CASE WHEN dst < 24 THEN dst - dst % 2 ELSE dst END AS d2 "
            "FROM e) "
            "SELECT s2 AS src, d2 AS dst, "
            "CAST(count(*) AS DOUBLE) AS weight "
            "FROM r WHERE s2 <> d2 GROUP BY 1, 2"
        ),
        "profile_orders": (
            "SELECT 'o_orderkey' AS column, (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows, CAST(count(o_orderkey) AS BIGINT) AS n_nonnull, CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct, CAST(min(o_orderkey) AS VARCHAR) AS min_value, CAST(max(o_orderkey) AS VARCHAR) AS max_value FROM orders UNION ALL SELECT 'o_custkey' AS column, (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows, CAST(count(o_custkey) AS BIGINT) AS n_nonnull, CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct, CAST(min(o_custkey) AS VARCHAR) AS min_value, CAST(max(o_custkey) AS VARCHAR) AS max_value FROM orders UNION ALL SELECT 'o_orderstatus' AS column, (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows, CAST(count(o_orderstatus) AS BIGINT) AS n_nonnull, CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_distinct, CAST(min(o_orderstatus) AS VARCHAR) AS min_value, CAST(max(o_orderstatus) AS VARCHAR) AS max_value FROM orders UNION ALL SELECT 'o_totalprice' AS column, (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_rows, CAST(count(o_totalprice) AS BIGINT) AS n_nonnull, CAST(count(DISTINCT o_totalprice) AS BIGINT) AS n_distinct, CAST(min(o_totalprice) AS VARCHAR) AS min_value, CAST(max(o_totalprice) AS VARCHAR) AS max_value FROM orders"
        ),
        "events_anomaly": (
            "WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh, "
            "CAST(count(*) AS BIGINT) AS n_events FROM events GROUP BY 1, 2), "
            "s AS (SELECT event_type, (epoch_ms(hh) // 1000) AS window_start_epoch, "
            "n_events, "
            "avg(n_events::DOUBLE) OVER w AS m, "
            "stddev_samp(n_events::DOUBLE) OVER w AS sd, "
            "count(*) OVER w AS c FROM h "
            "WINDOW w AS (PARTITION BY event_type ORDER BY hh "
            "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) "
            "SELECT event_type, window_start_epoch, n_events, "
            "COALESCE(CASE WHEN c >= 2 AND sd > 0 "
            "THEN round((n_events - m) / sd, 6) END, 0.0) AS z, "
            "COALESCE(abs(CASE WHEN c >= 2 AND sd > 0 "
            "THEN round((n_events - m) / sd, 6) END) > 3.0, false) AS is_anomaly "
            "FROM s"
        ),
        "gapfill_locf": (
            f"WITH {_GAPFILL_BASE_SQL} "
            "SELECT event_type, bucket_epoch, "
            "round(last_value(v IGNORE NULLS) OVER ("
            "PARTITION BY event_type ORDER BY bucket_epoch "
            "ROWS UNBOUNDED PRECEDING), 6) AS value, "
            "v IS NULL AS is_gap FROM j"
        ),
        "gapfill_linear": (
            f"WITH {_GAPFILL_BASE_SQL}, "
            "w AS (SELECT event_type, bucket_epoch, v, "
            "last_value(v IGNORE NULLS) OVER ("
            "PARTITION BY event_type ORDER BY bucket_epoch "
            "ROWS UNBOUNDED PRECEDING) AS pv, "
            "last_value(CASE WHEN v IS NOT NULL THEN bucket_epoch END "
            "IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_epoch "
            "ROWS UNBOUNDED PRECEDING) AS pt, "
            "first_value(v IGNORE NULLS) OVER ("
            "PARTITION BY event_type ORDER BY bucket_epoch "
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, "
            "first_value(CASE WHEN v IS NOT NULL THEN bucket_epoch END "
            "IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY bucket_epoch "
            "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt FROM j) "
            "SELECT event_type, bucket_epoch, "
            "round(CASE WHEN v IS NOT NULL THEN v "
            "WHEN nt IS NULL THEN pv "
            "ELSE pv + (nv - pv) * (bucket_epoch - pt) / (nt - pt) END, 6) "
            "AS value, v IS NULL AS is_gap FROM w"
        ),
        "events_anomaly_value": (
            "WITH h AS (SELECT event_type, date_trunc('hour', ts) AS hh, "
            "sum(value) AS n_events FROM events GROUP BY 1, 2), "
            "s AS (SELECT event_type, (epoch_ms(hh) // 1000) AS window_start_epoch, "
            "n_events, "
            "avg(n_events::DOUBLE) OVER w AS m, "
            "stddev_samp(n_events::DOUBLE) OVER w AS sd, "
            "count(*) OVER w AS c FROM h "
            "WINDOW w AS (PARTITION BY event_type ORDER BY hh "
            "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) "
            "SELECT event_type, window_start_epoch, round(n_events, 6) AS n_events, "
            "COALESCE(CASE WHEN c >= 2 AND sd > 0 "
            "THEN round((n_events - m) / sd, 6) END, 0.0) AS z, "
            "COALESCE(abs(CASE WHEN c >= 2 AND sd > 0 "
            "THEN round((n_events - m) / sd, 6) END) > 3.0, false) AS is_anomaly "
            "FROM s"
        ),
        "ewma_counts": (
            # recursive-CTE replay of the JVM fold: y_0 = x_0,
            # y_t = 0.3*x_t + 0.7*y_{t-1} with the identical operand
            # order (double-typed 0.3e0/0.7e0 literals) so the IEEE-754
            # doubles match bit-for-bit before the 6-dp round
            "WITH RECURSIVE o AS (SELECT event_type, "
            "CAST((epoch_ms(ts) // 1000) // 3600 * 3600 AS BIGINT) "
            "AS bucket_epoch, CAST(count(*) AS BIGINT) AS n_events "
            "FROM events GROUP BY 1, 2), "
            "s AS (SELECT event_type, bucket_epoch, n_events, "
            "row_number() OVER (PARTITION BY event_type "
            "ORDER BY bucket_epoch) AS i FROM o), "
            "f AS (SELECT event_type, bucket_epoch, n_events, i, "
            "CAST(n_events AS DOUBLE) AS ewma FROM s WHERE i = 1 "
            "UNION ALL "
            "SELECT s.event_type, s.bucket_epoch, s.n_events, s.i, "
            "0.3e0 * CAST(s.n_events AS DOUBLE) + 0.7e0 * f.ewma "
            "FROM s JOIN f ON s.event_type = f.event_type "
            "AND s.i = f.i + 1) "
            "SELECT event_type, bucket_epoch, n_events, "
            "round(ewma, 6) AS ewma FROM f"
        ),
        "weighted_sample": (
            # identical Efraimidis-Spirakis keys: u from the md5-derived
            # hash60 bucket ((h % 1e6) + 0.5) / 1e6, key = -ln(u)/w,
            # row_number over (key, doc_id) per source stratum
            "WITH w AS (SELECT source, doc_id, n_chars, "
            "-ln(((('0x' || substr(md5('42:' || source || ':' || "
            "CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000) "
            "+ 0.5e0) / 1000000.0e0) / CAST(n_chars AS DOUBLE) AS es "
            "FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0), "
            "r AS (SELECT source, doc_id, n_chars, "
            "CAST(row_number() OVER (PARTITION BY source "
            "ORDER BY es, doc_id) AS BIGINT) AS sample_rank FROM w) "
            "SELECT source, doc_id, n_chars, sample_rank FROM r "
            "WHERE sample_rank <= 5"
        ),
        "reciprocity": (
            # EXISTS reverse-edge self-join over the same deduplicated
            # non-loop residue edge set; count tallies cast BIGINT
            "WITH e0 AS (SELECT DISTINCT "
            "CAST(l_orderkey % 97 AS BIGINT) AS src, "
            "CAST(l_partkey % 97 AS BIGINT) AS dst FROM lineitem), "
            "v AS (SELECT DISTINCT id FROM ("
            "SELECT src AS id FROM e0 UNION ALL SELECT dst FROM e0)), "
            "e AS (SELECT src, dst FROM e0 WHERE src <> dst), "
            "n AS (SELECT CAST(count(*) AS BIGINT) AS num_vertices FROM v), "
            "m AS (SELECT CAST(count(*) AS BIGINT) AS num_edges FROM e), "
            "r AS (SELECT CAST(count(*) AS BIGINT) AS reciprocal_edges "
            "FROM e a WHERE EXISTS (SELECT 1 FROM e b "
            "WHERE b.src = a.dst AND b.dst = a.src)) "
            "SELECT num_vertices, num_edges, reciprocal_edges, "
            "CASE WHEN num_edges > 0 THEN round("
            "CAST(reciprocal_edges AS DOUBLE) / num_edges, 6) END "
            "AS reciprocity, "
            "CASE WHEN num_vertices > 1 THEN round("
            "CAST(num_edges AS DOUBLE) / (num_vertices * (num_vertices - 1)), 6) END "
            "AS density "
            "FROM n CROSS JOIN m CROSS JOIN r"
        ),
        "hybrid_search": (
            # lexical CTE = bm25_topk's scoring; dense CTE = ann_topk's
            # cosine ranking for query vec 0; fusion = sum 1/(60+rank)
            "WITH base AS (SELECT doc_id, "
            "CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl, "
            "string_split(lower(text), ' ') AS toks FROM documents), "
            "tf AS (SELECT doc_id, dl, t AS token, count(*) AS tf FROM ("
            "SELECT doc_id, dl, unnest(toks) AS t FROM base) "
            "WHERE t IN ('hash', 'join', 'spark') GROUP BY 1, 2, 3), "
            "d AS (SELECT token, count(*) AS dfq FROM tf GROUP BY 1), "
            "st AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base), "
            "sc AS (SELECT doc_id, round(sum("
            "ln(1 + (n_docs - dfq + 0.5) / (dfq + 0.5)) * (tf * 2.2) / "
            "(tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score "
            "FROM tf JOIN d USING (token), st GROUP BY doc_id), "
            "bm AS (SELECT doc_id AS id, CAST(row_number() OVER ("
            "ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc "
            "QUALIFY rank <= 20), "
            "q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id = 0), "
            "b AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS nv "
            "FROM embeddings), "
            f"cs AS (SELECT neighbor_id, round({cos_qn}, 6) AS cosine "
            "FROM b CROSS JOIN q WHERE query_id <> neighbor_id), "
            "dn AS (SELECT neighbor_id AS id, CAST(row_number() OVER ("
            "ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank FROM cs "
            "QUALIFY rank <= 20), "
            "u AS (SELECT id, 1.0 / (60 + rank) AS c FROM bm "
            "UNION ALL SELECT id, 1.0 / (60 + rank) FROM dn), "
            "f AS (SELECT id, round(sum(c), 6) AS rrf, "
            "CAST(count(*) AS BIGINT) AS n_lists FROM u GROUP BY id) "
            "SELECT id AS doc_id, rrf, n_lists, CAST(row_number() OVER ("
            "ORDER BY rrf DESC, id) AS BIGINT) AS rank FROM f "
            "QUALIFY rank <= 10"
        ),
        "split_assign": (
            "SELECT doc_id, CASE WHEN "
            + _HASH60.format(x="'42:' || doc_id")
            + " % 1000000 < 800000 THEN 'train' WHEN "
            + _HASH60.format(x="'42:' || doc_id")
            + " % 1000000 < 900000 THEN 'val' ELSE 'test' END AS split "
            "FROM documents"
        ),
        "vocab_ids": (
            "SELECT token, CAST(n AS BIGINT) AS n, "
            "CAST(row_number() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) "
            "AS token_id FROM (SELECT t AS token, count(*) AS n FROM ("
            "SELECT unnest(string_split(lower(text), ' ')) AS t "
            "FROM documents) GROUP BY 1) WHERE n >= 2"
        ),
        "encode_docs": (
            "WITH v AS (SELECT token, CAST(row_number() OVER ("
            "ORDER BY n DESC, token) - 1 AS BIGINT) AS token_id FROM ("
            "SELECT t AS token, count(*) AS n FROM ("
            "SELECT unnest(string_split(lower(text), ' ')) AS t "
            "FROM documents) GROUP BY 1) WHERE n >= 50), "
            "p AS (SELECT doc_id, "
            "unnest(range(0, len(string_split(lower(text), ' ')))) AS pos, "
            "unnest(string_split(lower(text), ' ')) AS token FROM documents) "
            "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
            "array_to_string(list(COALESCE(v.token_id, -1) ORDER BY p.pos), '-') "
            "AS token_ids_str "
            "FROM p LEFT JOIN v USING (token) GROUP BY doc_id"
        ),
        "doc_entropy": (
            "WITH c AS (SELECT doc_id, t, count(*) AS c FROM ("
            "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t "
            "FROM documents) GROUP BY 1, 2) "
            "SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens, "
            "round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy "
            "FROM c GROUP BY doc_id"
        ),
        "quality_filter": (
            f"WITH s AS (SELECT doc_id, {quality} AS quality FROM documents), "
            "m AS (SELECT quantile_cont(quality, 0.5) AS med FROM s) "
            "SELECT doc_id, quality FROM s, m WHERE quality >= med"
        ),
        "salted_user_stats": (
            "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, "
            "round(sum(value), 4) AS total_value, max(value) AS max_value "
            "FROM events GROUP BY user_id"
        ),
        "degree_histogram": (
            f"WITH d AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ("
            f"SELECT src AS id FROM ({_EDGES_BIG_SQL}) "
            f"UNION ALL SELECT dst AS id FROM ({_EDGES_BIG_SQL})) GROUP BY id) "
            "SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices "
            "FROM d GROUP BY degree"
        ),
        "sales_cube": (
            "SELECT COALESCE(o_orderpriority, 'ALL') AS o_orderpriority, "
            "COALESCE(o_orderstatus, 'ALL') AS o_orderstatus, "
            "CAST(count(*) AS BIGINT) AS n_orders, "
            "round(sum(o_totalprice), 4) AS total_price "
            "FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)"
        ),
        "tpch_shipping": (
            "SELECT l_orderkey, o_orderdate, o_orderpriority, "
            "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue "
            "FROM customer JOIN orders ON c_custkey = o_custkey "
            "JOIN lineitem ON o_orderkey = l_orderkey "
            "WHERE c_mktsegment = 'BUILDING' "
            "AND o_orderdate < TIMESTAMP '1998-01-01' "
            "AND l_shipdate > TIMESTAMP '1998-01-01' "
            "GROUP BY l_orderkey, o_orderdate, o_orderpriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
        ),
        "tpch_local_volume": (
            "SELECT n_name, "
            "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey "
            "AND o_orderdate >= TIMESTAMP '1996-01-01' "
            "AND o_orderdate < TIMESTAMP '1997-01-01' "
            "GROUP BY n_name"
        ),
        "price_percentiles": (
            "SELECT c_mktsegment, "
            "round(quantile_cont(o_totalprice, 0.25), 4) AS p25, "
            "round(quantile_cont(o_totalprice, 0.50), 4) AS p50, "
            "round(quantile_cont(o_totalprice, 0.75), 4) AS p75, "
            "round(quantile_cont(o_totalprice, 0.95), 4) AS p95 "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_mktsegment"
        ),
        "markup_strip": (
            "SELECT doc_id, trim(regexp_replace(replace(replace(replace("
            "replace(replace(replace(regexp_replace("
            "'<p id=\"' || CAST(doc_id AS VARCHAR) || '\">' || text || "
            "' &amp;amp; x &lt; y&nbsp;z</p><br/>', "
            "'<[^<>]*>', ' ', 'g'), "
            "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
            "'&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'), "
            "'\\s+', ' ', 'g')) AS clean FROM documents"
        ),
        "running_totals": (
            "SELECT o_custkey, o_orderkey, "
            "CAST(row_number() OVER w AS BIGINT) AS order_seq, "
            "round(sum(o_totalprice) OVER w, 4) AS cum_spend FROM orders "
            "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"
        ),
        "eigenvector": (
            # 3 power rounds unrolled: join-sum over symmetrized edges,
            # L1 normalization each round, rounding only at the end
            f"WITH es AS MATERIALIZED (SELECT src, dst FROM ({_EDGES_SMALL_SQL}) "
            "UNION SELECT dst, src FROM ("
            + _EDGES_SMALL_SQL
            + ")), "
            f"v AS MATERIALIZED ({_VERTS_SMALL_SQL}), "
            "x0 AS (SELECT id, 1.0 AS x FROM v), "
            "r1 AS MATERIALIZED (SELECT v.id, COALESCE(s.mx, 0.0) AS x FROM v "
            "LEFT JOIN (SELECT es.dst AS id, sum(x0.x) AS mx FROM es "
            "JOIN x0 ON es.src = x0.id GROUP BY es.dst) s ON v.id = s.id), "
            "x1 AS MATERIALIZED (SELECT id, CASE WHEN t.t > 0 THEN x / t.t "
            "ELSE 0.0 END AS x FROM r1, (SELECT sum(x) AS t FROM r1) t), "
            "r2 AS MATERIALIZED (SELECT v.id, COALESCE(s.mx, 0.0) AS x FROM v "
            "LEFT JOIN (SELECT es.dst AS id, sum(x1.x) AS mx FROM es "
            "JOIN x1 ON es.src = x1.id GROUP BY es.dst) s ON v.id = s.id), "
            "x2 AS MATERIALIZED (SELECT id, CASE WHEN t.t > 0 THEN x / t.t "
            "ELSE 0.0 END AS x FROM r2, (SELECT sum(x) AS t FROM r2) t), "
            "r3 AS MATERIALIZED (SELECT v.id, COALESCE(s.mx, 0.0) AS x FROM v "
            "LEFT JOIN (SELECT es.dst AS id, sum(x2.x) AS mx FROM es "
            "JOIN x2 ON es.src = x2.id GROUP BY es.dst) s ON v.id = s.id), "
            "x3 AS (SELECT id, CASE WHEN t.t > 0 THEN x / t.t ELSE 0.0 END "
            "AS x FROM r3, (SELECT sum(x) AS t FROM r3) t) "
            "SELECT id, round(x, 6) AS eigenvector FROM x3"
        ),
        "katz": (
            # 3 Katz rounds unrolled: x_{t+1} = 1 + 0.05 * (A^T x_t)
            f"WITH es AS MATERIALIZED (SELECT src, dst FROM ({_EDGES_SMALL_SQL})), "
            f"v AS MATERIALIZED ({_VERTS_SMALL_SQL}), "
            "x0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS x FROM v), "
            "x1 AS MATERIALIZED (SELECT v.id, CAST(1.0 AS DOUBLE) + 0.05 * COALESCE(s.mx, 0.0) "
            "AS x FROM v LEFT JOIN (SELECT es.dst AS id, sum(x0.x) AS mx "
            "FROM es JOIN x0 ON es.src = x0.id GROUP BY es.dst) s "
            "ON v.id = s.id), "
            "x2 AS MATERIALIZED (SELECT v.id, CAST(1.0 AS DOUBLE) + 0.05 * COALESCE(s.mx, 0.0) "
            "AS x FROM v LEFT JOIN (SELECT es.dst AS id, sum(x1.x) AS mx "
            "FROM es JOIN x1 ON es.src = x1.id GROUP BY es.dst) s "
            "ON v.id = s.id), "
            "x3 AS (SELECT v.id, CAST(1.0 AS DOUBLE) + 0.05 * COALESCE(s.mx, 0.0) "
            "AS x FROM v LEFT JOIN (SELECT es.dst AS id, sum(x2.x) AS mx "
            "FROM es JOIN x2 ON es.src = x2.id GROUP BY es.dst) s "
            "ON v.id = s.id) "
            "SELECT id, round(x, 6) AS katz FROM x3"
        ),
        "densest_subgraph": (
            # problem-structure closure: the peel provably isolates the
            # planted K8, whose density is (8*7/2)/8 = 3.5
            "SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) "
            "AS id, CAST(3.5 AS DOUBLE) AS density FROM customer "
            "QUALIFY row_number() OVER (ORDER BY c_custkey) <= 8"
        ),
        "interval_join": (
            "WITH iv AS (SELECT o_custkey AS key, o_orderkey AS id, "
            "CAST(date_diff('day', DATE '1970-01-01', o_orderdate::DATE) "
            "AS BIGINT) AS s FROM orders) "
            "SELECT a.key, a.id AS l_id, b.id AS r_id, "
            "greatest(a.s, b.s) AS overlap_start, "
            "least(a.s + 10, b.s + 10) AS overlap_end "
            "FROM iv a JOIN iv b ON a.key = b.key AND a.id < b.id "
            "AND a.s <= b.s + 10 AND b.s <= a.s + 10"
        ),
        "cohort_retention": (
            "WITH pe AS (SELECT DISTINCT user_id AS u, "
            "((epoch_ms(ts) // 1000) // 3600) AS b FROM events), "
            "co AS (SELECT u, min(b) AS cohort_b FROM pe GROUP BY u), "
            "sz AS (SELECT cohort_b, CAST(count(DISTINCT u) AS BIGINT) AS "
            "cohort_size FROM co GROUP BY cohort_b), "
            "cells AS (SELECT c.cohort_b, p.b, CAST(count(DISTINCT p.u) AS BIGINT) "
            "AS n_active FROM pe p JOIN co c USING (u) GROUP BY 1, 2) "
            "SELECT cells.cohort_b AS cohort, cells.b - cells.cohort_b AS offset, "
            "n_active, cohort_size, "
            "round(n_active / CAST(cohort_size AS DOUBLE), 6) AS retention_rate "
            "FROM cells JOIN sz ON cells.cohort_b = sz.cohort_b"
        ),
        "funnel_steps": (
            "WITH s1 AS (SELECT user_id AS u, min(ts) AS t1 FROM events "
            "WHERE event_type = 'view' GROUP BY 1), "
            "s2 AS (SELECT s1.u, min(e.ts) AS t2 FROM events e JOIN s1 "
            "ON e.user_id = s1.u AND e.event_type = 'click' AND e.ts > s1.t1 "
            "GROUP BY 1), "
            "s3 AS (SELECT s2.u, min(e.ts) AS t3 FROM events e JOIN s2 "
            "ON e.user_id = s2.u AND e.event_type = 'purchase' AND e.ts > s2.t2 "
            "GROUP BY 1), "
            "c AS (SELECT 1 AS step, 'view' AS step_name, "
            "(SELECT CAST(count(*) AS BIGINT) FROM s1) AS n_users "
            "UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2) "
            "UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3)) "
            "SELECT CAST(step AS INTEGER) AS step, step_name, n_users, "
            "round(n_users / CAST(greatest((SELECT n_users FROM c WHERE step = 1), 1) "
            "AS DOUBLE), 6) AS conversion FROM c"
        ),
        "doc_chunks": (
            "WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks, "
            "len(string_split(text, ' ')) AS n FROM documents), "
            "nc AS (SELECT doc_id, toks, "
            "CAST(1 + ceil(greatest(n - 40, 0) / 32.0) AS INTEGER) AS k FROM t), "
            "c AS (SELECT doc_id, toks, "
            "unnest(generate_series(0, k - 1)) AS chunk_id FROM nc) "
            "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, "
            "array_to_string(toks[chunk_id * 32 + 1 : chunk_id * 32 + 40], ' ') "
            "AS chunk_text, "
            "CAST(len(toks[chunk_id * 32 + 1 : chunk_id * 32 + 40]) AS BIGINT) "
            "AS n_tokens FROM c"
        ),
        "knn_components": (
            # kNN edges with the Spark side's exact rounding + tie-break,
            # then transitive closure with min-member component labels
            "WITH RECURSIVE "
            "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"s AS (SELECT a.id AS qa, b.id AS qb, round({cos_ab}, 6) AS c "
            "FROM e a JOIN e b ON a.id <> b.id), "
            "nn AS MATERIALIZED (SELECT qa, qb FROM (SELECT qa, qb, "
            "row_number() OVER (PARTITION BY qa ORDER BY c DESC, qb) AS rn FROM s) "
            "WHERE rn <= 3), "
            "ue AS MATERIALIZED (SELECT qa AS u, qb AS v FROM nn "
            "UNION SELECT qb, qa FROM nn), "
            "reach AS (SELECT vec_id AS x, vec_id AS y FROM embeddings "
            "UNION SELECT r.x, ed.v FROM reach r JOIN ue ed ON r.y = ed.u) "
            "SELECT x AS vec_id, min(y) AS component FROM reach GROUP BY x"
        ),
        "length_stats": (
            "WITH t AS (SELECT source, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS tok FROM documents) "
            "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
            "round(avg(tok), 6) AS mean_tokens, "
            "round(CAST(quantile_cont(tok, 0.25) AS DOUBLE), 6) AS p25_tokens, "
            "round(CAST(quantile_cont(tok, 0.5) AS DOUBLE), 6) AS p50_tokens, "
            "round(CAST(quantile_cont(tok, 0.75) AS DOUBLE), 6) AS p75_tokens, "
            "round(CAST(quantile_cont(tok, 0.9) AS DOUBLE), 6) AS p90_tokens, "
            "round(CAST(quantile_cont(tok, 0.99) AS DOUBLE), 6) AS p99_tokens, "
            "max(tok) AS max_tokens FROM t GROUP BY source"
        ),
        "domain_cap": (
            "SELECT doc_id, source, grp_rank FROM (SELECT doc_id, source, "
            "CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) - 1 "
            "AS BIGINT) AS grp_rank FROM (SELECT doc_id, source, "
            + _HASH60.format(x="'42:' || source || ':' || doc_id")
            + " AS h FROM documents)) WHERE grp_rank < 40"
        ),
        "scc_rings": (
            "SELECT CAST(c_custkey + 1000 AS BIGINT) AS id, "
            "CAST(min(c_custkey) OVER (PARTITION BY c_nationkey, "
            "c_custkey % 8) + 1000 AS BIGINT) AS component FROM customer"
        ),
        "bfs_paths": (
            "SELECT CAST(c_custkey + 1000 AS BIGINT) AS from_id, "
            "CAST(n_regionkey + 50 AS BIGINT) AS to_id, "
            "array_to_string([CAST(c_custkey + 1000 AS BIGINT), "
            "CAST(c_nationkey + 100 AS BIGINT), "
            "CAST(n_regionkey + 50 AS BIGINT)], '->') AS path_str, "
            "CAST(2 AS BIGINT) AS length "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "WHERE (c_custkey + 1000) % 50 = 3"
        ),
        "pagerank_weighted": (
            # 3 unrolled weighted delta rounds on the reversed DAG; round 3
            # contributes zero (customers have no out-edges) but is kept so
            # the SQL mirrors the iteration count, not DAG-specific insight
            "WITH e AS ("
            "SELECT CAST(c_nationkey + 100 AS BIGINT) AS src, "
            "CAST(c_custkey + 1000 AS BIGINT) AS dst, "
            "1.0 + (c_custkey + 1000 + c_nationkey + 100) % 5 AS w FROM customer "
            "UNION ALL SELECT CAST(n_regionkey + 50 AS BIGINT), "
            "CAST(n_nationkey + 100 AS BIGINT), "
            "1.0 + (n_nationkey + 100 + n_regionkey + 50) % 5 FROM nation), "
            "wsum AS (SELECT src, sum(w) AS W FROM e GROUP BY 1), "
            "d1 AS (SELECT e.dst AS id, sum(0.85 * 0.15 * e.w / ws.W) AS delta "
            "FROM e JOIN wsum ws ON e.src = ws.src GROUP BY 1), "
            "d2 AS (SELECT e.dst AS id, sum(0.85 * d1.delta * e.w / ws.W) AS delta "
            "FROM e JOIN d1 ON e.src = d1.id JOIN wsum ws ON e.src = ws.src GROUP BY 1), "
            "d3 AS (SELECT e.dst AS id, sum(0.85 * d2.delta * e.w / ws.W) AS delta "
            "FROM e JOIN d2 ON e.src = d2.id JOIN wsum ws ON e.src = ws.src GROUP BY 1), "
            f"verts AS ({_VERTS_SMALL_SQL}), "
            "raw AS (SELECT v.id, 0.15 + COALESCE(d1.delta, 0) + "
            "COALESCE(d2.delta, 0) + COALESCE(d3.delta, 0) AS pr FROM verts v "
            "LEFT JOIN d1 ON v.id = d1.id LEFT JOIN d2 ON v.id = d2.id "
            "LEFT JOIN d3 ON v.id = d3.id), "
            "tot AS (SELECT sum(pr) AS s FROM raw) "
            "SELECT id, round(pr / s, 6) AS pagerank FROM raw, tot"
        ),
        "motif_triangles": (
            "WITH e AS (SELECT DISTINCT src, dst FROM ("
            "SELECT l_orderkey AS src, CAST(l_suppkey + 10000000 AS BIGINT) AS dst FROM lineitem "
            "UNION ALL SELECT CAST(l_suppkey + 10000000 AS BIGINT), "
            "CAST(l_partkey + 20000000 AS BIGINT) FROM lineitem "
            "UNION ALL SELECT l_orderkey, CAST(l_partkey + 20000000 AS BIGINT) FROM lineitem)) "
            "SELECT e1.src AS a_id, e1.dst AS b_id, e2.dst AS c_id "
            "FROM e e1 JOIN e e2 ON e1.dst = e2.src "
            "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"
        ),
        "pagerank_personalized": (
            # closed form: delta_0 = 0.15 at customer 1001, delta_1 =
            # 0.85*0.15 at its nation, delta_2 = 0.85^2*0.15 at that
            # nation's region (out-degrees are all 1 on the path), 0 else
            "WITH c1 AS (SELECT CAST(c_custkey + 1000 AS BIGINT) AS cid, "
            "CAST(c_nationkey + 100 AS BIGINT) AS nid FROM customer "
            "WHERE c_custkey = 1), "
            "n1 AS (SELECT CAST(n_nationkey + 100 AS BIGINT) AS nid, "
            "CAST(n_regionkey + 50 AS BIGINT) AS rid FROM nation), "
            "special AS (SELECT cid AS id, 0.15 AS pr FROM c1 "
            "UNION ALL SELECT nid, 0.85 * 0.15 FROM c1 "
            "UNION ALL SELECT n1.rid, 0.85 * 0.85 * 0.15 FROM c1 "
            "JOIN n1 ON c1.nid = n1.nid), "
            f"verts AS ({_VERTS_SMALL_SQL}), "
            "raw AS (SELECT v.id, COALESCE(s.pr, 0.0) AS pr FROM verts v "
            "LEFT JOIN special s ON v.id = s.id), "
            "tot AS (SELECT sum(pr) AS s FROM raw) "
            "SELECT id, round(pr / s, 6) AS pagerank FROM raw, tot"
        ),
        "random_walks": _random_walks_sql(scalar_path=True),
        "node2vec_walks": _node2vec_sql(),
        "weighted_walks": _weighted_walks_sql(),
        "neighborhood_fn": _neighborhood_sql(),
        "effective_diameter": _effective_diameter_sql(),
        "skipgram_pairs": _skipgram_pairs_sql(),
        "hits": (
            f"WITH e AS ({_EDGES_SMALL_SQL}), "
            f"verts AS ({_VERTS_SMALL_SQL}), "
            "outd AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS h1 "
            "FROM e GROUP BY 1), "
            "ind AS (SELECT dst AS id, CAST(count(*) AS DOUBLE) AS a1 "
            "FROM e GROUP BY 1), "
            "a2 AS (SELECT e.dst AS id, sum(COALESCE(o.h1, 0)) AS a "
            "FROM e LEFT JOIN outd o ON e.src = o.id GROUP BY 1), "
            "h2 AS (SELECT e.src AS id, sum(COALESCE(i.a1, 0)) AS h "
            "FROM e LEFT JOIN ind i ON e.dst = i.id GROUP BY 1), "
            "raw AS (SELECT v.id, COALESCE(a, 0) AS a, COALESCE(h, 0) AS h "
            "FROM verts v LEFT JOIN a2 USING (id) LEFT JOIN h2 USING (id)), "
            "tot AS (SELECT sum(a) AS ta, sum(h) AS th FROM raw) "
            "SELECT id, round(a / ta, 6) AS authority, "
            "round(h / th, 6) AS hub FROM raw, tot"
        ),
        "pagerank_parallel": (
            # two closed-form chains (see pagerank_personalized), exploded
            # to (id, source_idx, pagerank) rows in source order
            # [customer 1001 -> idx 0, nation 101 -> idx 1]; each chain
            # normalizes over its own total mass. source_idx is INTEGER to
            # match Spark posexplode's int32 position column
            "WITH c1 AS (SELECT CAST(c_custkey + 1000 AS BIGINT) AS cid, "
            "CAST(c_nationkey + 100 AS BIGINT) AS nid FROM customer "
            "WHERE c_custkey = 1), "
            "n1 AS (SELECT CAST(n_nationkey + 100 AS BIGINT) AS nid, "
            "CAST(n_regionkey + 50 AS BIGINT) AS rid FROM nation), "
            "sa AS (SELECT cid AS id, 0.15 AS pr FROM c1 "
            "UNION ALL SELECT nid, 0.85 * 0.15 FROM c1 "
            "UNION ALL SELECT n1.rid, 0.85 * 0.85 * 0.15 FROM c1 "
            "JOIN n1 ON c1.nid = n1.nid), "
            "sb AS (SELECT CAST(101 AS BIGINT) AS id, 0.15 AS pr "
            "UNION ALL SELECT rid, 0.85 * 0.15 FROM n1 WHERE nid = 101), "
            f"verts AS ({_VERTS_SMALL_SQL}), "
            "raw AS (SELECT v.id, COALESCE(a.pr, 0.0) AS pra, "
            "COALESCE(b.pr, 0.0) AS prb FROM verts v "
            "LEFT JOIN sa a ON v.id = a.id LEFT JOIN sb b ON v.id = b.id), "
            "tot AS (SELECT sum(pra) AS ta, sum(prb) AS tb FROM raw) "
            "SELECT id, CAST(0 AS INTEGER) AS source_idx, "
            "round(CAST(pra / ta AS DOUBLE), 6) AS pagerank FROM raw, tot "
            "UNION ALL SELECT id, CAST(1 AS INTEGER), "
            "round(CAST(prb / tb AS DOUBLE), 6) FROM raw, tot"
        ),
        "wcc_big": _wcc_big_sql(),
        "kcore_big": _kcore_big_sql(),
        "label_propagation": _label_propagation_sql(5),
        "mis_forest": (
            f"SELECT id, true AS ok FROM ({_VERTS_SMALL_SQL})"
        ),
        "matching_forest": (
            f"SELECT id, true AS ok FROM ({_VERTS_SMALL_SQL})"
        ),
        "vertex_cover": (
            f"SELECT DISTINCT src, dst, true AS covered FROM ({_EDGES_SMALL_SQL})"
        ),
        "coloring_forest": (
            f"SELECT id, true AS ok FROM ({_VERTS_SMALL_SQL})"
        ),
        "conductance": _CONDUCTANCE_SQL,
        "feature_propagation": _feature_prop_sql(),
        "assortativity": (
            f"WITH e0 AS ({_EDGES_SMALL_SQL}), "
            "und AS (SELECT DISTINCT src, dst FROM ("
            "SELECT src, dst FROM e0 WHERE src <> dst "
            "UNION ALL SELECT dst, src FROM e0 WHERE src <> dst)), "
            "deg AS (SELECT src AS id, count(*) AS d FROM und GROUP BY 1) "
            "SELECT round(corr(a.d, b.d), 6) AS assortativity "
            "FROM und JOIN deg a ON und.src = a.id "
            "JOIN deg b ON und.dst = b.id"
        ),
        "link_prediction": (
            "SELECT CAST(a.n_nationkey + 100 AS BIGINT) AS a, "
            "CAST(b.n_nationkey + 100 AS BIGINT) AS b, "
            "CAST(1 AS BIGINT) AS common, "
            "CAST(1.0 AS DOUBLE) AS jaccard, "
            "round(CAST(1.0 AS DOUBLE) / ln(5), 6) AS adamic_adar "
            "FROM nation a JOIN nation b "
            "ON a.n_regionkey = b.n_regionkey "
            "AND a.n_nationkey < b.n_nationkey"
        ),
        "ktruss_planted": (
            "SELECT CAST(a.r_regionkey + 50 AS BIGINT) AS src, "
            "CAST(b.r_regionkey + 50 AS BIGINT) AS dst, "
            "CAST(3 AS BIGINT) AS support "
            "FROM region a JOIN region b ON a.r_regionkey < b.r_regionkey"
        ),
        "betweenness": (
            "WITH srcs AS (SELECT CAST(c_nationkey + 100 AS BIGINT) AS nid "
            "FROM customer WHERE c_custkey IN (1, 2, 3)), "
            "b AS (SELECT nid AS id, CAST(count(*) AS DOUBLE) AS bw "
            "FROM srcs GROUP BY 1), "
            f"verts AS ({_VERTS_SMALL_SQL}) "
            "SELECT v.id, round(COALESCE(bw, 0.0), 6) AS betweenness "
            "FROM verts v LEFT JOIN b USING (id)"
        ),
        "ann_lsh": (
            "SELECT vec_id AS query_id, true AS recall_ok "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "ann_ivf": (
            "SELECT vec_id AS query_id, true AS recall_ok "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "ann_pq": (
            "SELECT vec_id AS query_id, true AS recall_ok "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "ann_ivfpq": (
            "SELECT vec_id AS query_id, true AS recall_ok "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "embedding_outliers": _EMB_OUTLIERS_SQL,
        "kcore_forest": (
            f"WITH v AS ({_VERTS_SMALL_SQL}), e AS ({_EDGES_SMALL_SQL}), "
            "deg AS (SELECT id, count(*) AS d FROM ("
            "SELECT src AS id FROM e WHERE src <> dst "
            "UNION ALL SELECT dst FROM e WHERE src <> dst) GROUP BY id) "
            "SELECT v.id, CAST(CASE WHEN COALESCE(d, 0) >= 1 THEN 1 ELSE 0 END AS BIGINT) "
            "AS kcore FROM v LEFT JOIN deg ON v.id = deg.id"
        ),
        "triangles": (
            "WITH raw AS ("
            "SELECT l_orderkey AS src, CAST(l_suppkey + 10000000 AS BIGINT) AS dst FROM lineitem "
            "UNION ALL SELECT CAST(l_suppkey + 10000000 AS BIGINT), "
            "CAST(l_partkey + 20000000 AS BIGINT) FROM lineitem "
            "UNION ALL SELECT l_orderkey, CAST(l_partkey + 20000000 AS BIGINT) FROM lineitem), "
            "canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
            "FROM raw WHERE src <> dst), "
            "tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
            "FROM canon e1 JOIN canon e2 ON e1.b = e2.a "
            "JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b), "
            "corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri "
            "UNION ALL SELECT c FROM tri), "
            "verts AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw), "
            "cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY id) "
            "SELECT verts.id, COALESCE(cnt.triangles, 0) AS triangles "
            "FROM verts LEFT JOIN cnt USING (id)"
        ),
        "clustering_coeff": (
            "WITH raw AS ("
            "SELECT l_orderkey AS src, CAST(l_suppkey + 10000000 AS BIGINT) AS dst FROM lineitem "
            "UNION ALL SELECT CAST(l_suppkey + 10000000 AS BIGINT), "
            "CAST(l_partkey + 20000000 AS BIGINT) FROM lineitem "
            "UNION ALL SELECT l_orderkey, CAST(l_partkey + 20000000 AS BIGINT) FROM lineitem), "
            "canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
            "FROM raw WHERE src <> dst), "
            "tri AS (SELECT e1.a AS a, e1.b AS b, e2.b AS c "
            "FROM canon e1 JOIN canon e2 ON e1.b = e2.a "
            "JOIN canon e3 ON e3.a = e1.a AND e3.b = e2.b), "
            "corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri "
            "UNION ALL SELECT c FROM tri), "
            "cnt AS (SELECT id, CAST(count(*) AS BIGINT) AS triangles FROM corners GROUP BY id), "
            "deg AS (SELECT id, CAST(count(*) AS BIGINT) AS degree FROM ("
            "SELECT a AS id FROM canon UNION ALL SELECT b FROM canon) GROUP BY id), "
            "verts AS (SELECT src AS id FROM raw UNION SELECT dst FROM raw) "
            "SELECT verts.id, COALESCE(deg.degree, 0) AS degree, "
            "COALESCE(cnt.triangles, 0) AS triangles, "
            "CASE WHEN COALESCE(deg.degree, 0) >= 2 THEN "
            "round(2.0 * COALESCE(cnt.triangles, 0) / (deg.degree * (deg.degree - 1)), 6) "
            "ELSE 0.0 END AS coefficient "
            "FROM verts LEFT JOIN cnt USING (id) LEFT JOIN deg USING (id)"
        ),
        "topo_layers": (
            # closed form: each customer's orders form a path ordered by
            # (o_orderdate, o_orderkey), so the longest-path layer is just
            # the position in the chain
            "SELECT CAST(o_orderkey + 30000000 AS BIGINT) AS id, "
            "CAST(row_number() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderdate, o_orderkey) - 1 AS BIGINT) AS layer "
            "FROM orders"
        ),
        "modularity_nations": (
            f"WITH e AS ({_EDGES_SMALL_SQL}), "
            "canon AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b "
            "FROM e WHERE src <> dst), "
            "lab AS (SELECT CAST(c_custkey + 1000 AS BIGINT) AS id, "
            "CAST(c_nationkey + 100 AS BIGINT) AS lab FROM customer "
            "UNION ALL SELECT CAST(n_nationkey + 100 AS BIGINT), "
            "CAST(n_nationkey + 100 AS BIGINT) FROM nation "
            "UNION ALL SELECT CAST(r_regionkey + 50 AS BIGINT), "
            "CAST(r_regionkey + 50 AS BIGINT) FROM region), "
            "tagged AS (SELECT la.lab AS lab_a, lb.lab AS lab_b FROM canon "
            "JOIN lab la ON canon.a = la.id JOIN lab lb ON canon.b = lb.id), "
            "deg_c AS (SELECT c, CAST(count(*) AS BIGINT) AS d_c FROM ("
            "SELECT lab_a AS c FROM tagged UNION ALL SELECT lab_b FROM tagged) GROUP BY c), "
            "ec AS (SELECT lab_a AS c, CAST(count(*) AS BIGINT) AS e_c FROM tagged "
            "WHERE lab_a = lab_b GROUP BY lab_a), "
            "per_c AS (SELECT deg_c.c, COALESCE(ec.e_c, 0) AS e_c, d_c "
            "FROM deg_c LEFT JOIN ec USING (c)), "
            "m AS (SELECT CAST(sum(d_c) / 2 AS BIGINT) AS m_edges FROM per_c) "
            "SELECT m.m_edges, CAST(count(*) AS BIGINT) AS n_communities, "
            "round(sum(e_c / CAST(m.m_edges AS DOUBLE) "
            "- pow(d_c / (2.0 * m.m_edges), 2)), 6) AS modularity "
            "FROM per_c, m GROUP BY m.m_edges"
        ),
        "louvain_cliques": (
            # planted optimum: each custkey % 100 clique is its own
            # community, labelled by the minimum member id
            "SELECT CAST(c_custkey + 1000 AS BIGINT) AS id, "
            "CAST(min(c_custkey + 1000) OVER "
            "(PARTITION BY c_custkey % 100) AS BIGINT) AS community "
            "FROM customer"
        ),
        "weighted_sssp": (
            # closed form on the fixed-depth DAG: from customer 1001 only its
            # nation and that nation's region are reachable; w = 1+(src+dst)%5
            f"WITH v AS ({_VERTS_SMALL_SQL}), lm AS ("
            "SELECT CAST(c_nationkey + 100 AS BIGINT) AS nid, "
            "CAST(n_regionkey + 50 AS BIGINT) AS rid "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey WHERE c_custkey = 1) "
            "SELECT v.id, CASE "
            "WHEN v.id = 1001 THEN 0.0 "
            "WHEN v.id = (SELECT nid FROM lm) THEN 1.0 + (1001 + (SELECT nid FROM lm)) % 5 "
            "WHEN v.id = (SELECT rid FROM lm) THEN "
            "  (1.0 + (1001 + (SELECT nid FROM lm)) % 5) "
            "  + (1.0 + ((SELECT nid FROM lm) + (SELECT rid FROM lm)) % 5) "
            "ELSE CAST('infinity' AS DOUBLE) END AS dist FROM v"
        ),
        "doc_token_counts": (
            "SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) "
            "AS n_bpe_tokens FROM documents"
        ),
        "doc_quality": (
            f"SELECT doc_id, round({alpha}, 6) AS alpha_ratio, "
            f"round({stop_ratio}, 6) AS stopword_ratio, {quality} AS quality "
            "FROM documents"
        ),
        "doc_repetition": (
            "WITH tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), "
            "base AS (SELECT doc_id, len(t) AS n, "
            "round(CAST(len(list_distinct(t)) AS DOUBLE) / len(t), 6) AS dr, "
            "list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1]) AS bg "
            "FROM tk), "
            "bgx AS (SELECT doc_id, unnest(bg) AS b FROM base), "
            "cnt AS (SELECT doc_id, b, count(*) AS c FROM bgx GROUP BY 1, 2), "
            "agg AS (SELECT doc_id, sum(c) AS total, max(c) AS top, "
            "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS once FROM cnt GROUP BY 1) "
            "SELECT b.doc_id, CAST(b.n AS BIGINT) AS n_tokens, "
            "b.dr AS distinct_token_ratio, "
            "round(CAST(a.top AS DOUBLE) / a.total, 6) AS top_bigram_frac, "
            "round(CAST(a.total - a.once AS DOUBLE) / a.total, 6) AS dup_bigram_frac "
            "FROM base b JOIN agg a USING (doc_id)"
        ),
        "doc_lang": (
            f"WITH t AS (SELECT doc_id, {toks_lower} AS toks FROM documents), "
            f"s AS (SELECT doc_id, {_lang_scores_sql()} FROM t), "
            "m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS mx FROM s) "
            "SELECT doc_id, CASE WHEN mx > 0 THEN ("
            "CASE WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' "
            "WHEN s_es = mx THEN 'es' WHEN s_fr = mx THEN 'fr' END) "
            "ELSE 'und' END AS lang_pred FROM m"
        ),
        "doc_fingerprint": (
            f"SELECT doc_id, {fingerprint} AS fingerprint FROM documents"
        ),
        "doc_normalize": (
            "SELECT doc_id, "
            "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS norm_hash, "
            "CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls, "
            "CAST(len(regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails "
            "FROM documents"
        ),
        "pii_scrub": (
            "SELECT doc_id, "
            "md5(regexp_replace(regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'), "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g')) "
            "AS clean_hash, "
            "CAST(len(regexp_extract_all(text, 'https?://[^\\s]+')) AS BIGINT) AS n_urls, "
            "CAST(len(regexp_extract_all(text, "
            "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS BIGINT) AS n_emails "
            "FROM documents"
        ),
        "doc_packing": (
            "WITH t AS (SELECT doc_id, doc_id % 16 AS shard, "
            "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents) "
            "SELECT doc_id, shard, CAST(floor((sum(n_tokens) OVER ("
            "PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)"
            " / 2048.0) AS BIGINT) AS bin, n_tokens FROM t"
        ),
        "vocab_stats": (
            "SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_docs, "
            "CAST(count(*) AS BIGINT) AS n_tokens, "
            "CAST(count(DISTINCT t) AS BIGINT) AS n_distinct_tokens "
            "FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)"
        ),
        "token_topk": (
            "WITH c AS (SELECT unnest(string_split(lower(text), ' ')) AS token "
            "FROM documents), "
            "g AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY token), "
            "r AS (SELECT *, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) "
            "AS rank FROM g) "
            "SELECT token, n, rank FROM r WHERE rank <= 20"
        ),
        "line_dedup": _LINE_DEDUP_SQL,
        "token_cms": _TOKEN_CMS_SQL,
        "kmv_overlap": _KMV_SQL,
        "bipartite_projection": _BIPROJ_SQL,
        "dedup_exact": (
            "WITH h AS (SELECT doc_id, md5(text) AS content_hash FROM documents), "
            "c AS (SELECT content_hash, min(doc_id) AS canonical_id FROM h GROUP BY 1) "
            "SELECT doc_id, h.content_hash, canonical_id, "
            "doc_id <> canonical_id AS is_duplicate FROM h JOIN c USING (content_hash)"
        ),
        "minhash_sigs": _minhash_sig_sql(),
        "lsh_candidates": _lsh_candidates_sql(),
        "neardup_first_arrival": _neardup_first_arrival_sql(),
        "dedup_incremental": _dedup_incremental_sql(),
        "dedup_incr_indexed": _dedup_incremental_sql(),
        "tfidf_topk": (
            "WITH tf AS (SELECT doc_id, t AS token, count(*) AS tf FROM ("
            "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t "
            "FROM documents) GROUP BY 1, 2), "
            "d AS (SELECT token, count(*) AS dfreq FROM tf GROUP BY 1), "
            "n AS (SELECT count(*) AS nd FROM documents), "
            "s AS (SELECT doc_id, token, tf, dfreq, "
            "round(tf * ln(CAST(nd AS DOUBLE) / dfreq), 6) AS tfidf "
            "FROM tf JOIN d USING (token), n), "
            "r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id "
            "ORDER BY tfidf DESC, token) AS BIGINT) AS rank FROM s) "
            "SELECT doc_id, token, tf, dfreq, tfidf, rank FROM r "
            "WHERE rank <= 5"
        ),
        "bm25_topk": (
            # BM25 with dl = full doc token count, avgdl its corpus mean;
            # idf = ln(1 + (N - df + .5)/(df + .5)); k1=1.2, b=0.75
            "WITH base AS (SELECT doc_id, "
            "CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl, "
            "string_split(lower(text), ' ') AS toks FROM documents), "
            "tf AS (SELECT doc_id, dl, t AS token, count(*) AS tf FROM ("
            "SELECT doc_id, dl, unnest(toks) AS t FROM base) "
            "WHERE t IN ('hash', 'join', 'spark') GROUP BY 1, 2, 3), "
            "d AS (SELECT token, count(*) AS dfq FROM tf GROUP BY 1), "
            "s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base), "
            "sc AS (SELECT doc_id, round(sum("
            "ln(1 + (n_docs - dfq + 0.5) / (dfq + 0.5)) * (tf * 2.2) / "
            "(tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))), 6) AS score "
            "FROM tf JOIN d USING (token), s GROUP BY doc_id) "
            "SELECT doc_id, score, CAST(row_number() OVER ("
            "ORDER BY score DESC, doc_id) AS BIGINT) AS rank FROM sc "
            "QUALIFY rank <= 20"
        ),
        "exact_substr_spans": (
            # positional 40-char windows over RAW substrings (Spark hashes
            # them; detection is per-position either way), occurrence
            # count >= 2, then gaps-and-islands merge of the [pos, pos+40)
            # windows: new island iff the next start exceeds the previous
            # start + 40 (all windows are the same length, so the running
            # max of ends is the previous start + 40). lag() NULL on the
            # first row -> CASE gives 0, matching Spark's otherwise(0).
            "WITH g AS (SELECT doc_id, "
            "unnest(range(1, length(text) - 40 + 2))::BIGINT AS pos, "
            "substr(text, unnest(range(1, length(text) - 40 + 2))::INT, 40) "
            "AS gram FROM documents WHERE length(text) >= 40), "
            "freq AS (SELECT gram FROM g GROUP BY gram "
            "HAVING count(*) >= 2), "
            "dup AS (SELECT g.doc_id, g.pos FROM g JOIN freq USING (gram)), "
            "brk AS (SELECT doc_id, pos, CASE WHEN pos > "
            "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40 "
            "THEN 1 ELSE 0 END AS b FROM dup), "
            "isl AS (SELECT doc_id, pos, sum(b) OVER "
            "(PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
            "AS i FROM brk) "
            "SELECT doc_id, min(pos) AS span_start, "
            "max(pos) + 40 AS span_end FROM isl GROUP BY doc_id, i"
        ),
        "exact_substr_incr": (
            # batch windows (doc_id % 5 = 0) semi-joined to the index
            # side's DISTINCT windows (doc_id % 5 <> 0) over raw
            # substrings — presence, not frequency — then the same
            # gaps-and-islands merge as exact_substr_spans
            "WITH gb AS (SELECT doc_id, "
            "unnest(range(1, length(text) - 40 + 2))::BIGINT AS pos, "
            "substr(text, unnest(range(1, length(text) - 40 + 2))::INT, 40) "
            "AS gram FROM documents "
            "WHERE length(text) >= 40 AND doc_id % 5 = 0), "
            "gi AS (SELECT DISTINCT "
            "substr(text, unnest(range(1, length(text) - 40 + 2))::INT, 40) "
            "AS gram FROM documents "
            "WHERE length(text) >= 40 AND doc_id % 5 <> 0), "
            "dup AS (SELECT gb.doc_id, gb.pos FROM gb "
            "SEMI JOIN gi ON gb.gram = gi.gram), "
            "brk AS (SELECT doc_id, pos, CASE WHEN pos > "
            "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40 "
            "THEN 1 ELSE 0 END AS b FROM dup), "
            "isl AS (SELECT doc_id, pos, sum(b) OVER "
            "(PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
            "AS i FROM brk) "
            "SELECT doc_id, min(pos) AS span_start, "
            "max(pos) + 40 AS span_end FROM isl GROUP BY doc_id, i"
        ),
        "exact_substr_keepfirst": (
            # keep-first char semantics: a char is reported iff covered
            # by an occurrence ranked >1 of its window content AND by no
            # rank-1 (protected) occurrence — the same endpoint event
            # sweep the Spark side runs (u = unprotected coverage depth,
            # p = protected depth; report [c, next_c) where u>0 and p=0),
            # then adjacent-segment merge
            "WITH g AS (SELECT doc_id, "
            "unnest(range(1, length(text) - 40 + 2))::BIGINT AS pos, "
            "substr(text, unnest(range(1, length(text) - 40 + 2))::INT, 40) "
            "AS gram FROM documents WHERE length(text) >= 40), "
            "cnt AS (SELECT gram, count(*) AS c FROM g GROUP BY gram), "
            "rk AS (SELECT doc_id, pos, gram, row_number() OVER "
            "(PARTITION BY gram ORDER BY doc_id, pos) AS rn FROM g), "
            "dup AS (SELECT rk.doc_id, rk.pos, "
            "CASE WHEN rk.rn = 1 THEN 1 ELSE 0 END AS isp "
            "FROM rk JOIN cnt USING (gram) WHERE cnt.c >= 2), "
            "ev AS (SELECT doc_id, pos AS c, 1 - isp AS du, isp AS dp "
            "FROM dup UNION ALL SELECT doc_id, pos + 40, "
            "-(1 - isp), -isp FROM dup), "
            "ag AS (SELECT doc_id, c, sum(du) AS du, sum(dp) AS dp "
            "FROM ev GROUP BY doc_id, c), "
            "sw AS (SELECT doc_id, c, "
            "sum(du) OVER (PARTITION BY doc_id ORDER BY c "
            "ROWS UNBOUNDED PRECEDING) AS u, "
            "sum(dp) OVER (PARTITION BY doc_id ORDER BY c "
            "ROWS UNBOUNDED PRECEDING) AS p, "
            "lead(c) OVER (PARTITION BY doc_id ORDER BY c) AS nc FROM ag), "
            "seg AS (SELECT doc_id, c AS s, nc AS e FROM sw "
            "WHERE u > 0 AND p = 0 AND nc IS NOT NULL AND nc > c), "
            "brk AS (SELECT doc_id, s, e, CASE WHEN s > "
            "lag(e) OVER (PARTITION BY doc_id ORDER BY s) "
            "THEN 1 ELSE 0 END AS b FROM seg), "
            "isl AS (SELECT doc_id, s, e, sum(b) OVER "
            "(PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING) "
            "AS i FROM brk) "
            "SELECT doc_id, min(s) AS span_start, max(e) AS span_end "
            "FROM isl GROUP BY doc_id, i"
        ),
        "exact_substr_strip": (
            # spans pipeline above, then per-doc segment rebuild: each
            # span appends the gap [prev_end, start) via lag(e) (default
            # 1), ordered string_agg joins the gaps, and the tail past
            # max(e) closes the doc. Docs with no spans pass through via
            # the LEFT JOIN + COALESCE.
            "WITH g AS (SELECT doc_id, "
            "unnest(range(1, length(text) - 40 + 2))::BIGINT AS pos, "
            "substr(text, unnest(range(1, length(text) - 40 + 2))::INT, 40) "
            "AS gram FROM documents WHERE length(text) >= 40), "
            "freq AS (SELECT gram FROM g GROUP BY gram "
            "HAVING count(*) >= 2), "
            "dup AS (SELECT g.doc_id, g.pos FROM g JOIN freq USING (gram)), "
            "brk AS (SELECT doc_id, pos, CASE WHEN pos > "
            "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 40 "
            "THEN 1 ELSE 0 END AS b FROM dup), "
            "isl AS (SELECT doc_id, pos, sum(b) OVER "
            "(PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) "
            "AS i FROM brk), "
            "spans AS (SELECT doc_id, min(pos) AS s, max(pos) + 40 AS e "
            "FROM isl GROUP BY doc_id, i), "
            "seg AS (SELECT doc_id, s, e, COALESCE(lag(e) OVER "
            "(PARTITION BY doc_id ORDER BY s), 1) AS ps FROM spans), "
            "rebuilt AS (SELECT d.doc_id, "
            "string_agg(substr(d.text, seg.ps::INT, (seg.s - seg.ps)::INT), "
            "'' ORDER BY seg.s) || substr(d.text, max(seg.e)::INT) "
            "AS text_clean FROM documents d JOIN seg USING (doc_id) "
            "GROUP BY d.doc_id, d.text) "
            "SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars, "
            "CAST(length(COALESCE(r.text_clean, d.text)) AS BIGINT) "
            "AS n_kept, COALESCE(r.text_clean, d.text) AS text_clean "
            "FROM documents d LEFT JOIN rebuilt r USING (doc_id)"
        ),
        "ngram_dup_coverage": (
            # positional (not distinct) 3-grams; dup = gram seen in >= 2
            # docs; dup_tokens = union of the duplicated grams' 3-token
            # spans (DISTINCT over pos+offset). DuckDB zips the two
            # unnests in lockstep, pairing each position with its gram.
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "g AS (SELECT doc_id, "
            "unnest(range(1, greatest(len(t) - 1, 1))) AS pos, "
            "unnest(list_transform(range(1, greatest(len(t) - 1, 1)), "
            "i -> array_to_string(t[i:i+2], ' '))) AS gram FROM toks), "
            "dfq AS (SELECT gram FROM (SELECT gram, "
            "count(DISTINCT doc_id) AS dfreq FROM g GROUP BY gram) "
            "WHERE dfreq >= 2), "
            "dup AS (SELECT g.doc_id, g.pos FROM g JOIN dfq USING (gram)), "
            "cov AS (SELECT DISTINCT doc_id, pos + o AS tok FROM dup "
            "CROSS JOIN (VALUES (0), (1), (2)) AS v(o)), "
            "ag AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1), "
            "ad AS (SELECT doc_id, count(*) AS dup_grams FROM dup GROUP BY 1), "
            "ac AS (SELECT doc_id, count(*) AS dup_tokens FROM cov GROUP BY 1) "
            "SELECT d.doc_id, "
            "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, "
            "COALESCE(n_grams, 0) AS n_grams, "
            "COALESCE(dup_grams, 0) AS dup_grams, "
            "COALESCE(dup_tokens, 0) AS dup_tokens, "
            "round(CASE WHEN COALESCE(n_grams, 0) > 0 THEN "
            "CAST(COALESCE(dup_grams, 0) AS DOUBLE) / n_grams "
            "ELSE 0.0 END, 6) AS dup_gram_frac, "
            "round(CASE WHEN len(string_split(d.text, ' ')) > 0 THEN "
            "CAST(COALESCE(dup_tokens, 0) AS DOUBLE) / "
            "len(string_split(d.text, ' ')) ELSE 0.0 END, 6) "
            "AS dup_token_frac "
            "FROM documents d LEFT JOIN ag USING (doc_id) "
            "LEFT JOIN ad USING (doc_id) LEFT JOIN ac USING (doc_id)"
        ),
        "dedup_strip_spans": (
            # same positional-gram pipeline as ngram_dup_coverage, then:
            # covered token positions -> anti-join against the per-token
            # rows -> ORDER BY-pos string_agg rebuild. COALESCEs cover the
            # all-covered doc (no kept rows) and the short doc (no grams).
            "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t "
            "FROM documents), "
            "g AS (SELECT doc_id, "
            "unnest(range(1, greatest(len(t) - 1, 1))) AS pos, "
            "unnest(list_transform(range(1, greatest(len(t) - 1, 1)), "
            "i -> array_to_string(t[i:i+2], ' '))) AS gram FROM toks), "
            "dfq AS (SELECT gram FROM (SELECT gram, "
            "count(DISTINCT doc_id) AS dfreq FROM g GROUP BY gram) "
            "WHERE dfreq >= 2), "
            "dup AS (SELECT g.doc_id, g.pos FROM g JOIN dfq USING (gram)), "
            "cov AS (SELECT DISTINCT doc_id, pos + o AS tok_pos FROM dup "
            "CROSS JOIN (VALUES (0), (1), (2)) AS v(o)), "
            "tok AS (SELECT doc_id, unnest(t) AS tok, "
            "unnest(range(1, len(t) + 1)) AS tok_pos FROM toks), "
            "kept AS (SELECT tk.doc_id, tk.tok, tk.tok_pos FROM tok tk "
            "LEFT JOIN cov c ON tk.doc_id = c.doc_id "
            "AND tk.tok_pos = c.tok_pos WHERE c.doc_id IS NULL), "
            "reb AS (SELECT doc_id, count(*) AS n_kept, "
            "string_agg(tok, ' ' ORDER BY tok_pos) AS text_clean "
            "FROM kept GROUP BY doc_id) "
            "SELECT d.doc_id, "
            "CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens, "
            "CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept, "
            "COALESCE(text_clean, '') AS text_clean "
            "FROM documents d LEFT JOIN reb USING (doc_id)"
        ),
        "jaccard_pairs": (
            f"WITH sh AS ({_SHINGLES_SQL}), "
            "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY 1), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(count(*) AS BIGINT) AS c FROM sh a "
            "JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, j AS jaccard FROM ("
            "SELECT doc_a, doc_b, round(CAST(c AS DOUBLE) / (sa.n + sb.n - c), 6) AS j "
            "FROM common JOIN sizes sa ON doc_a = sa.doc_id "
            "JOIN sizes sb ON doc_b = sb.doc_id) "
            f"WHERE j >= {JACCARD_T}"
        ),
        "simhash": _simhash_sql(),
        "dedup_clusters": (
            # WCC closure over the exact jaccard pair graph, min-member labels
            dedup_cluster_cte
            + " SELECT x AS doc_id, min(y) AS cluster, x = min(y) AS is_canonical "
            "FROM reach GROUP BY x"
        ),
        "ngram_containment": (
            f"WITH sh AS ({_SHINGLES_SQL}), "
            "sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n "
            "FROM sh GROUP BY 1), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(count(*) AS BIGINT) AS c FROM sh a "
            "JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
            "GROUP BY 1, 2) "
            "SELECT doc_a, doc_b, cm AS containment FROM ("
            "SELECT doc_a, doc_b, "
            "round(CAST(c AS DOUBLE) / least(sa.n, sb.n), 6) AS cm "
            "FROM common JOIN sizes sa ON doc_a = sa.doc_id "
            "JOIN sizes sb ON doc_b = sb.doc_id) WHERE cm >= 0.5"
        ),
        "bpe_merges": (
            "WITH words AS (SELECT w AS word, "
            "CAST(count(*) AS BIGINT) AS freq FROM ("
            "SELECT unnest(string_split(lower(text), ' ')) AS w "
            "FROM documents) WHERE w <> '' GROUP BY 1), "
            "pairs AS (SELECT substr(word, CAST(i AS INT), 2) AS pair, freq "
            "FROM words, unnest(range(1, len(word))) AS t(i) "
            "WHERE len(word) >= 2), "
            "counted AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n "
            "FROM pairs GROUP BY 1 HAVING sum(freq) >= 2), "
            "r AS (SELECT pair, substr(pair, 1, 1) AS left_c, "
            "substr(pair, 2, 1) AS right_c, n, "
            "CAST(row_number() OVER (ORDER BY n DESC, pair) AS BIGINT) "
            "AS rank FROM counted) "
            'SELECT pair, left_c AS "left", right_c AS "right", n, rank '
            "FROM r WHERE rank <= 100"
        ),
        "bpe_encode": (
            # greedy merge-order replay as a recursive CTE: one
            # sentinel-delimited replace per step, staying on a rank
            # until fixpoint (adjacent occurrences share their delimiter
            # space, so one non-overlapping pass misses every second one)
            "WITH RECURSIVE merges(rank, pat, rep) AS (VALUES "
            + ", ".join(
                f"({i + 1}, ' {l} {r} ', ' {l}{r} ')"
                for i, (l, r) in enumerate(_BPE_ENTRY_MERGES)
            )
            + "), "
            "wstream AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, "
            "unnest(ws) AS word FROM (SELECT doc_id, "
            "string_split(lower(text), ' ') AS ws FROM documents)), "
            "words AS (SELECT DISTINCT word FROM wstream WHERE word <> ''), "
            "steps(word, seq, r) AS ("
            "SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') "
            "|| ' ', 1 FROM words "
            "UNION "
            "SELECT s.word, "
            "CASE WHEN contains(s.seq, m.pat) "
            "THEN replace(s.seq, m.pat, m.rep) ELSE s.seq END, "
            "CASE WHEN contains(s.seq, m.pat) THEN s.r ELSE s.r + 1 END "
            "FROM steps s JOIN merges m ON m.rank = s.r), "
            "enc AS (SELECT word, string_split(trim(seq), ' ') AS syms "
            f"FROM steps WHERE r = {len(_BPE_ENTRY_MERGES) + 1}), "
            "stream AS (SELECT ws.doc_id, ws.wpos, "
            "generate_subscripts(e.syms, 1) AS spos, unnest(e.syms) AS token "
            "FROM wstream ws JOIN enc e ON ws.word = e.word), "
            "positioned AS (SELECT doc_id, CAST(row_number() OVER ("
            "PARTITION BY doc_id ORDER BY wpos, spos) - 1 AS BIGINT) AS pos, "
            "token FROM stream), "
            "vocab AS (SELECT token, CAST(row_number() OVER (ORDER BY token) "
            "AS BIGINT) AS token_id "
            "FROM (SELECT DISTINCT token FROM positioned)) "
            "SELECT p.doc_id, p.pos, p.token, v.token_id "
            "FROM positioned p JOIN vocab v USING (token)"
        ),
        "bpe_encode_fixed": (
            # frozen tokenizer: vocab = train slice's distinct chars ∪
            # fused merge symbols (sorted dense ids, 0 = unk); the batch
            # slice replays the same merges and LEFT-joins the vocab
            "WITH RECURSIVE merges(rank, pat, rep) AS (VALUES "
            + ", ".join(
                f"({i + 1}, ' {l} {r} ', ' {l}{r} ')"
                for i, (l, r) in enumerate(_BPE_ENTRY_MERGES)
            )
            + "), "
            "tchars AS (SELECT DISTINCT c AS token FROM ("
            "SELECT unnest(string_split(w, '')) AS c FROM ("
            "SELECT unnest(string_split(lower(text), ' ')) AS w "
            "FROM documents WHERE doc_id % 5 <> 0) WHERE w <> '') "
            "WHERE c <> ''), "
            "fused AS (SELECT * FROM (VALUES "
            + ", ".join(f"('{l}{r}')" for l, r in _BPE_ENTRY_MERGES)
            + ") AS f(token)), "
            "vocab AS (SELECT token, CAST(row_number() OVER "
            "(ORDER BY token) AS BIGINT) AS token_id FROM "
            "(SELECT token FROM tchars UNION SELECT token FROM fused)), "
            "wstream AS (SELECT doc_id, generate_subscripts(ws, 1) AS wpos, "
            "unnest(ws) AS word FROM (SELECT doc_id, "
            "string_split(lower(text), ' ') AS ws FROM documents "
            "WHERE doc_id % 5 = 0)), "
            "words AS (SELECT DISTINCT word FROM wstream WHERE word <> ''), "
            "steps(word, seq, r) AS ("
            "SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') "
            "|| ' ', 1 FROM words "
            "UNION "
            "SELECT s.word, "
            "CASE WHEN contains(s.seq, m.pat) "
            "THEN replace(s.seq, m.pat, m.rep) ELSE s.seq END, "
            "CASE WHEN contains(s.seq, m.pat) THEN s.r ELSE s.r + 1 END "
            "FROM steps s JOIN merges m ON m.rank = s.r), "
            "enc AS (SELECT word, string_split(trim(seq), ' ') AS syms "
            f"FROM steps WHERE r = {len(_BPE_ENTRY_MERGES) + 1}), "
            "stream AS (SELECT ws.doc_id, ws.wpos, "
            "generate_subscripts(e.syms, 1) AS spos, unnest(e.syms) AS token "
            "FROM wstream ws JOIN enc e ON ws.word = e.word), "
            "positioned AS (SELECT doc_id, CAST(row_number() OVER ("
            "PARTITION BY doc_id ORDER BY wpos, spos) - 1 AS BIGINT) AS pos, "
            "token FROM stream) "
            "SELECT p.doc_id, p.pos, p.token, "
            "CAST(COALESCE(v.token_id, 0) AS BIGINT) AS token_id "
            "FROM positioned p LEFT JOIN vocab v USING (token)"
        ),
        "dsir_weights": (
            # identical md5-hash60 buckets + integer micro-unit dot product
            "WITH toks AS (SELECT doc_id, source, "
            "list_filter(string_split(lower(text), ' '), t -> t <> '') AS ts "
            "FROM documents), "
            "grams AS ("
            "SELECT doc_id, source, unnest(ts) AS gram FROM toks "
            "UNION ALL "
            "SELECT doc_id, source, "
            "ts[CAST(i AS INT)] || ' ' || ts[CAST(i AS INT)+1] AS gram "
            "FROM toks, unnest(range(1, len(ts))) AS t(i) "
            "WHERE len(ts) >= 2), "
            "bkt AS (SELECT doc_id, source, "
            + _HASH60.format(x="gram")
            + " % 256 AS bucket FROM grams), "
            "tallies AS (SELECT bucket, "
            "sum(CASE WHEN source IN ('src13','src8') THEN 1 ELSE 0 END) "
            "AS cnt_t, count(*) AS cnt_r FROM bkt GROUP BY 1), "
            "tot AS (SELECT sum(cnt_t) AS tot_t, sum(cnt_r) AS tot_r "
            "FROM tallies), "
            "ratio AS (SELECT bucket, "
            "CAST(round((ln((cnt_t + 1.0) / (tot_t + 1.0*256)) - "
            "ln((cnt_r + 1.0) / (tot_r + 1.0*256))) * 1000000, 0) AS BIGINT) "
            "AS lr_u FROM tallies CROSS JOIN tot), "
            "pb AS (SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS cnt "
            "FROM bkt GROUP BY 1, 2) "
            "SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams, "
            "round(sum(cnt * lr_u) / 1e6, 6) AS logratio "
            "FROM pb JOIN ratio USING (bucket) GROUP BY 1"
        ),
        "token_pmi": (
            "WITH tok AS (SELECT DISTINCT doc_id, t AS token FROM ("
            "SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t "
            "FROM documents) WHERE t <> ''), "
            "d AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok "
            "GROUP BY 1 HAVING count(*) >= 5), "
            "tf AS (SELECT tok.doc_id, tok.token, d.n FROM tok "
            "JOIN d USING (token)), "
            "p AS (SELECT a.token AS token_a, b.token AS token_b, "
            "a.n AS n_a, b.n AS n_b, CAST(count(*) AS BIGINT) AS n_ab "
            "FROM tf a JOIN tf b ON a.doc_id = b.doc_id "
            "AND a.token < b.token GROUP BY 1, 2, 3, 4 "
            "HAVING count(*) >= 3), "
            "nn AS (SELECT count(*) AS N FROM documents), "
            "s AS (SELECT token_a, token_b, n_a, n_b, n_ab, "
            "round(ln(CAST(n_ab AS DOUBLE) * N / "
            "(CAST(n_a AS DOUBLE) * n_b)), 6) AS pmi "
            "FROM p CROSS JOIN nn), "
            "r AS (SELECT *, CAST(row_number() OVER ("
            "ORDER BY pmi DESC, token_a, token_b) AS BIGINT) AS rank FROM s) "
            "SELECT token_a, token_b, n_a, n_b, n_ab, pmi, rank "
            "FROM r WHERE rank <= 100"
        ),
        "dedup_keep_best": (
            # same closure, survivor = argmax quality (ties -> lowest id)
            dedup_cluster_cte
            + ", cl AS (SELECT x AS doc_id, min(y) AS cluster FROM reach GROUP BY x), "
            f"qs AS (SELECT doc_id, {quality} AS quality FROM documents), "
            "rk AS (SELECT cl.doc_id, cl.cluster, qs.quality, "
            "row_number() OVER (PARTITION BY cl.cluster "
            "ORDER BY qs.quality DESC, cl.doc_id) AS rn "
            "FROM cl JOIN qs USING (doc_id)), "
            "sv AS (SELECT cluster, doc_id AS survivor FROM rk WHERE rn = 1) "
            "SELECT rk.doc_id, rk.cluster, rk.quality, sv.survivor, "
            "rk.doc_id = sv.survivor AS keep FROM rk JOIN sv USING (cluster)"
        ),
        "decontaminate": (
            f"WITH sh AS MATERIALIZED ({_SHINGLES_SQL}), "
            "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0), "
            "tr AS (SELECT * FROM sh WHERE doc_id % 100 <> 0), "
            "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles "
            "FROM tr GROUP BY 1), "
            "hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_collisions "
            "FROM tr JOIN ev USING (shingle) GROUP BY 1) "
            "SELECT t.doc_id, t.n_shingles, "
            "COALESCE(h.n_collisions, 0) AS n_collisions, "
            "COALESCE(h.n_collisions, 0) > 0 AS contaminated "
            "FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"
        ),
        "decontaminate_semantic": (
            "WITH tr AS (SELECT vec_id, embedding::DOUBLE[] AS tv "
            "FROM embeddings WHERE vec_id % 50 <> 0), "
            "ev AS (SELECT embedding::DOUBLE[] AS nv FROM embeddings "
            "WHERE vec_id % 50 = 0), "
            "mx AS (SELECT vec_id, "
            f"round(max({_cosine_sql('tr.tv', 'ev.nv')}), 6) AS max_eval_cosine "
            "FROM tr CROSS JOIN ev GROUP BY vec_id) "
            "SELECT vec_id, max_eval_cosine, "
            "max_eval_cosine >= 0.8 AS contaminated FROM mx"
        ),
        "source_stats": (
            "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, "
            f"round(avg({quality}), 6) AS mean_quality, "
            "round((count(*) - count(DISTINCT md5(text))) "
            "/ CAST(count(*) AS DOUBLE), 6) AS exact_dup_rate, "
            "CAST(count(DISTINCT lang) AS BIGINT) AS n_langs "
            "FROM documents GROUP BY source"
        ),
        "curate_corpus": (
            # every stage recomputed from its proven oracle fragment, then
            # folded into the first-failing-reason CASE
            f"WITH t AS (SELECT doc_id, {toks_lower} AS toks FROM documents), "
            f"s AS (SELECT doc_id, {_lang_scores_sql()} FROM t), "
            "m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS mx FROM s), "
            "lang AS (SELECT doc_id, CASE WHEN mx > 0 THEN ("
            "CASE WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' "
            "WHEN s_es = mx THEN 'es' WHEN s_fr = mx THEN 'fr' END) "
            "ELSE 'und' END AS lang_pred FROM m), "
            f"q AS (SELECT doc_id, {quality} AS quality FROM documents), "
            "tk AS (SELECT doc_id, string_split(text, ' ') AS tkt FROM documents), "
            "bgbase AS (SELECT doc_id, list_transform(range(1, len(tkt)), "
            "i -> tkt[i] || ' ' || tkt[i+1]) AS bg FROM tk), "
            "bgx AS (SELECT doc_id, unnest(bg) AS b FROM bgbase), "
            "bcnt AS (SELECT doc_id, b, count(*) AS c FROM bgx GROUP BY 1, 2), "
            "rep AS (SELECT doc_id, round(CAST(max(c) AS DOUBLE) / sum(c), 6) "
            "AS top_bigram_frac FROM bcnt GROUP BY 1), "
            f"sh AS MATERIALIZED ({_SHINGLES_SQL}), "
            "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0), "
            "hits AS (SELECT s2.doc_id, count(*) AS c FROM sh s2 "
            "JOIN ev USING (shingle) WHERE s2.doc_id % 100 <> 0 GROUP BY 1), "
            "dup AS (SELECT doc_id, doc_id <> min(doc_id) OVER "
            "(PARTITION BY md5(text)) AS is_dup FROM documents), "
            "verdict AS (SELECT d.doc_id, l.lang_pred, q.quality, "
            "COALESCE(r.top_bigram_frac, 0.0) AS top_bigram_frac, "
            "CASE WHEN d.doc_id % 100 = 0 THEN 'eval_holdout' "
            "WHEN dup.is_dup THEN 'exact_dup' "
            "WHEN q.quality < 0.82 THEN 'low_quality' "
            "WHEN COALESCE(r.top_bigram_frac, 0.0) > 0.06 THEN 'repetitive' "
            "WHEN COALESCE(h.c, 0) > 0 THEN 'contaminated' "
            "WHEN NOT ("
            + _HASH60.format(x="'42:' || l.lang_pred || ':' || d.doc_id")
            + " % 1000000 < (CASE l.lang_pred WHEN 'en' THEN 0.5 "
            "WHEN 'und' THEN 0.1 ELSE 0.25 END) * 1000000.0) THEN 'sampled_out' "
            "ELSE 'kept' END AS reason "
            "FROM documents d JOIN lang l ON d.doc_id = l.doc_id "
            "JOIN q ON d.doc_id = q.doc_id "
            "LEFT JOIN rep r ON d.doc_id = r.doc_id "
            "JOIN dup ON d.doc_id = dup.doc_id "
            "LEFT JOIN hits h ON d.doc_id = h.doc_id) "
            "SELECT doc_id, lang_pred, quality, top_bigram_frac, reason, "
            "reason = 'kept' AS keep FROM verdict"
        ),
        "semantic_dedup": (
            # WCC closure over the exact cosine pair graph, min-member labels
            "WITH RECURSIVE "
            "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"s AS (SELECT a.id AS id_a, b.id AS id_b, round({cos_ab}, 6) AS cosine "
            "FROM e a JOIN e b ON a.id < b.id), "
            f"pairs AS MATERIALIZED (SELECT id_a, id_b FROM s WHERE cosine >= {NEARDUP_COS_T}), "
            "ue AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM pairs "
            "UNION ALL SELECT id_b, id_a FROM pairs), "
            "reach AS (SELECT vec_id AS x, vec_id AS y FROM embeddings "
            "UNION SELECT r.x, ed.v FROM reach r JOIN ue ed ON r.y = ed.u) "
            "SELECT x AS vec_id, min(y) AS cluster, x = min(y) AS is_canonical "
            "FROM reach GROUP BY x"
        ),
        "decontaminate_eval": (
            f"WITH sh AS MATERIALIZED ({_SHINGLES_SQL}), "
            "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 1), "
            "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles "
            "FROM sh GROUP BY 1), "
            "hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_collisions "
            "FROM sh JOIN ev USING (shingle) GROUP BY 1) "
            "SELECT t.doc_id, t.n_shingles, "
            "COALESCE(h.n_collisions, 0) AS n_collisions, "
            "COALESCE(h.n_collisions, 0) > 0 AS contaminated "
            "FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"
        ),
        "decontaminate_prod": (
            f"WITH sh AS MATERIALIZED ({_shingles_sql(9)}), "
            "ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 100 = 0), "
            "tr AS (SELECT * FROM sh WHERE doc_id % 100 <> 0), "
            "tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles "
            "FROM tr GROUP BY 1), "
            "hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_collisions "
            "FROM tr JOIN ev USING (shingle) GROUP BY 1) "
            "SELECT t.doc_id, t.n_shingles, "
            "COALESCE(h.n_collisions, 0) AS n_collisions, "
            "COALESCE(h.n_collisions, 0) > 0 AS contaminated "
            "FROM tot t LEFT JOIN hits h ON t.doc_id = h.doc_id"
        ),
        "stratified_sample": (
            # same lang CTE as doc_lang, then the deterministic md5 keep rule
            f"WITH t AS (SELECT doc_id, {toks_lower} AS toks FROM documents), "
            f"s AS (SELECT doc_id, {_lang_scores_sql()} FROM t), "
            "m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS mx FROM s), "
            "lang AS (SELECT doc_id, CASE WHEN mx > 0 THEN ("
            "CASE WHEN s_de = mx THEN 'de' WHEN s_en = mx THEN 'en' "
            "WHEN s_es = mx THEN 'es' WHEN s_fr = mx THEN 'fr' END) "
            "ELSE 'und' END AS lang_pred FROM m) "
            "SELECT doc_id, lang_pred FROM lang WHERE "
            + _HASH60.format(x="'42:' || lang_pred || ':' || doc_id")
            + " % 1000000 < (CASE lang_pred WHEN 'en' THEN 0.5 "
            "WHEN 'und' THEN 0.1 ELSE 0.25 END) * 1000000.0"
        ),
        "simhash_neardups": (
            # brute-force popcount over all pairs — the banded join must
            # produce the identical set (pigeonhole guarantees no misses)
            f"WITH s AS MATERIALIZED ({_simhash_sql()}) "
            "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
            "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming "
            "FROM s a JOIN s b ON a.doc_id < b.doc_id "
            "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
        ),
        "simhash_incr": (
            # brute-force cross-side popcount (batch x index only) — the
            # banded incremental join with the cap off must equal it
            f"WITH s AS MATERIALIZED ({_simhash_sql()}) "
            "SELECT n.doc_id AS new_id, i.doc_id AS index_id, "
            "CAST(bit_count(xor(n.simhash, i.simhash)) AS BIGINT) AS hamming "
            "FROM s n JOIN s i ON n.doc_id >= 400 AND i.doc_id < 400 "
            "WHERE bit_count(xor(n.simhash, i.simhash)) <= 3"
        ),
        "embedding_neardup": (
            "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"s AS (SELECT a.id AS id_a, b.id AS id_b, round({cos_ab}, 6) AS cosine "
            "FROM e a JOIN e b ON a.id < b.id) "
            f"SELECT * FROM s WHERE cosine >= {NEARDUP_COS_T}"
        ),
        "simhash_first_arrival": _simhash_first_arrival_sql(),
        "embedding_first_arrival": (
            # first-arrival: drop the larger id of every qualifying pair
            # (order_col=None => id arbitration); NULL vectors pass
            "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v "
            "FROM embeddings WHERE embedding IS NOT NULL), "
            f"p AS (SELECT b.id AS idb FROM e a JOIN e b ON a.id < b.id "
            f"AND round({cos_ab}, 6) >= {NEARDUP_COS_T}) "
            "SELECT id AS vec_id FROM e "
            "WHERE id NOT IN (SELECT idb FROM p) "
            "UNION ALL SELECT vec_id FROM embeddings WHERE embedding IS NULL"
        ),
        "embedding_dedup_incr": (
            # exact closed form of the full-probe incremental path: every
            # (batch, index) cross pair over the vec_id % 5 split, fold
            # cosine, threshold — no candidate pruning to mirror because
            # nprobe = nlist makes the Spark side exhaustive
            "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v "
            "FROM embeddings), "
            "a AS (SELECT id, v FROM e WHERE id % 5 = 0), "
            "b AS (SELECT id, v FROM e WHERE id % 5 <> 0), "
            f"s AS (SELECT a.id AS new_id, b.id AS index_id, "
            f"round({cos_ab}, 6) AS cosine FROM a JOIN b ON true) "
            f"SELECT * FROM s WHERE cosine >= {NEARDUP_COS_T}"
        ),
        "embedding_neardup_ivf": (
            # exact pair set + the recall gate pinned true: the Spark side
            # flips recall_ok to false if the IVF candidate path drops
            # below 0.8 recall of these exact pairs
            "WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings), "
            f"s AS (SELECT a.id AS id_a, b.id AS id_b, round({cos_ab}, 6) AS cosine "
            "FROM e a JOIN e b ON a.id < b.id) "
            "SELECT id_a, id_b, true AS recall_ok FROM s "
            f"WHERE cosine >= {NEARDUP_COS_T}"
        ),
        "ann_topk": ann_topk_sql,
        "hard_negatives": (
            "WITH q AS (SELECT vec_id AS query_id, label AS query_label, "
            "embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10), "
            "b AS (SELECT vec_id AS neighbor_id, label AS neighbor_label, "
            "embedding::DOUBLE[] AS nv FROM embeddings), "
            f"s AS (SELECT query_id, neighbor_id, "
            "CAST(query_label AS BIGINT) AS query_label, "
            "CAST(neighbor_label AS BIGINT) AS neighbor_label, "
            f"round({cos_qn}, 6) AS cosine "
            "FROM b CROSS JOIN q WHERE query_label <> neighbor_label), "
            "r AS (SELECT *, CAST(row_number() OVER ("
            "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) "
            "AS BIGINT) AS rank FROM s) "
            "SELECT query_id, neighbor_id, query_label, neighbor_label, "
            f"cosine, rank FROM r WHERE rank <= {ANN_K}"
        ),
        # bit-identical semantics by construction (exact-fold rescore of
        # the BLAS-scanned candidates) -> the same oracle
        "ann_topk_scan": ann_topk_sql,
        "image_features": (
            # analytic integration of the synthetic pixel formula: channel c
            # of image m averages (m*31 + (3i+c)*7) % 256 over i in [0, 48)
            "WITH px AS (SELECT doc_id, unnest(range(0, 48)) AS i FROM documents) "
            "SELECT doc_id AS media_id, CAST(8 AS BIGINT) AS width, "
            "CAST(6 AS BIGINT) AS height, "
            "round(avg(CAST((doc_id * 31 + (3 * i + 0) * 7) % 256 AS DOUBLE)), 6) AS mean_r, "
            "round(avg(CAST((doc_id * 31 + (3 * i + 1) * 7) % 256 AS DOUBLE)), 6) AS mean_g, "
            "round(avg(CAST((doc_id * 31 + (3 * i + 2) * 7) % 256 AS DOUBLE)), 6) AS mean_b "
            "FROM px GROUP BY doc_id"
        ),
        "image_dims": (
            "SELECT doc_id AS media_id, 'jpeg' AS format, "
            "CAST(16 + doc_id % 97 AS BIGINT) AS width, "
            "CAST(9 + doc_id % 53 AS BIGINT) AS height FROM documents"
        ),
        "image_dims_png": (
            "SELECT doc_id AS media_id, 'png' AS format, "
            "CAST(32 + doc_id % 89 AS BIGINT) AS width, "
            "CAST(11 + doc_id % 41 AS BIGINT) AS height FROM documents"
        ),
        "video_duration": (
            "SELECT doc_id AS media_id, 'mp4' AS format, "
            "CAST(500 + (doc_id % 997) * 10 AS BIGINT) AS duration_ms, "
            "CAST(1000 AS BIGINT) AS timescale FROM documents"
        ),
        "audio_features": (
            # analytic loudness of the synthetic PCM formula: sample i of
            # clip m is ((m*31 + i*7) % 256 - 128)*256 int16 -> /32768
            "WITH sm AS (SELECT doc_id, unnest(range(0, 256)) AS i FROM documents) "
            "SELECT doc_id AS media_id, CAST(8000 AS BIGINT) AS sample_rate, "
            "CAST(256 AS BIGINT) AS n_frames, "
            "round(sqrt(avg(pow(CAST(((doc_id * 31 + i * 7) % 256 - 128) AS DOUBLE)"
            " / 128.0, 2))), 6) AS rms "
            "FROM sm GROUP BY doc_id"
        ),
        "event_transitions": (
            "WITH p AS (SELECT event_type AS from_type, "
            "lead(event_type) OVER (PARTITION BY user_id "
            "ORDER BY ts, event_id) AS to_type FROM events), "
            "c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n "
            "FROM p WHERE to_type IS NOT NULL GROUP BY 1, 2), "
            "t AS (SELECT from_type, sum(n) AS tt FROM c GROUP BY 1) "
            "SELECT c.from_type, c.to_type, n, "
            "round(CAST(n AS DOUBLE) / tt, 6) AS prob "
            "FROM c JOIN t USING (from_type)"
        ),
        "attribution": _ATTRIBUTION_SQL,
        "events_sliding": _SLIDING_SQL,
        "asof_join": _ASOF_SQL,
        "hypertable_rollup": _ROLLUP_SQL,
        "mixture_sample": _MIXTURE_SQL,
        "mixture_weights": (
            # pow/normalize on the |sources|-row aggregate; epochs uses the
            # UNROUNDED target share, mirroring the Spark expression order
            "WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
            "CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens "
            "FROM documents GROUP BY source) "
            "SELECT source, n_docs, n_tokens, "
            "round(CAST(n_tokens AS DOUBLE) / sum(n_tokens) OVER (), 6) "
            "AS p_raw, "
            "round(pow(CAST(n_tokens AS DOUBLE), 0.5) / "
            "sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER (), 6) AS p_target, "
            "round(100000.0 * (pow(CAST(n_tokens AS DOUBLE), 0.5) / "
            "sum(pow(CAST(n_tokens AS DOUBLE), 0.5)) OVER ()) / n_tokens, 6) "
            "AS epochs FROM per"
        ),
        "corpus_shuffle": _SHUFFLE_SQL,
        "sample_neighbors": _SAMPLE_NBRS_SQL,
        "events_hourly": (
            # epoch_ms // 1000 floors like Spark's timestamp->long cast
            # (DuckDB CAST(double AS BIGINT) would round instead)
            "SELECT (epoch_ms(date_trunc('hour', ts)) // 1000) AS window_start_epoch, "
            "event_type, CAST(count(*) AS BIGINT) AS n_events, "
            "round(sum(value), 6) AS total_value FROM events GROUP BY 1, 2"
        ),
        "sessions": (
            "WITH flagged AS (SELECT user_id, ts, CASE WHEN "
            "(epoch_ms(ts) // 1000) - (epoch_ms(lag(ts) OVER "
            "(PARTITION BY user_id ORDER BY ts)) // 1000) > 1800 "
            "THEN 1 ELSE 0 END AS new_session FROM events), "
            "sid AS (SELECT user_id, ts, CAST(sum(new_session) OVER ("
            "PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) + 1 AS BIGINT) "
            "AS session_id FROM flagged) "
            "SELECT user_id, session_id, "
            "(epoch_ms(min(ts)) // 1000) AS session_start_epoch, "
            "(epoch_ms(max(ts)) // 1000) AS session_end_epoch, "
            "CAST(count(*) AS BIGINT) AS n_events "
            "FROM sid GROUP BY user_id, session_id"
        ),
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, "
            "round(sum(l_extendedprice), 4) AS sum_price, "
            "round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price, "
            "CAST(count(*) AS BIGINT) AS n_rows FROM lineitem "
            "WHERE l_quantity < 45 GROUP BY l_returnflag, l_linestatus"
        ),
        "top_customers": (
            "WITH rev AS (SELECT c_custkey, c_name, round(sum(o_totalprice), 4) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2), "
            "r AS (SELECT *, CAST(row_number() OVER ("
            "ORDER BY revenue DESC, c_custkey) AS BIGINT) AS rank FROM rev) "
            "SELECT c_custkey, c_name, revenue, rank FROM r WHERE rank <= 10"
        ),
    }
