"""Batch CLI runner.

Mirrors the reference's CLI entry point (reference: src/main.rs:38-127):

    python -m graphframes_rs_spark VERTICES_PARQUET EDGES_PARQUET \
        ALGORITHM PARAM OUT_DIR [--partitions N] [--checkpoint-dir D] \
        [--cpus N] [--memory M]

* ``ALGORITHM``: ``pagerank`` (PARAM = tolerance, reference main.rs:85-105)
  or ``wcc`` (PARAM = random seed, main.rs:107-124); plus the natural
  extensions ``bfs`` (PARAM = comma-separated landmarks), ``kcore``
  (PARAM ignored), ``mis``/``coloring`` (PARAM = seed), ``hits``
  (PARAM = iterations), ``ktruss`` (PARAM = k), ``betweenness``
  (PARAM = comma-separated source ids) and ``walks`` (PARAM = walk
  length).
* Edge files with ``source``/``target`` columns are renamed to
  ``src``/``dst`` on load, like the reference (main.rs:75-81).
* ``--memory`` maps the reference's spill-pool byte cap onto
  ``spark.driver.memory``; ``--partitions`` onto
  ``spark.sql.shuffle.partitions`` (↔ ``target_partitions``).

The result is written as a parquet directory at OUT_DIR.
"""

from __future__ import annotations

import argparse
import sys
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from graphframes_rs_spark import config as gf_config
from graphframes_rs_spark.graphframe import DST, GraphFrame, ID, SRC


def _build_session(args: argparse.Namespace) -> SparkSession:
    b = (
        SparkSession.builder.master(f"local[{args.cpus}]")
        .appName("graphframes-rs-spark-cli")
        .config("spark.sql.shuffle.partitions", str(args.partitions))
        .config("spark.default.parallelism", str(args.partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="gf_wh_"))
    )
    if args.memory:
        b = b.config("spark.driver.memory", args.memory)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _load_graph(spark: SparkSession, vertices_path: str, edges_path: str) -> GraphFrame:
    vertices = spark.read.parquet(vertices_path)
    edges = spark.read.parquet(edges_path)
    # accept source/target column names, as the reference does (main.rs:75-81)
    if "source" in edges.columns and SRC not in edges.columns:
        edges = edges.withColumnRenamed("source", SRC)
    if "target" in edges.columns and DST not in edges.columns:
        edges = edges.withColumnRenamed("target", DST)
    for frame, col in ((vertices, ID),):
        if col not in frame.columns:
            raise SystemExit(f"vertices parquet must have an '{ID}' column")
    vertices = vertices.withColumn(ID, F.col(ID).cast("long"))
    edges = edges.withColumn(SRC, F.col(SRC).cast("long")).withColumn(
        DST, F.col(DST).cast("long")
    )
    return GraphFrame(vertices, edges)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="graphframes_rs_spark")
    p.add_argument("vertices", help="vertices parquet path (id column)")
    p.add_argument("edges", help="edges parquet path (src/dst or source/target)")
    p.add_argument(
        "algorithm",
        choices=[
            "pagerank", "wcc", "bfs", "kcore", "mis",
            "hits", "coloring", "ktruss", "betweenness", "walks",
            "node2vec", "anf", "fanout", "mst", "closeness", "eigenvector",
            "temporal", "katz", "densest", "matching",
        ],
    )
    p.add_argument(
        "param",
        help=(
            "pagerank: tolerance; wcc/mis/coloring: seed; bfs: "
            "comma-separated landmarks; kcore: ignored; hits: iterations; "
            "ktruss: k; betweenness: comma-separated source ids; "
            "walks: walk length; node2vec: length,p,q; anf: radius; "
            "fanout: k; mst: weight column name; closeness: comma-separated "
            "landmarks; eigenvector: iterations; temporal: "
            "source,ts_column; katz: alpha; densest: epsilon; matching: seed"
        ),
    )
    p.add_argument("out", help="output parquet directory")
    p.add_argument("--partitions", type=int, default=32)
    p.add_argument("--cpus", default="*")
    p.add_argument("--memory", default=None, help="driver memory, e.g. 8g")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--max-iterations", type=int, default=None)
    args = p.parse_args(argv)

    spark = _build_session(args)
    ckpt = args.checkpoint_dir or gf_config.default_checkpoint_dir(spark) or tempfile.mkdtemp(prefix="gf_cli_ckpt_")
    g = _load_graph(spark, args.vertices, args.edges)

    if args.algorithm == "pagerank":
        builder = g.page_rank().with_tol(float(args.param)).set_checkpoint_dir(ckpt)
    elif args.algorithm == "wcc":
        # the WCC contraction always runs to completion (it has no
        # iteration cap) — reject the flag instead of silently ignoring it
        if args.max_iterations is not None:
            raise SystemExit("--max-iterations is not supported for wcc")
        builder = (
            g.connected_components()
            .with_random_seed(int(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "bfs":
        landmarks = [int(x) for x in args.param.split(",") if x]
        builder = g.shortest_paths(landmarks).set_checkpoint_dir(ckpt)
    elif args.algorithm == "kcore":
        builder = g.k_core().set_checkpoint_dir(ckpt)
    elif args.algorithm == "mis":
        builder = (
            g.maximal_independent_set()
            .with_random_seed(int(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "hits":
        builder = g.hits().max_iterations(int(args.param)).set_checkpoint_dir(ckpt)
    elif args.algorithm == "coloring":
        builder = (
            g.greedy_coloring()
            .with_seed(int(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "ktruss":
        builder = g.k_truss(int(args.param)).set_checkpoint_dir(ckpt)
    elif args.algorithm == "betweenness":
        sources = [int(x) for x in args.param.split(",") if x]
        builder = g.betweenness(sources).set_checkpoint_dir(ckpt)
    elif args.algorithm == "mst":
        builder = g.minimum_spanning_forest(args.param or "weight").set_checkpoint_dir(ckpt)
    elif args.algorithm == "closeness":
        landmarks = [int(x) for x in args.param.split(",") if x]
        builder = g.closeness_centrality(landmarks).set_checkpoint_dir(ckpt)
    elif args.algorithm == "eigenvector":
        builder = (
            g.eigenvector_centrality()
            .max_iterations(int(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "matching":
        builder = (
            g.maximal_matching()
            .with_random_seed(int(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "katz":
        builder = (
            g.katz_centrality()
            .alpha(float(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "densest":
        if args.max_iterations is not None:
            builder = (
                g.densest_subgraph()
                .epsilon(float(args.param))
                .max_rounds(args.max_iterations)
                .set_checkpoint_dir(ckpt)
            )
        else:
            builder = (
                g.densest_subgraph()
                .epsilon(float(args.param))
                .set_checkpoint_dir(ckpt)
            )
    elif args.algorithm == "temporal":
        parts = args.param.split(",")
        builder = g.temporal_reachability(
            [int(parts[0])], ts_col=parts[1] if len(parts) > 1 else "ts"
        ).set_checkpoint_dir(ckpt)
    elif args.algorithm == "anf":
        builder = (
            g.neighborhood_function()
            .max_radius(int(args.param))
            .set_checkpoint_dir(ckpt)
        )
    elif args.algorithm == "node2vec":
        parts = args.param.split(",")
        length, pp, qq = int(parts[0]), float(parts[1]), float(parts[2])

        class _N2VRunner:
            def run(self):
                return g.node2vec_walks(walk_length=length, p=pp, q=qq)

        builder = _N2VRunner()
    elif args.algorithm == "fanout":
        from graphframes_rs_spark.operators.random_walks import sample_neighbors

        class _FanoutRunner:
            def run(self):
                return sample_neighbors(g, k=int(args.param))

        builder = _FanoutRunner()
    else:  # walks
        class _WalksRunner:
            def run(self):
                return g.random_walks(walk_length=int(args.param))

        builder = _WalksRunner()
    if args.max_iterations is not None and args.algorithm not in (
        "wcc", "walks", "hits", "node2vec", "fanout", "anf", "densest"
    ):
        builder = builder.max_iterations(args.max_iterations)
    result = builder.run()

    result.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(f"{args.algorithm}: wrote {n} rows to {args.out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
