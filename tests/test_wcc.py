"""Connected-components unit fixtures (reference connected_components.rs)."""

from graphframes_rs_spark import GraphFrame


def _wcc(spark, ckpt_dir, vertices, edges, **kw):
    v = spark.createDataFrame([(i,) for i in vertices], "id long")
    e = spark.createDataFrame(edges, "src long, dst long") if edges else (
        spark.createDataFrame([], "src long, dst long")
    )
    b = GraphFrame(v, e).connected_components().set_checkpoint_dir(ckpt_dir)
    for k, val in kw.items():
        getattr(b, f"with_{k}")(val)
    return {r["id"]: r["component"] for r in b.run().collect()}


def test_two_components(spark, ckpt_dir):
    """{1,2,3} ∪ {10,11} (connected_components.rs:601-647)."""
    out = _wcc(spark, ckpt_dir, [1, 2, 3, 10, 11], [(1, 2), (2, 3), (10, 11)])
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_direction_ignored(spark, ckpt_dir):
    out = _wcc(spark, ckpt_dir, [1, 2, 3], [(3, 1), (2, 3)])
    assert out == {1: 1, 2: 1, 3: 1}


def test_isolated_vertices_own_component(spark, ckpt_dir):
    out = _wcc(spark, ckpt_dir, [1, 2, 5, 7], [(1, 2)])
    assert out == {1: 1, 2: 1, 5: 5, 7: 7}


def test_empty_graph(spark, ckpt_dir):
    assert _wcc(spark, ckpt_dir, [], []) == {}


def test_self_loop(spark, ckpt_dir):
    out = _wcc(spark, ckpt_dir, [1, 2], [(1, 1), (1, 2)])
    assert out == {1: 1, 2: 1}


def test_seed_independence_of_labels(spark, ckpt_dir):
    """Min-label output must not depend on the hash seed."""
    edges = [(1, 2), (2, 3), (4, 5), (6, 7), (7, 8), (8, 9)]
    vertices = list(range(1, 10))
    a = _wcc(spark, ckpt_dir + "a", vertices, edges, random_seed=1)
    b = _wcc(spark, ckpt_dir + "b", vertices, edges, random_seed=999)
    assert a == b == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6, 7: 6, 8: 6, 9: 6}


def test_distributed_contraction_path(spark, ckpt_dir):
    """Force the distributed contraction rounds (local finisher disabled by
    a zero threshold) and check they produce the same components as the
    default local-finish path — a long chain needs several rounds. A
    negative or non-integer key raises ValueError naming the key before the
    prep checkpoint is written, so nothing is left behind."""
    import os

    import pytest

    from graphframes_rs_spark.operators.connected_components import (
        LOCAL_FINISH_EDGES,
        REP_DOUBLING,
    )

    vertices = list(range(0, 40))
    edges = [(i, i + 1) for i in range(0, 19)] + [(i, i + 1) for i in range(20, 39)]
    expected = {i: (0 if i < 20 else 20) for i in vertices}
    spark.conf.set(LOCAL_FINISH_EDGES, "0")
    try:
        out = _wcc(spark, ckpt_dir, vertices, edges)
    finally:
        spark.conf.unset(LOCAL_FINISH_EDGES)
    assert out == expected
    assert _wcc(spark, ckpt_dir + "l", vertices, edges) == expected
    for key, bad in ((LOCAL_FINISH_EDGES, "-1"), (REP_DOUBLING, "two")):
        spark.conf.set(key, bad)
        try:
            with pytest.raises(ValueError, match=key):
                _wcc(spark, ckpt_dir + "bad", vertices, edges)
        finally:
            spark.conf.unset(key)
        assert not os.path.exists(ckpt_dir + "bad")


def test_update_components_merges_and_singletons(spark, ckpt_dir):
    from graphframes_rs_spark.operators.connected_components import (
        update_components,
    )

    # existing: {1,2} labeled 1, {3} labeled 3
    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 3)], "id long, component long"
    )
    # batch: 2-3 merges the two; 7-8 is entirely new
    batch = spark.createDataFrame([(2, 3), (7, 8)], "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in update_components(labels, batch, checkpoint_dir=ckpt_dir).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_update_components_noop_batch_keeps_labels(spark, ckpt_dir):
    from graphframes_rs_spark.operators.connected_components import (
        update_components,
    )

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], "id long, component long"
    )
    # both endpoints already share a component -> no contracted edges
    batch = spark.createDataFrame([(1, 2)], "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in update_components(labels, batch, checkpoint_dir=ckpt_dir).collect()
    }
    assert got == {1: 1, 2: 1, 5: 5}


def test_update_components_equals_full_recompute(spark, ckpt_dir, tmp_path):
    from graphframes_rs_spark.graphframe import GraphFrame
    from graphframes_rs_spark.operators.connected_components import (
        ConnectedComponentsBuilder,
        update_components,
    )

    # random-ish deterministic graph split into two edge batches
    edges = [(i, (i * 7 + 3) % 40) for i in range(40) if i != (i * 7 + 3) % 40]
    first, second = edges[:25], edges[25:]
    v = spark.createDataFrame([(i,) for i in range(40)], "id long")

    base = (
        ConnectedComponentsBuilder(
            GraphFrame(v, spark.createDataFrame(first, "src long, dst long"))
        )
        .set_checkpoint_dir(str(tmp_path / "a"))
        .run()
    )
    inc = update_components(
        base,
        spark.createDataFrame(second, "src long, dst long"),
        checkpoint_dir=str(tmp_path / "b"),
    )
    full = (
        ConnectedComponentsBuilder(
            GraphFrame(v, spark.createDataFrame(edges, "src long, dst long"))
        )
        .set_checkpoint_dir(str(tmp_path / "c"))
        .run()
    )
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, full.collect()))


def test_rep_doubling_equivalence_and_round_reduction(spark, ckpt_dir):
    """Pointer-doubled rounds produce identical labels to the one-hop
    reference form (doubling=0) on a multi-round graph, and never MORE
    distributed rounds. Long chains are the doubling-sensitive shape:
    rep forests there are chains, where one-hop relabels waste the
    round's contraction depth."""
    import random

    from graphframes_rs_spark.operators.connected_components import (
        LOCAL_FINISH_EDGES,
        REP_DOUBLING,
    )

    rng = random.Random(5)
    edges = [(i, i + 1) for i in range(0, 60)]  # one long chain
    edges += [(100 + rng.randrange(30), 100 + rng.randrange(30)) for _ in range(40)]
    vertices = sorted({u for e in edges for u in e})

    def run(doubling, tag):
        from graphframes_rs_spark import GraphFrame

        v = spark.createDataFrame([(i,) for i in vertices], "id long")
        e = spark.createDataFrame(edges, "src long, dst long")
        spark.conf.set(LOCAL_FINISH_EDGES, "0")
        spark.conf.set(REP_DOUBLING, str(doubling))
        try:
            b = (
                GraphFrame(v, e)
                .connected_components()
                .set_checkpoint_dir(ckpt_dir + tag)
            )
            out = {r["id"]: r["component"] for r in b.run().collect()}
            return out, b.iterations_
        finally:
            spark.conf.unset(LOCAL_FINISH_EDGES)
            spark.conf.unset(REP_DOUBLING)

    base, base_rounds = run(0, "base")
    doubled, doubled_rounds = run(2, "dbl")
    assert base == doubled
    assert doubled_rounds <= base_rounds
    # chain labels are the min member
    assert all(doubled[i] == 0 for i in range(0, 61))


def test_update_components_equals_full_under_rep_doubling(spark, ckpt_dir, tmp_path):
    """Incremental maintenance must compose through the doubled rep maps
    exactly as through one-hop maps: incremental == full recompute with
    repDoubling 0 AND 2 (VERDICT r8 item 7 — update_components only sees
    the doubling via the full builder it invokes on the contracted graph)."""
    from graphframes_rs_spark.graphframe import GraphFrame
    from graphframes_rs_spark.operators.connected_components import (
        LOCAL_FINISH_EDGES,
        REP_DOUBLING,
        ConnectedComponentsBuilder,
        update_components,
    )

    edges = [(i, (i * 11 + 5) % 50) for i in range(50) if i != (i * 11 + 5) % 50]
    edges += [(i, i + 1) for i in range(60, 90)]  # a chain: doubling-sensitive
    first, second = edges[::2], edges[1::2]
    vertices = sorted({u for e in edges for u in e})
    v = spark.createDataFrame([(i,) for i in vertices], "id long")

    for doubling in (0, 2):
        spark.conf.set(LOCAL_FINISH_EDGES, "0")  # force distributed rounds
        spark.conf.set(REP_DOUBLING, str(doubling))
        try:
            base = (
                ConnectedComponentsBuilder(
                    GraphFrame(v, spark.createDataFrame(first, "src long, dst long"))
                )
                .set_checkpoint_dir(str(tmp_path / f"a{doubling}"))
                .run()
            )
            inc = update_components(
                base,
                spark.createDataFrame(second, "src long, dst long"),
                checkpoint_dir=str(tmp_path / f"b{doubling}"),
            )
            full = (
                ConnectedComponentsBuilder(
                    GraphFrame(v, spark.createDataFrame(edges, "src long, dst long"))
                )
                .set_checkpoint_dir(str(tmp_path / f"c{doubling}"))
                .run()
            )
            assert sorted(map(tuple, inc.collect())) == sorted(
                map(tuple, full.collect())
            ), f"repDoubling={doubling}"
        finally:
            spark.conf.unset(LOCAL_FINISH_EDGES)
            spark.conf.unset(REP_DOUBLING)
