"""connected_components: correctness vs a Python union-find on both of its
paths — the driver-local finish (edge lists up to CC_LOCAL_MAX_EDGES) and
the large-star/small-star contraction past it — plus the round-complexity
claim: a 64-node CHAIN must converge under a 12-round budget, where plain
min-label propagation needs ~diameter (64) rounds."""

from __future__ import annotations

import pytest

from thesis_iceberg_spark.queries import dedup
from thesis_iceberg_spark.queries.dedup import connected_components


@pytest.fixture(params=["local", "star"])
def cc_path(request, monkeypatch):
    """Run the test once per CC path.  A bound of -1 sends every edge
    list, even an empty one, through the star contraction."""
    if request.param == "star":
        monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", -1)
    return request.param


def _union_find(edges):
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", range(5))
def test_min_labels_matches_union_find_on_random_graphs(seed):
    # sparse random graphs over large, shuffled ids: many components,
    # long chains, and hooks in every id order
    import numpy as np

    rng = np.random.default_rng(seed)
    n = 2000
    ids = rng.permutation(n).astype(np.int64) * 1_000_003
    a = ids[rng.integers(0, n, 1500)]
    b = ids[rng.integers(0, n, 1500)]
    keep = a != b
    nodes, labels = dedup._min_labels(a[keep], b[keep])
    assert dict(zip(nodes.tolist(), labels.tolist())) == _union_find(
        zip(a[keep].tolist(), b[keep].tolist())
    )


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "a BIGINT, b BIGINT")
    return {r.node: r.label for r in connected_components(df, **kw).collect()}


def test_chain_converges_in_log_rounds(spark, cc_path):
    # 64-node path graph: diameter 63. Star contraction must finish well
    # under 12 rounds (min-label propagation would raise here).
    edges = [(i, i + 1) for i in range(63)]
    got = _run(spark, edges, max_rounds=12)
    assert got == {i: 0 for i in range(64)}


def test_round_budget_binds_only_the_star_path(spark, cc_path):
    # two rounds cannot contract a 64-chain; the driver finish has no rounds
    edges = [(i, i + 1) for i in range(63)]
    if cc_path == "star":
        with pytest.raises(RuntimeError, match="did not converge"):
            _run(spark, edges, max_rounds=2)
    else:
        assert _run(spark, edges, max_rounds=2) == {i: 0 for i in range(64)}


def test_mixed_components_match_union_find(spark, cc_path):
    edges = (
        [(i, i + 1) for i in range(10)]  # path 0..10
        + [(100, 101), (101, 102), (100, 102)]  # triangle
        + [(200, 201)]  # pair
        + [(300, 301), (302, 301), (303, 300), (301, 303)]  # dense blob
        + [(5, 5)]  # self-loop must be ignored
    )
    got = _run(spark, edges)
    assert got == _union_find((a, b) for a, b in edges if a != b)


def test_duplicate_and_reversed_edges(spark, cc_path):
    edges = [(2, 1), (1, 2), (2, 1), (3, 2)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1}


@pytest.mark.parametrize(
    "edges", [[], [(4, 4), (9, 9)]], ids=["empty", "self_loops_only"]
)
@pytest.mark.parametrize("id_type", ["bigint", "int"])
def test_no_edges_is_empty_and_typed(spark, cc_path, edges, id_type):
    df = spark.createDataFrame(edges, f"a {id_type}, b {id_type}")
    out = connected_components(df)
    assert out.schema.simpleString() == f"struct<node:{id_type},label:{id_type}>"
    assert out.collect() == []


def test_int_ids_keep_their_type(spark, cc_path):
    df = spark.createDataFrame([(7, 3), (3, 5)], "a INT, b INT")
    out = connected_components(df)
    assert out.schema.simpleString() == "struct<node:int,label:int>"
    assert {r.node: r.label for r in out.collect()} == {3: 3, 5: 3, 7: 3}


@pytest.mark.parametrize(
    "query, cols",
    [
        ("dedup_embedding_lsh_pairs", ("vec_a", "vec_b")),
        ("dedup_minhash_lsh_pairs", ("doc_a", "doc_b")),
    ],
)
def test_paths_agree_on_real_pair_lists(spark, sf_dir, monkeypatch, query, cols):
    from thesis_iceberg_spark.queries import REGISTRY, queries

    queries()
    pairs = (
        REGISTRY[query].fn(spark, sf_dir).select(*cols).toDF("a", "b")
        .localCheckpoint(eager=True)
    )
    local = sorted(map(tuple, connected_components(pairs).collect()))
    monkeypatch.setattr(dedup, "CC_LOCAL_MAX_EDGES", -1)
    star = sorted(map(tuple, connected_components(pairs).collect()))
    assert local, f"{query} gave no pairs at {sf_dir}; the check needs some"
    assert local == star
