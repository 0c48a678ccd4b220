"""Connected components on known graphs (Stage D).

``connected_components`` size-dispatches small edge sets to driver-side
union-find; the distributed min-label path is forced here with
cc_driver_max_edges=0 (it is the subject under test), and a dedicated
test pins driver ≡ distributed on the same graphs.
"""

from __future__ import annotations

import dataclasses

import pandas as pd

from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.operators.connected_components import (
    connected_components,
)

DIST_CFG = dataclasses.replace(PINNED, cc_driver_max_edges=0)


def _run(spark, vertices, edges, cfg=DIST_CFG, key_type="string"):
    # inputs from pandas through Arrow (local relations), so they bring no
    # PythonRDD into the output's lineage
    vdf = spark.createDataFrame(pd.DataFrame({"key": vertices}), f"key {key_type}")
    edf = spark.createDataFrame(
        pd.DataFrame(edges, columns=["src", "dst"]), f"src {key_type}, dst {key_type}"
    )
    out = connected_components(vdf, edf, cfg)
    if cfg.cc_driver_max_edges > 0:
        # driver union-find: its labels are a local relation, so reading
        # the result starts no Python worker
        lineage = out._jdf.queryExecution().toRdd().toDebugString()
        assert "PythonRDD" not in lineage, lineage
    return {r["key"]: r["cluster_rep"] for r in out.collect()}


def test_star(spark):
    got = _run(spark, list("abcd"), [("a", "b"), ("a", "c"), ("a", "d")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_chain(spark):
    # worst case diameter: e-d-c-b-a
    got = _run(spark, list("abcde"), [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a")])
    assert set(got.values()) == {"a"}


def test_two_components_and_isolated(spark):
    got = _run(
        spark, list("abcdefg"), [("a", "b"), ("b", "c"), ("e", "f")]
    )
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["e"] == got["f"] == "e"
    assert got["d"] == "d" and got["g"] == "g"


def test_rep_is_lexicographic_min(spark):
    got = _run(spark, ["z", "m", "a"], [("z", "m"), ("m", "a")])
    assert set(got.values()) == {"a"}


def test_input_order_invariance(spark):
    edges = [("c", "b"), ("a", "c"), ("d", "a")]
    got1 = _run(spark, list("abcd"), edges)
    got2 = _run(spark, list("dcba"), list(reversed(edges)))
    assert got1 == got2


def test_empty_edges_all_singletons(spark):
    # both dispatch branches must handle zero edges
    for cfg in (PINNED, DIST_CFG):
        assert _run(spark, list("abc"), [], cfg) == {"a": "a", "b": "b", "c": "c"}


def test_nonconvergence_raises(spark):
    """ADVICE r1: exhausting cc_max_iterations must be LOUD, not a
    silently-split component."""
    import dataclasses

    import pytest

    from autovalidate_backend_api_spark.config import PINNED

    cfg = dataclasses.replace(PINNED, cc_max_iterations=2, cc_driver_max_edges=0)
    vdf = spark.createDataFrame([(v,) for v in "abcdefgh"], "key string")
    chain = [(chr(c), chr(c + 1)) for c in range(ord("a"), ord("h"))]
    edf = spark.createDataFrame(chain, "src string, dst string")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(vdf, edf, cfg).collect()


# --- large-star/small-star (deep-chain alternative, O(log n) rounds) --------


def _run_star(spark, vertices, edges):
    from autovalidate_backend_api_spark.operators.connected_components import (
        connected_components_star,
    )

    vdf = spark.createDataFrame([(v,) for v in vertices], "key string")
    edf = spark.createDataFrame(edges, "src string, dst string")
    out = connected_components_star(vdf, edf)
    return {r["key"]: r["cluster_rep"] for r in out.collect()}


def test_star_algorithm_known_graphs(spark):
    assert _run_star(spark, list("abcd"), [("a", "b"), ("a", "c"), ("a", "d")]) == {
        "a": "a", "b": "a", "c": "a", "d": "a"
    }
    got = _run_star(
        spark, list("abcdefg"), [("a", "b"), ("b", "c"), ("e", "f")]
    )
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["e"] == got["f"] == "e"
    assert got["d"] == "d" and got["g"] == "g"


def test_star_handles_long_chain_in_log_rounds(spark):
    """A 40-node chain (diameter 39) converges within the 25-round bound
    — the case min-label propagation would RAISE on."""
    import dataclasses

    from autovalidate_backend_api_spark.config import PINNED
    from autovalidate_backend_api_spark.operators.connected_components import (
        connected_components_star,
    )

    n = 40
    keys = [f"v{i:03d}" for i in range(n)]
    chain = [(keys[i], keys[i + 1]) for i in range(n - 1)]
    cfg = dataclasses.replace(PINNED, cc_max_iterations=10)  # ⌈log⌉ + slack
    vdf = spark.createDataFrame([(k,) for k in keys], "key string")
    edf = spark.createDataFrame(chain, "src string, dst string")
    out = connected_components_star(vdf, edf, cfg)
    got = {r["key"]: r["cluster_rep"] for r in out.collect()}
    assert set(got.values()) == {"v000"} and len(got) == n


def test_star_matches_minlabel_on_random_graphs(spark):
    """Cross-check the two CC algorithms on seeded random graphs."""
    import random

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n = 60
        keys = [f"k{i:02d}" for i in range(n)]
        edges = [
            (keys[rng.randrange(n)], keys[rng.randrange(n)]) for _ in range(45)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        got_min = _run(spark, keys, edges)
        got_star = _run_star(spark, keys, edges)
        assert got_min == got_star, f"seed={seed}"


def test_exhaustion_star_fallback(spark):
    """on_exhaustion='star': a chain deeper than the iteration bound is
    still clustered correctly (the pipeline's self-healing mode)."""
    import dataclasses

    from autovalidate_backend_api_spark.config import PINNED

    cfg = dataclasses.replace(PINNED, cc_max_iterations=2, cc_driver_max_edges=0)
    n = 12
    keys = [f"v{i:02d}" for i in range(n)]
    chain = [(keys[i], keys[i + 1]) for i in range(n - 1)]
    vdf = spark.createDataFrame([(k,) for k in keys], "key string")
    edf = spark.createDataFrame(chain, "src string, dst string")
    out = connected_components(vdf, edf, cfg, on_exhaustion="star")
    got = {r["key"]: r["cluster_rep"] for r in out.collect()}
    assert set(got.values()) == {"v00"} and len(got) == n


def test_driver_union_find_matches_distributed(spark):
    """The size-dispatched driver union-find (the default path for small
    edge sets) must agree with BOTH distributed algorithms on known and
    random graphs, including representative choice (min member)."""
    import random

    cases = [
        (list("abcd"), [("a", "b"), ("a", "c"), ("a", "d")]),
        (list("abcde"), [("e", "d"), ("d", "c"), ("c", "b"), ("b", "a")]),
        (list("abcdefg"), [("a", "b"), ("b", "c"), ("e", "f")]),
        (["z", "m", "a"], [("z", "m"), ("m", "a")]),
    ]
    for seed in (4, 5):
        rng = random.Random(seed)
        keys = [f"k{i:02d}" for i in range(50)]
        edges = [
            (keys[rng.randrange(50)], keys[rng.randrange(50)]) for _ in range(40)
        ]
        cases.append((keys, [(a, b) for a, b in edges if a != b]))
    for verts, edges in cases:
        driver = _run(spark, verts, edges, PINNED)      # dispatches to union-find
        dist = _run(spark, verts, edges, DIST_CFG)      # forced min-label
        star = _run_star(spark, verts, edges)
        assert driver == dist == star
        # bigint keys (the pipeline's ids); the order-preserving id map
        # keeps the min-member representative
        ids = {k: i for i, k in enumerate(sorted(verts))}
        by_id = _run(
            spark, [ids[v] for v in verts], [(ids[a], ids[b]) for a, b in edges],
            PINNED, "bigint",
        )
        assert by_id == {ids[k]: ids[r] for k, r in driver.items()}
