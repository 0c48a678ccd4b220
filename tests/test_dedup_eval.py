"""triangle_stats (operators/graph.py) and lsh_recall_report
(operators/dedup_eval.py) invariants on hand-checkable graphs/corpora."""

from __future__ import annotations

from itertools import combinations

import pytest

from autovalidate_backend_api_spark.operators.dedup_eval import (
    exact_pairs,
    lsh_recall_report,
    ssjoin_filter_report,
    ssjoin_filter_report_sql,
)
from autovalidate_backend_api_spark.operators.graph import triangle_stats


def _rows(df):
    return {r["node"]: r for r in df.collect()}


def test_triangle_stats_k4_plus_pendant(spark):
    k4 = list(combinations([1, 2, 3, 4], 2))
    e = spark.createDataFrame(k4 + [(5, 1)], "u bigint, v bigint")
    out = _rows(triangle_stats(e))
    # nodes 2,3,4: deg 3 inside K4, every neighbor pair adjacent
    for n in (2, 3, 4):
        assert (out[n]["degree"], out[n]["triangles"]) == (3, 3)
        assert out[n]["local_cc"] == 1.0
    # node 1: deg 4 (K4 + pendant), 3 triangles of 6 possible wedges
    assert (out[1]["degree"], out[1]["triangles"]) == (4, 3)
    assert out[1]["local_cc"] == 0.5
    # pendant: no wedge
    assert (out[5]["degree"], out[5]["triangles"], out[5]["local_cc"]) == (1, 0, 0.0)


def test_triangle_stats_canonicalizes_input(spark):
    """Reversed duplicates and self-loops must not change any count."""
    base = [(1, 2), (2, 3), (1, 3)]
    noisy = base + [(2, 1), (3, 2), (1, 1), (2, 2), (1, 2)]
    a = sorted(triangle_stats(spark.createDataFrame(base, "u int, v int")).collect())
    b = sorted(triangle_stats(spark.createDataFrame(noisy, "u int, v int")).collect())
    assert a == b


def _shingles(spark, docs: dict[int, list[str]]):
    rows = [(d, s) for d, ss in docs.items() for s in ss]
    return spark.createDataFrame(rows, "doc_id bigint, s string").distinct()


def test_lsh_recall_identical_pair_always_detected(spark):
    """Identical shingle sets produce identical signatures, hence the
    same band keys in EVERY config: truth=detected=1, recall 1.0."""
    sh = _shingles(
        spark,
        {
            1: ["a b c", "b c d", "c d e", "d e f", "e f g"],
            2: ["a b c", "b c d", "c d e", "d e f", "e f g"],
            3: ["x y z", "y z w", "z w v", "w v u", "v u t"],
        },
    )
    out = {r["config"]: r for r in lsh_recall_report(sh).collect()}
    assert set(out) == {"b4r4", "b8r2"}
    for r in out.values():
        assert r["n_truth_pairs"] == 1
        assert r["n_detected_pairs"] == 1
        assert r["recall"] == 1.0
        assert r["n_candidate_pairs"] >= r["n_detected_pairs"]


def test_lsh_recall_sub_threshold_pair_not_truth(spark):
    """A pair at jaccard 0.25 (< theta 0.6) contributes to candidates at
    most, never to truth/detected."""
    sh = _shingles(
        spark,
        {
            1: ["a b c", "b c d", "c d e", "d e f", "e f g"],
            2: ["a b c", "b c d", "p q r", "q r s", "r s t"],
        },
    )
    for r in lsh_recall_report(sh).collect():
        assert r["n_truth_pairs"] == 0
        assert r["n_detected_pairs"] == 0
        assert r["recall"] == 0.0


def test_exact_pairs_matches_python_reference(spark):
    """exact_pairs against an in-test brute-force over random-ish sets."""
    docs = {
        i: [f"g{(i * j + k) % 17}" for j in (1, 3, 5) for k in range(4)]
        for i in range(8)
    }
    sets = {i: set(ss) for i, ss in docs.items()}
    expected = {}
    for a, b in combinations(sorted(sets), 2):
        ni = len(sets[a] & sets[b])
        if ni:
            expected[(a, b)] = (ni, len(sets[a]), len(sets[b]))
    got = {
        (r["src"], r["dst"]): (r["ni"], r["na"], r["nb"])
        for r in exact_pairs(_shingles(spark, docs)).collect()
    }
    assert got == expected


def test_exact_pairs_hot_shingle_cap(spark):
    """max_docs_per_shingle drops boilerplate shingles from the index:
    pairs sharing ONLY the hot shingle disappear, other pairs lose the
    hot shingle from ni; uncapped (and any cap >= max df) is identical
    to the default exact join."""
    # 's0' is boilerplate (df=6); docs 4,5 share ONLY s0
    docs = {
        0: ["s0", "a", "b", "c"],
        1: ["s0", "a", "b", "d"],
        2: ["s0", "e", "f", "g"],
        3: ["s0", "e", "f", "h"],
        4: ["s0", "p", "q", "r"],
        5: ["s0", "x", "y", "z"],
    }
    sh = _shingles(spark, docs)
    uncapped = {
        (r["src"], r["dst"]): (r["ni"], r["na"], r["nb"])
        for r in exact_pairs(sh).collect()
    }
    # a cap above the hottest df changes nothing
    same = {
        (r["src"], r["dst"]): (r["ni"], r["na"], r["nb"])
        for r in exact_pairs(sh, max_docs_per_shingle=6).collect()
    }
    assert same == uncapped
    capped = {
        (r["src"], r["dst"]): (r["ni"], r["na"], r["nb"])
        for r in exact_pairs(sh, max_docs_per_shingle=5).collect()
    }
    # boilerplate-only pairs gone; surviving pairs exclude s0 from all
    # of ni/na/nb (the documented drop-from-index contract)
    assert (4, 5) not in capped
    assert capped == {
        (0, 1): (2, 3, 3),
        (2, 3): (2, 3, 3),
    }


def test_simhash_hamming_pairs_lossless_vs_bruteforce(spark):
    """The chunk-blocked join must find EXACTLY the brute-force pairs at
    hamming <= 3 (pigeonhole: 4 chunks, <= 3 flips)."""
    from autovalidate_backend_api_spark.operators.dedup_eval import (
        simhash48,
        simhash_hamming_pairs,
    )

    docs = {
        i: [f"t{(i * j + k) % 29} u{(i + j * k) % 31} v{k}" for j in (1, 2, 3) for k in range(6)]
        for i in range(24)
    }
    # identical cluster (hamming 0 — one changed shingle in a small set
    # flips ~10 of 48 bits, so near-identical is NOT near in hamming)
    for i in (100, 101, 102):
        docs[i] = [f"c{k} c{k+1} c{k+2}" for k in range(12)]
    sh = _shingles(spark, docs)
    sigs = {r["doc_id"]: r["sig"] for r in simhash48(sh).collect()}
    ids = sorted(sigs)
    expected = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a, b in combinations(ids, 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 3
    }
    got = {
        (r["src"], r["dst"]): r["hamming"]
        for r in simhash_hamming_pairs(sh).collect()
    }
    assert got == expected
    # the planted identical cluster appears as hamming-0 pairs
    assert got[(100, 101)] == 0 and got[(100, 102)] == 0 and got[(101, 102)] == 0


def test_simhash_hamming_ham_max_guard(spark):
    import pytest as _pytest

    from autovalidate_backend_api_spark.operators.dedup_eval import (
        simhash_hamming_pairs,
    )

    sh = _shingles(spark, {1: ["a b c"], 2: ["a b c"]})
    with _pytest.raises(ValueError):
        simhash_hamming_pairs(sh, ham_max=4)


def test_bbit_minhash_matches_python_reference(spark):
    """Operator vs an independent in-test Python replay of the md5
    MinHash family and the published debiased b-bit estimator."""
    import hashlib

    from autovalidate_backend_api_spark.operators.dedup_eval import (
        N_PERM,
        bbit_minhash_pairs,
    )

    docs = {
        1: [f"s{k}" for k in range(20)],
        2: [f"s{k}" for k in range(20)],          # identical to 1
        3: [f"s{k}" for k in range(10)] + [f"z{k}" for k in range(10)],
        4: [f"w{k}" for k in range(20)],           # disjoint
    }

    def comp(shingle_set, i):
        return min(
            int(hashlib.md5(f"mh{i}:{s}".encode()).hexdigest()[:12], 16)
            for s in shingle_set
        )

    sigs = {d: [comp(set(ss), i) for i in range(N_PERM)] for d, ss in docs.items()}
    c = 2.0 ** -8
    expected = {}
    for a, b in combinations(sorted(docs), 2):
        full = sum(sigs[a][i] == sigs[b][i] for i in range(N_PERM))
        bbit = sum(
            (sigs[a][i] & 255) == (sigs[b][i] & 255) for i in range(N_PERM)
        )
        if full >= 1:
            expected[(a, b)] = (
                full,
                bbit,
                round(full / 16.0, 6),
                round((bbit / 16.0 - c) / (1.0 - c), 6),
            )
    got = {
        (r["src"], r["dst"]): (
            r["full_matches"],
            r["bbit_matches"],
            r["est_full"],
            r["est_bbit"],
        )
        for r in bbit_minhash_pairs(_shingles(spark, docs), min_matches=1).collect()
    }
    assert got == expected
    # identical docs: both estimators saturate at exactly 1.0
    assert got[(1, 2)] == (16, 16, 1.0, 1.0)


def test_ann_recall_report_invariants_and_planted(spark):
    """Structure invariants + a planted-neighbor corpus (every query has
    an exact duplicate vector): the duplicate is the top-1 neighbor for
    all methods, so recall@1 = 1.0 for sign-LSH (identical bucket) and
    IVF (identical cell), and PQ (identical codes => max estimate)."""
    from autovalidate_backend_api_spark.operators.dedup_eval import ann_recall_report

    # 40 base vectors; ids 0..19 duplicated at id+100 (exact copies)
    base = [
        (i, [float((i * 5 + j) % 13) - 6.0 for j in range(8)]) for i in range(40)
    ]
    dups = [(i + 100, v) for i, v in base[:20]]
    emb = spark.createDataFrame(base + dups, "vec_id bigint, embedding array<float>")
    queries = emb.filter("vec_id < 20")
    rows = ann_recall_report(emb, queries, k=1).collect()
    got = {r["method"]: r for r in rows}
    assert set(got) == {"sign_lsh", "ivf_flat", "pq_adc"}
    for r in rows:
        assert 0.0 <= r["recall_at_k"] <= 1.0
        assert r["n_hits"] <= r["n_exact_pairs"]


def test_lsh_scurve_is_monotone_over_populated_deciles(spark, sf_dir):
    """Detection rate must rise with the Jaccard decile (the S-curve) —
    checked over buckets with enough mass to be signal (tiny deciles
    like a single pair are sampling noise, not curve shape)."""
    from autovalidate_backend_api_spark import entrypoints

    rows = sorted(
        entrypoints.queries()["lsh_scurve_report"](spark, sf_dir).collect(),
        key=lambda r: r.j_decile,
    )
    rates = [r.detect_rate for r in rows if r.n_pairs >= 15]
    assert len(rates) >= 5
    # empirical curve: allow small-sample wiggle (<= 0.15 below the
    # running max) but forbid any real inversion of the S shape
    running = rates[0]
    for r in rates[1:]:
        assert r >= running - 0.15, rates
        running = max(running, r)
    assert rates[0] < 0.05 and rates[-1] == 1.0


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_ssjoin_filter_report_matches_duckdb_twin(spark, seed):
    """The Spark cascade equals its DuckDB twin on seeded token tables,
    with planted edge cases: a pair sharing only non-prefix tokens, two
    identical docs, 1-token docs, and df ties broken by token."""
    import random

    import duckdb
    import pandas as pd

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(25)]
    docs = {
        d: ["hot"] + rng.choices(vocab, k=rng.randint(1, 12)) for d in range(30)
    }
    # n = 3 ⇒ prefix length 1 (the rare r*); they share only hot, t0
    docs[100] = ["r100", "hot", "t0"]
    docs[101] = ["r101", "hot", "t0"]
    docs[102] = docs[103] = ["i1", "i2", "i3", "i4", "i5"]
    docs[104], docs[105] = ["solo"], ["solo"]
    # tie_a and tie_b both have df 2: 110's prefix is tie_a (tok order),
    # so (110, 111) shares only a non-prefix token and (110, 112) is a
    # candidate — the other tie-break flips both
    docs[110] = ["tie_a", "tie_b", "hot"]
    docs[111] = ["tie_b", "hot"]
    docs[112] = ["tie_a", "hot"]
    rows = [(d, t) for d, ts in docs.items() for t in ts]

    got = dict(
        ssjoin_filter_report(
            spark.createDataFrame(rows, "doc_id bigint, s string")
        ).collect()
    )
    con = duckdb.connect()
    try:
        con.register("t", pd.DataFrame(rows, columns=["doc_id", "s"]))
        want = dict(
            con.sql(
                ssjoin_filter_report_sql(
                    "d AS (SELECT DISTINCT CAST(doc_id AS BIGINT) AS doc_id, s FROM t)"
                )
            ).fetchall()
        )
    finally:
        con.close()
    assert got == want
    # the identical pairs (102, 103) and (104, 105) at least
    assert want["verified"] >= 2 and want["verified_missed_by_filters"] == 0
