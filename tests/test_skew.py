"""Skew robustness: boilerplate-heavy corpora must not explode candidate
generation, and true dup pairs must survive hot-bucket drops via their
other bands (SURVEY.md §4 — the web-scale skew contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions.signatures import with_signatures
from autovalidate_backend_api_spark.operators import stage_b_lsh as B

BOILER = " ".join(f"license clause {i} all rights reserved" for i in range(40))


def _skewed_corpus(spark, n=600, planted=25):
    """Every doc shares a large identical boilerplate block (≈50% of its
    tokens); `planted` docs get a near-identical twin (one token edit)."""
    rows = []
    for i in range(n):
        unique = " ".join(f"body{i}tok{j}" for j in range(160))
        rows.append((f"doc{i:04d}", f"{BOILER} {unique}"))
        if i < planted:
            twin = unique.replace(f"body{i}tok5", f"body{i}tokX")
            rows.append((f"twin{i:04d}", f"{BOILER} {twin}"))
    return spark.createDataFrame(rows, "key string, content string")


def test_hot_buckets_dropped_and_recall_survives(spark):
    corpus = _skewed_corpus(spark)
    n_docs = corpus.count()
    # a lineage-free leaf, like run_pipeline's stage outputs, so the plans
    # below hold only Stage B's own operators
    sigs = with_signatures(corpus, PINNED, include_winnow=False).localCheckpoint()
    cands, dropped = B.candidate_pairs(sigs, PINNED)
    n_cands = cands.count()
    # the boilerplate bands bucket half the corpus together — they MUST
    # be dropped, and candidates must stay far below all-pairs
    assert dropped.count() > 0, "expected boilerplate band buckets above the cap"
    assert n_cands < n_docs * 40, f"candidate explosion: {n_cands} pairs for {n_docs} docs"
    # every planted twin still reaches verify via its non-boilerplate
    # bands and passes the exact-Jaccard threshold
    verified = B.verify_pairs(cands, sigs, PINNED)
    # the verify Jaccard is JVM-native: no Python worker in this stage
    plan = verified._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan, plan
    twins = {
        (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
        for r in verified.filter(F.col("jaccard") >= PINNED.jaccard_threshold).collect()
    }
    expected = {(f"doc{i:04d}", f"twin{i:04d}") for i in range(25)}
    missing = expected - twins
    assert not missing, f"hot-bucket drops lost planted pairs: {sorted(missing)[:5]}"


def test_native_jaccard_matches_reference(spark):
    """``with_jaccard`` equals ``hashing.jaccard`` bit for bit, including
    empty ∪ empty = 1.0, which must not raise DIVIDE_BY_ZERO under ANSI."""
    import numpy as np

    from autovalidate_backend_api_spark.functions import hashing as H

    rng = np.random.default_rng(5)

    def sorted_distinct():
        return np.unique(rng.integers(0, 400, size=int(rng.integers(0, 120)))).tolist()

    cases = [([], []), ([1, 2, 3], [4, 5]), ([7, 8, 9], [7, 8, 9]), ([], [3]), ([-5, 2], [2])]
    cases += [(sorted_distinct(), sorted_distinct()) for _ in range(60)]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(cases)], "i int, a array<bigint>, b array<bigint>"
    )
    got = dict(B.with_jaccard(df, "a", "b").select("i", "jaccard").collect())
    want = {i: H.jaccard(a, b) for i, (a, b) in enumerate(cases)}
    assert got == want
    assert got[0] == 1.0 and got[1] == 0.0 and got[2] == 1.0


def test_null_band_family_keeps_the_other(spark):
    """ADVICE r6: a NULL band array (nullable once signatures are re-read
    from parquet) drops only its own family's (bucket, key) rows."""
    sigs = spark.createDataFrame(
        [(1, 3, [10, 11], None), (2, 3, None, [20]), (3, 3, [30], [31, 32])],
        "key bigint, n_shingles int, bands_tok array<bigint>, bands_chr array<bigint>",
    )
    got = sorted((r["bucket"], r["key"]) for r in B.explode_bands(sigs).collect())
    assert got == [(10, 1), (11, 1), (20, 2), (30, 3), (31, 3), (32, 3)]


def test_fingerprint_poor_doc_in_hot_bucket_still_found(spark):
    """Stage-C recall contract regression (found via sf0.1 oracle sweep):
    a short contained doc can have a SINGLE winnow fingerprint, and that
    fingerprint's bucket can be boilerplate-hot (>max_fingerprint_bucket
    docs share it). The fingerprint-poor rescue path must still pair it
    with its container."""
    from autovalidate_backend_api_spark.operators import stage_c_substring as C

    # one shared short phrase (≥ contains_min_len=143 norm chars) that
    # appears verbatim inside many longer docs AND as a standalone doc
    shared = " ".join(f"anchor{i}" for i in range(18))  # ~150 chars
    assert len(shared) >= PINNED.contains_min_len
    rows = [("contained", shared)]
    for i in range(60):  # 60 > max_fingerprint_bucket=32 containers
        filler = " ".join(f"host{i}w{j}" for j in range(120))
        rows.append((f"host{i:03d}", f"{filler} {shared}"))
    corpus = spark.createDataFrame(rows, "key string, content string")
    sigs = with_signatures(corpus, PINNED, include_winnow=True).persist()
    cands, dropped = C.fingerprint_candidates(sigs, PINNED)
    confirmed = C.verify_containment(cands, sigs, PINNED)
    found = {
        (r["src"], r["dst"]) for r in confirmed.collect()
        if "contained" in (r["src"], r["dst"])
    }
    assert len(found) == 60, f"contained doc paired with {len(found)}/60 hosts"
    sigs.unpersist()


def test_oph_sparse_doc_candidate_parity_at_verify_threshold(spark):
    """VERDICT r2 next-round #7: OPH's documented sparse-doc residual is
    EXTRA low-J candidates only — for true pairs at J ≥ 0.7 (above the
    0.66 LSH S-curve midpoint, where the verify threshold lives) the
    candidate set must be IDENTICAL between OPH and classic MinHash,
    even when every doc has far fewer shingles than num_perm=128."""
    import dataclasses

    import numpy as np

    from autovalidate_backend_api_spark.functions import hashing as H

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(400)]
    docs = {}
    for i in range(40):
        toks = list(rng.choice(vocab, size=30, replace=False))  # ~28 shingles << 128
        docs[f"d{i:03d}"] = " ".join(toks)
        if i < 15:
            # twin with 1-2 token edits → J around 0.8-0.93 (sparse + high-J)
            twin = list(toks)
            for j in range(1 + i % 2):
                twin[5 + j] = f"edit{i}_{j}"
            docs[f"t{i:03d}"] = " ".join(twin)
    corpus = spark.createDataFrame(list(docs.items()), "key string, content string")

    # exact token-shingle Jaccard ground truth (same shingle contract)
    sets = {k: set(H.token_shingle_hashes(v.split(" ")).tolist()) for k, v in docs.items()}
    keys = sorted(sets)
    hi_truth = set()
    for a in range(len(keys)):
        for b in range(a + 1, len(keys)):
            sa, sb = sets[keys[a]], sets[keys[b]]
            u = len(sa | sb)
            if u and len(sa & sb) / u >= 0.7:
                hi_truth.add((keys[a], keys[b]))
    assert len(hi_truth) >= 10, "fixture must plant high-J sparse pairs"

    cands = {}
    for scheme in ("oph", "classic"):
        cfg = dataclasses.replace(PINNED, minhash_scheme=scheme)
        sigs = with_signatures(corpus, cfg, include_winnow=False).persist()
        pairs, _ = B.candidate_pairs(sigs, cfg)
        cands[scheme] = {
            (min(r["src"], r["dst"]), max(r["src"], r["dst"]))
            for r in pairs.collect()
        }
        sigs.unpersist()

    assert hi_truth <= cands["oph"], "OPH misses high-J sparse pairs"
    assert hi_truth <= cands["classic"], "classic misses high-J sparse pairs"
    assert cands["oph"] & hi_truth == cands["classic"] & hi_truth


def test_span_ops_survive_universal_hot_span(spark):
    """A chunk shared by EVERY doc (universal boilerplate): the span ops
    must stay combinable-aggregation-shaped (no single-task rank blowup)
    and produce the right verdicts — the curation-layer analog of the
    LSH hot-bucket guarantees."""
    from autovalidate_backend_api_spark.operators.datapipe import (
        corpus_duplicate_spans,
        remove_duplicate_spans,
    )

    hot = " ".join(f"boiler{i}" for i in range(16))
    docs = spark.createDataFrame(
        [(i, "en", "s0", hot + " " + " ".join(f"d{i}w{j}" for j in range(16)))
         for i in range(500)],
        "doc_id bigint, lang string, source string, text string",
    )
    rep = corpus_duplicate_spans(docs)
    rows = rep.collect()
    assert len(rows) == 500
    assert all(r["n_spans"] == 2 and r["n_dup_spans"] == 1 for r in rows)

    cleaned = {r["doc_id"]: r for r in remove_duplicate_spans(docs).collect()}
    # exactly one doc keeps the hot chunk (the min (doc_id, idx) owner)
    keepers = [d for d, r in cleaned.items() if r["n_dropped"] == 0]
    assert keepers == [0]
    assert all(r["n_dropped"] == 1 for d, r in cleaned.items() if d != 0)
    assert cleaned[7]["cleaned"].startswith("d7w0 ")  # hot chunk cut


def test_mann_whitney_u_hand_checked_with_ties(spark):
    """A=[1,2,3], B=[2,4]: midranks (1, 2.5, 2.5, 4, 5) → R_A = 7.5,
    2U = 15 − 12 = 3, AUC = 1.5/6 = 0.25 — the tie is half-counted
    exactly (pair-definition cross-check: only (3>2)=1 and (2=2)=0.5
    score)."""
    from autovalidate_backend_api_spark.operators.profiling import mann_whitney_u

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 4)],
        "g: string, v: bigint",
    )
    r = mann_whitney_u(df, group_col="g", value_col="v", group_a="a", group_b="b").first()
    assert (r["na"], r["nb"], r["two_u"], r["auc"]) == (3, 2, 3, 0.25)


def test_ks_statistic_hand_checked(spark):
    """Same samples: the ECDF gap peaks at v=3 (F_A=1, F_B=0.5) →
    d_num = |3·2 − 1·3| = 3, D = 0.5."""
    from autovalidate_backend_api_spark.operators.profiling import ks_statistic

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("b", 2), ("b", 4)],
        "g: string, v: bigint",
    )
    r = ks_statistic(df, group_col="g", value_col="v", group_a="a", group_b="b").first()
    assert (r["na"], r["nb"], r["d_num"], r["ks_d"]) == (3, 2, 3, 0.5)
