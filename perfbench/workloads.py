"""The benchmark's workloads: inputs from a seed, one timed call, checks.

Each workload builds its inputs and golden results from ``--seed`` when
it is constructed. The closed loop in ``run.py`` then calls ``run``
(timed), ``check`` and ``reset`` (untimed) until the run time is used
up. ``replay`` is the traced form of ``run``: the same layer calls, one
span and one Spark job group each.
"""

from __future__ import annotations

import dataclasses
import hashlib
import os

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from autovalidate_backend_api_spark import corpus as C
from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions.signatures import (
    file_key_col,
    sha256_col,
    with_signatures,
)
from autovalidate_backend_api_spark.operators import stage_a_exact as A
from autovalidate_backend_api_spark.operators import stage_b_lsh as B
from autovalidate_backend_api_spark.operators import stage_c_substring as C_sub
from autovalidate_backend_api_spark.operators.connected_components import (
    union_find_labels,
)
from autovalidate_backend_api_spark.plans.pipeline import _dedup_pairs, run_pipeline
from tracing import timed

CORES = len(os.sched_getaffinity(0))
# PINNED with its partition count sized for this host: the pinned 32 is a
# 32-vCPU figure, and at local[4] eight waves of near-empty tasks per
# stage are most of a small run's wall.
CFG = dataclasses.replace(PINNED, shuffle_partitions=2 * CORES)

# pipeline spans in run_pipeline's order; each is one job group
PIPELINE_SPANS = (
    "stage_a", "signatures", "stage_b.candidates", "stage_b.verify",
    "stage_c.candidates", "stage_c.verify", "confirmed", "clusters",
)
SIMILARITY_GATES = {
    "similarity.token_bag": "token_bag_clone_pairs",
    "similarity.ssjoin": "ssjoin_filter_report",
}
SIMILARITY_SPANS = tuple(SIMILARITY_GATES)
SSJOIN_STAGES = (
    "prefix", "prefix_length", "prefix_length_positional", "verified",
    "verified_missed_by_filters",
)


def _key(repo, path, commit) -> str:
    return f"{repo}\x01{path}\x01{commit}"


@dataclasses.dataclass
class Quality:
    recall: float
    precision: float
    ok: bool
    detail: str = ""


# ---------------------------------------------------------------------------
# dedup_full: run_pipeline over the synthetic code corpus
# ---------------------------------------------------------------------------


class _Workload:
    def reset(self) -> None:
        """Drop every cached frame (run_pipeline leaves its stage outputs
        persisted) and reload the input, so each run starts alike."""
        self.spark.catalog.clearCache()
        self.load()


class DedupFull(_Workload):
    """``run_pipeline(checkpoint_dir=None)`` over ``corpus_pandas``."""

    name = "dedup_full"
    spans = PIPELINE_SPANS
    # the first n_files rows of n_base bases (~2.4 rows each, so a seed
    # falls short with negligible odds): every seed gets the same input
    # size, and files/s compares across seeds
    n_base = 170
    n_files = 360

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.setup_parts: dict[str, float] = {}
        self.pdf, self.setup_parts["generate_s"] = timed(
            lambda: C.corpus_pandas(self.n_base, seed).iloc[: self.n_files]
        )
        if len(self.pdf) < self.n_files:
            raise ValueError(f"seed {seed} gives {len(self.pdf)} < {self.n_files} files")
        _, self.setup_parts["golden_s"] = timed(self._golden)
        self.input_files = len(self.pdf)
        self.corpus = None

    def _golden(self) -> None:
        self.keys = {_key(r.repo, r.path, r.commit) for r in self.pdf.itertuples()}
        exp = C.expected_pairs_pandas(self.n_base, self.seed)
        pairs = [
            (_key(p.src_repo, p.src_path, p.src_commit),
             _key(p.dst_repo, p.dst_path, p.dst_commit))
            for p in exp.itertuples()
        ]
        # pairs of the bases cut off by n_files are not in the input
        kept = [a in self.keys and b in self.keys for a, b in pairs]
        self.must = [k for k, m, ok in zip(pairs, exp.must_match, kept) if m and ok]
        self.negatives = [k for k, d, ok in zip(pairs, exp.dup_class, kept)
                          if d == "negative" and ok]
        by_sha: dict[str, list[str]] = {}
        for r in self.pdf.itertuples():
            sha = hashlib.sha256(r.content.encode()).hexdigest()
            by_sha.setdefault(sha, []).append(_key(r.repo, r.path, r.commit))
        self.sha_groups = [ks for ks in by_sha.values() if len(ks) > 1]

    def load(self) -> None:
        """Cached input DataFrame; the program receives only this."""
        self.corpus = self.spark.createDataFrame(self.pdf).persist()
        self.corpus.count()

    def run(self, run_id: str):
        res = run_pipeline(self.spark, self.corpus, None, run_id=run_id, cfg=CFG,
                           verbose=False)
        return res

    def stage_seconds(self, res) -> dict[str, float]:
        return {m["stage"]: m["wall_ms"] / 1000.0 for m in res.metrics}

    def output(self, res) -> pd.DataFrame:
        return res.clusters.toPandas()

    def check(self, clusters: pd.DataFrame) -> Quality:
        if len(clusters) != len(self.keys) or set(clusters["key"]) != self.keys:
            return Quality(0.0, 0.0, False, "clusters do not cover the input keys once")
        rep = dict(zip(clusters["key"], clusters["cluster_rep"]))
        found = sum(rep[a] == rep[b] for a, b in self.must)
        merged = sum(rep[a] == rep[b] for a, b in self.negatives)
        split = sum(len({rep[k] for k in ks}) > 1 for ks in self.sha_groups)
        recall = _ratio(found, len(self.must), empty=1.0)
        precision = 1.0 - _ratio(merged, len(self.negatives))
        ok = recall >= 0.99 and merged == 0 and split == 0
        return Quality(recall, precision, ok,
                       f"recall {found}/{len(self.must)}, false merges {merged}, "
                       f"split sha groups {split}")

    # ---- traced replay: run_pipeline's layer calls, one span each -------

    def replay(self, tracer, run_id: str):
        spark, cfg, sc = self.spark, CFG, self.spark.sparkContext

        def mat(df):
            df = df.persist()
            return df, df.count()

        counts: dict[str, float] = {}
        with tracer.span("pipeline", run_id):
            keyed = self.corpus.select(
                file_key_col().alias("key_str"),
                sha256_col(F.col("content")).alias("sha"),
                "content",
            )
            hashed = keyed.select(F.xxhash64("key_str").alias("key"), "sha", "content")
            with tracer.span("stage_a", run_id):
                keymap, _ = mat(
                    keyed.select(F.xxhash64("key_str").alias("id"), "key_str")
                    .coalesce(cfg.shuffle_partitions)
                )
                key_sha = hashed.select("key", "sha").persist()
                reps = A.exact_reps(key_sha).persist()
                sha_pairs, counts["stage_a.exact_pairs"] = mat(
                    A.exact_pairs(key_sha, reps=reps)
                )
                survivors, n_survivors = mat(A.survivor_keys(reps=reps))
            with tracer.span("signatures", run_id):
                sigs, _ = mat(
                    with_signatures(
                        hashed.join(survivors.select("key"), "key", "left_semi")
                        .repartition(cfg.shuffle_partitions, "key"),
                        cfg,
                        include_winnow=True,
                    ).select(
                        "key", "norm", "shingles", "bands_tok", "bands_chr",
                        "n_shingles", "simhash", "winnow",
                    )
                )
            with tracer.span("stage_b.candidates", run_id):
                b_cands, b_dropped = B.candidate_pairs(sigs, cfg)
                b_cands, counts["stage_b.candidates"] = mat(b_cands)
            with tracer.span("stage_b.verify", run_id):
                b_pairs, counts["stage_b.verified"] = mat(B.verify_pairs(b_cands, sigs, cfg))
            with tracer.span("stage_c.candidates", run_id):
                c_cands, c_dropped = C_sub.fingerprint_candidates(sigs, cfg)
                c_cands, counts["stage_c.candidates"] = mat(c_cands)
            with tracer.span("stage_c.verify", run_id):
                c_pairs, counts["stage_c.confirmed"] = mat(
                    C_sub.verify_containment(c_cands, sigs, cfg)
                )
            with tracer.span("confirmed", run_id):
                confirmed, n_edges = mat(_dedup_pairs(
                    sha_pairs.select("src", "dst", F.col("score").alias("jaccard"),
                                     F.lit(0).alias("hamming"), "stage")
                    .unionByName(b_pairs)
                    .unionByName(c_pairs)
                ))
            with tracer.span("clusters", run_id):
                clusters, _ = mat(_clusters(spark, keymap, confirmed, n_edges, cfg))
        # funnel counts the program does not materialize: extra jobs, run
        # outside every span so they never bill a layer
        sc.setJobGroup(f"{run_id}/funnel", "funnel")
        counts["stage_a.survivor_share"] = n_survivors / self.input_files
        counts["stage_b.band_rows"] = B.explode_bands(sigs).count()
        counts["stage_b.buckets_dropped"] = b_dropped.count()
        counts["stage_c.buckets_dropped"] = c_dropped.count()
        counts["clusters.edges"] = n_edges
        counts["clusters.count"] = clusters.select("cluster_rep").distinct().count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        counts["stage_b.verify_yield"] = _ratio(counts["stage_b.verified"],
                                                counts["stage_b.candidates"])
        counts["stage_c.confirm_yield"] = _ratio(counts["stage_c.confirmed"],
                                                 counts["stage_c.candidates"])
        return clusters.toPandas(), counts


def _ratio(a: float, b: float, empty: float = 0.0) -> float:
    return a / b if b else empty


def _clusters(spark, keymap, confirmed, n_edges: int, cfg):
    """run_pipeline's small-edge-set clusters step, call for call:
    driver union-find over the collected edges, then broadcast joins that
    translate edge-touched ids to keys; untouched files map to themselves."""
    chk = keymap.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("key_str").alias("n_keys"),
        F.countDistinct("id").alias("n_ids"),
    ).collect()[0]
    if not chk["n_rows"] == chk["n_keys"] == chk["n_ids"]:
        raise RuntimeError(f"duplicate keys or key-id collision: {chk}")
    if not (cfg.cc_driver_max_edges > 0 and n_edges <= cfg.cc_driver_max_edges):
        raise ValueError("replay covers the driver union-find path only")
    edges = confirmed.select("src", "dst").toPandas()
    labeled = union_find_labels(list(zip(edges["src"].tolist(), edges["dst"].tolist())))
    if not labeled:
        return keymap.select(F.col("key_str").alias("key"), F.col("key_str").alias("cluster_rep"))
    t_labels = spark.createDataFrame(labeled, "id bigint, comp bigint")
    bc = F.broadcast if len(labeled) <= 500_000 else (lambda df: df)
    with_keys = keymap.join(bc(t_labels), "id").select("key_str", "comp")
    reps = with_keys.groupBy("comp").agg(F.min("key_str").alias("rep_key"))
    multi = with_keys.join(bc(reps), "comp").select(
        F.col("key_str").alias("key"), F.col("rep_key").alias("cluster_rep")
    )
    singles = keymap.join(bc(t_labels.select("id")), "id", "left_anti").select(
        F.col("key_str").alias("key"), F.col("key_str").alias("cluster_rep")
    )
    return multi.unionByName(singles)


# ---------------------------------------------------------------------------
# similarity_joins: the SourcererCC and SSJoin gates over `documents`
# ---------------------------------------------------------------------------

# the word list and length range of the `documents` test table
DOC_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group big "
    "sort query fast the"
).split()
DOC_LANGS = ("en", "zh", "es", "de", "fr")


def documents_pandas(n_docs: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = np.array(DOC_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), size=int(rng.integers(10, 100)))])
             for _ in range(n_docs)]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [DOC_LANGS[i] for i in rng.integers(0, len(DOC_LANGS), size=n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive form of a result, as the repo's oracle harness
    compares them: sorted columns, numbers as float64, rows sorted."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        try:
            pdf[c] = pd.to_numeric(pdf[c], errors="raise").astype("float64")
        except (ValueError, TypeError):
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(drop=True)


class SimilarityJoins(_Workload):
    """``token_bag_clone_pairs`` + ``ssjoin_filter_report`` gates."""

    name = "similarity_joins"
    spans = SIMILARITY_SPANS
    n_docs = 1000

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.sf_dir = os.path.join(work_dir, "sf")
        os.makedirs(self.sf_dir, exist_ok=True)
        self.setup_parts: dict[str, float] = {}
        self.docs, self.setup_parts["generate_s"] = timed(
            lambda: documents_pandas(self.n_docs, seed)
        )
        self.input_files = len(self.docs)
        self.path = os.path.join(self.sf_dir, "documents.parquet")
        self.load()
        # the gate registry is 13k lines; only this workload imports it
        from autovalidate_backend_api_spark import entrypoints

        queries, oracles = entrypoints.queries(), entrypoints.oracle_sql()
        self.gates = {s: queries[g] for s, g in SIMILARITY_GATES.items()}
        _, self.setup_parts["golden_s"] = timed(
            lambda: self._golden({s: oracles[g] for s, g in SIMILARITY_GATES.items()})
        )

    def _golden(self, sqls: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
            self.expected = {s: con.sql(sql).df() for s, sql in sqls.items()}
        finally:
            con.close()
        self.expected_rows = {s: _row_set(canonicalize(df)) for s, df in self.expected.items()}

    def load(self) -> None:
        """Input table as the gates read it: one parquet file."""
        self.docs.to_parquet(self.path, index=False)

    def run(self, run_id: str):
        return {s: gate(self.spark, self.sf_dir).toPandas() for s, gate in self.gates.items()}

    def stage_seconds(self, out) -> dict[str, float]:
        return {}

    def output(self, out):
        return out

    def check(self, out: dict) -> Quality:
        want = sum(len(v) for v in self.expected_rows.values())
        found = false = 0
        problems = []
        for s, got in out.items():
            exp = self.expected[s]
            if sorted(got.columns) != sorted(exp.columns):
                problems.append(f"{s}: columns {sorted(got.columns)}")
                continue
            got_rows = _row_set(canonicalize(got))
            found += len(got_rows & self.expected_rows[s])
            false += len(got_rows - self.expected_rows[s])
            if len(got) != len(exp) or not canonicalize(got).equals(canonicalize(exp)):
                problems.append(f"{s}: rows differ from the oracle")
        recall = _ratio(found, want, empty=1.0)
        precision = 1.0 - _ratio(false, sum(len(v) for v in out.values()))
        return Quality(recall, precision, not problems,
                       "; ".join(problems) or f"oracle rows {found}/{want}, extra rows {false}")

    def replay(self, tracer, run_id: str):
        out = {}
        with tracer.span("similarity", run_id):
            for s, gate in self.gates.items():
                with tracer.span(s, run_id):
                    out[s] = gate(self.spark, self.sf_dir).toPandas()
        counts = {"similarity.token_bag.pairs": len(out["similarity.token_bag"])}
        report = dict(zip(out["similarity.ssjoin"]["stage"], out["similarity.ssjoin"]["n_pairs"]))
        for stage in SSJOIN_STAGES:
            counts[f"similarity.ssjoin.{stage}"] = int(report.get(stage, 0))
        return out, counts


def _row_set(pdf: pd.DataFrame) -> set:
    return set(pdf.itertuples(index=False, name=None))


WORKLOADS = {w.name: w for w in (DedupFull, SimilarityJoins)}
