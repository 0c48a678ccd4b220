"""The flagship dedup pipeline: Stage A → B → C → D with checkpoints.

Dataflow reframing of the reference cascade
(/root/reference/app/api/app.py:307-380, traced in SURVEY.md §3.1):

  corpus ─ sha256 ─► Stage A exact groups ──► star edges ───────────┐
              │ (survivors: 1 rep / sha — the P8 short-circuit)     │
              ▼                                                     │
         signatures (one Arrow pass: MinHash/SimHash/winnow)        │
              ├─► Stage B: LSH bands → candidates → verify ─────────┤
              └─► Stage C: winnow fingerprints → containment ───────┤
                                                                    ▼
                              union → canonicalize → connected components
                                                                    │
                              clusters (key → cluster_rep) ◄────────┘

Stage gating: Stage B/C run on sha-survivors only — exact copies never
reach the expensive stages (the reference's cache-hit short-circuit,
app.py:340-347). Confirmed pairs from B are NOT excluded from C's input
corpus (C is cheap after bucket caps and catches containments between
already-B-matched files' clusters too); the B/C union is deduplicated
with a first-stage-wins window (SURVEY.md A2).

Every stage output is an idempotent checkpoint commit; re-running the
same (run_id, config) skips completed stages (north_rule resumability).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from autovalidate_backend_api_spark.config import PINNED, PipelineConfig
from autovalidate_backend_api_spark.functions.signatures import (
    file_key_col,
    sha256_col,
    with_signatures,
)
from autovalidate_backend_api_spark.operators import stage_a_exact as A
from autovalidate_backend_api_spark.operators import stage_b_lsh as B
from autovalidate_backend_api_spark.operators import stage_c_substring as C
from autovalidate_backend_api_spark.operators.connected_components import (
    connected_components,
)
from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager


@dataclass
class PipelineResult:
    clusters: DataFrame          # key, cluster_rep
    confirmed_pairs: DataFrame   # src, dst, jaccard, hamming, stage
    metrics: list[dict]


def _dedup_pairs(pairs: DataFrame) -> DataFrame:
    """Canonical (src<dst) + first-stage-wins dedup (A2 window form)."""
    canon = pairs.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "jaccard",
        "hamming",
        "stage",
    )
    w = Window.partitionBy("src", "dst").orderBy(
        # sha > minhash > simhash > substring priority, then best score
        F.when(F.col("stage") == "sha", 0)
        .when(F.col("stage") == "minhash", 1)
        .when(F.col("stage") == "simhash", 2)
        .otherwise(3),
        F.desc("jaccard"),
    )
    return (
        canon.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_pipeline(
    spark: SparkSession,
    corpus: DataFrame,
    checkpoint_dir: str | None,
    run_id: str = "run0",
    cfg: PipelineConfig = PINNED,
    verbose: bool = True,
) -> PipelineResult:
    """checkpoint_dir=None disables durable checkpoints (bench mode):
    same dataflow, no resumability. Each stage output is then a
    lineage-free LOCAL checkpoint (``localCheckpoint``, materialized by
    the stage's one row-count job), so every later stage plans over a
    leaf — as it does over the parquet checkpoints — instead of over the
    whole cascade's lineage. Storage contract of this mode: checkpoint
    blocks are freed when the returned frames are garbage-collected,
    NOT by ``spark.catalog.clearCache()``; a lost executor loses them
    for good (a local checkpoint cannot recompute), so runs that must
    survive executor loss pass ``checkpoint_dir``. verbose=False skips
    the dropped-bucket count actions (two extra Spark jobs) for
    benchmarking.

    Stages materialize SEQUENTIALLY — deliberate, measured (r4): driver-
    thread concurrency for the independent branches (keymap ∥ Stage-A
    aggs; Stage B ∥ Stage C over the materialized signature table) was
    implemented and benchmarked at 147k files / local[8]: B and C each
    stretched from 11.5+8.0 s sequential to ~20 s running concurrently
    (wall saved ≈ 0; whole-pipeline A/B same-session: 47.3-49.7 s
    sequential vs 52.6-64.4 s concurrent). On this single-substrate
    host the shuffle-bound stages keep the machine saturated — two jobs
    just time-slice and thrash spill locality. On a REAL cluster with
    network waits and per-executor disks, scheduler-level overlap of
    independent stages is still the right expectation; revisit there
    (scheduler pools), not here."""
    metrics: list[dict] = []

    def timed(stage: str, fn):
        t0 = time.monotonic()
        out = fn()
        metrics.append(
            {"run_id": run_id, "stage": stage,
             "wall_ms": int((time.monotonic() - t0) * 1000)}
        )
        return out

    if checkpoint_dir is None:
        class _Ephemeral:
            rows: dict = {}

            def get_or_compute(self, stage, compute):
                # eager=False: the count below both fills the checkpoint
                # and cuts the lineage in one job; it is kept so that
                # downstream dispatch never re-counts
                df = compute().localCheckpoint(eager=False)
                self.rows[stage] = df.count()
                return df

            def rows_of(self, stage):
                return self.rows.get(stage)

        ckpt = _Ephemeral()
    else:
        ckpt = CheckpointManager(spark, checkpoint_dir, run_id, cfg.config_hash())

    # ---- surrogate ids ---------------------------------------------------
    # All internal shuffles (LSH buckets, pair tables, CC iterations) run
    # on 8-byte xxhash64 ids instead of ~70-byte string keys — shuffle
    # bytes are the non-scaling cost in this pipeline. String keys are
    # joined back once at the end; the cluster representative stays the
    # LEXICOGRAPHIC-MIN KEY (reference semantics), not the min id.
    # Collision safety: verified per run below (birthday bound at 64 bits
    # is ~3e-12 per pair at 49k files; at true 10^12-file scale swap in a
    # 128-bit id = struct(xxhash64(key, seed1), xxhash64(key, seed2))).
    keyed = corpus.select(
        file_key_col().alias("key_str"),
        sha256_col(F.col("content")).alias("sha"),
        "content",
    )
    hashed = keyed.select(
        F.xxhash64("key_str").alias("key"), "sha", "content"
    )
    # coalesce (narrow, no shuffle): the keymap is probed by several
    # SMALL downstream jobs (the duplicate/collision check aggregation,
    # two broadcast-join translations, the singleton anti-join) — cached
    # at the provider's input partitioning (128 at bench) every probe
    # pays a full wave of near-empty tasks (measured 1.76 s for one agg
    # over 49k cached rows; ~0.4 s at shuffle_partitions). The count is
    # the parameterized cfg knob, not a core-count constant.
    keymap = timed(
        "keymap",
        lambda: ckpt.get_or_compute(
            "keymap",
            lambda: keyed.select(
                F.xxhash64("key_str").alias("id"), "key_str"
            ).coalesce(cfg.shuffle_partitions),
        ),
    )
    # ONE sha256 pass over the corpus serves all of Stage A: the slim
    # (key, sha) projection is persisted (8-byte id + 64-char hex per
    # row — MBs at bench scale, and the same shape a production run
    # would checkpoint), the salted reps aggregation runs over it once,
    # and both the pair stage and the survivor stage consume the shared
    # ``reps`` frame (r6: previously exact_pairs and survivor_keys each
    # recomputed exact_reps — three sha256 corpus scans per run).
    key_sha = hashed.select("key", "sha").persist()
    reps = A.exact_reps(key_sha).persist()
    sha_pairs = timed(
        "stage_a_pairs",
        lambda: ckpt.get_or_compute(
            "stage_a_pairs", lambda: A.exact_pairs(key_sha, reps=reps)
        ),
    )
    # survivor selection is content-free (key, sha only): content joins
    # back via a semi-join on key inside the signature stage, so document
    # bytes flow through exactly ONE exchange (the repartition-by-key
    # below) instead of sha-shuffle + key-shuffle
    survivors = timed(
        "stage_a_survivors",
        lambda: ckpt.get_or_compute(
            "stage_a_survivors", lambda: A.survivor_keys(reps=reps)
        ),
    )

    # ---- signatures: one Arrow pass over sha-survivors ------------------
    # hash-partitioned by key, BEFORE the signature UDF (r6): the
    # exchange then carries (key, content) — ~1 KB/row — instead of the
    # post-UDF rows with shingle/band/winnow arrays (~3.5 KB/row), a 3×
    # shuffle-byte cut on the one content-bearing exchange of the
    # pipeline. The planner does not see this partitioning downstream:
    # AQE reports a local checkpoint's as unknown, and a persist() would
    # hide it too (canChangeCachedPlanOutputPartitioning). The four verify
    # joins (Stage B src/dst, Stage C phase-1 + phase-2) rely on AQE
    # broadcasting their pair side, which adds no Exchange over this
    # table; a sort-merge verify join at scale re-exchanges it either way
    # (checked with autoBroadcastJoinThreshold=-1). On Iceberg, bucket
    # the table by key.
    sigs = timed(
        "signatures",
        lambda: ckpt.get_or_compute(
            "signatures",
            lambda: with_signatures(
                hashed.join(survivors.select("key"), "key", "left_semi")
                .repartition(cfg.shuffle_partitions, "key"),
                cfg,
                include_winnow=True,
            )
            .select(
                "key", "norm", "shingles", "bands_tok", "bands_chr",
                "n_shingles", "simhash", "winnow",
            ),
        ),
    )

    # ---- Stage B: LSH candidates + verify --------------------------------
    def _stage_b():
        cands, dropped = B.candidate_pairs(sigs, cfg)
        if verbose:
            n_dropped = dropped.count()
            if n_dropped:
                # logged drop (SURVEY.md §4 skew row): hot boilerplate buckets
                print(f"[stage_b] dropped {n_dropped} oversized band buckets")
        return B.verify_pairs(cands, sigs, cfg)

    b_pairs = timed(
        "stage_b_pairs", lambda: ckpt.get_or_compute("stage_b_pairs", _stage_b)
    )

    # ---- Stage C: containment on survivors -------------------------------
    def _stage_c():
        cands, dropped = C.fingerprint_candidates(sigs, cfg)
        if verbose:
            n_dropped = dropped.count()
            if n_dropped:
                print(f"[stage_c] dropped {n_dropped} oversized fingerprint buckets")
        return C.verify_containment(cands, sigs, cfg)

    c_pairs = timed(
        "stage_c_pairs", lambda: ckpt.get_or_compute("stage_c_pairs", _stage_c)
    )

    # ---- union + dedup + connected components ---------------------------
    def _confirmed():
        all_pairs = (
            sha_pairs.select("src", "dst", F.col("score").alias("jaccard"),
                             F.lit(0).alias("hamming"), "stage")
            .unionByName(b_pairs)
            .unionByName(c_pairs)
        )
        return _dedup_pairs(all_pairs)

    confirmed = timed(
        "confirmed_pairs",
        lambda: ckpt.get_or_compute("confirmed_pairs", _confirmed),
    )

    def _clusters():
        # One aggregation distinguishes duplicate-input keys from genuine
        # xxhash64 collisions (a corpus with repeated (repo,path,commit)
        # rows is an input error, not a hash failure).
        chk = keymap.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("key_str").alias("n_keys"),
            F.countDistinct("id").alias("n_ids"),
        ).collect()[0]
        if chk["n_keys"] != chk["n_rows"]:
            raise RuntimeError(
                f"duplicate corpus keys ({chk['n_rows'] - chk['n_keys']}): "
                "(repo, path, commit) must be unique per corpus row"
            )
        if chk["n_ids"] != chk["n_keys"]:
            raise RuntimeError(
                f"xxhash64 key collision ({chk['n_keys'] - chk['n_ids']}): "
                "switch to the 128-bit id documented above"
            )
        # the materialization already counted confirmed_pairs (ephemeral
        # count / parquet manifest) — re-counting would be one more
        # driver-synchronized job for a number we have
        n_edges = ckpt.rows_of("confirmed_pairs")
        if n_edges is None:
            n_edges = confirmed.count()
        if cfg.cc_driver_max_edges > 0 and n_edges <= cfg.cc_driver_max_edges:
            # small-edge-set fast path (the overwhelmingly common case —
            # dup pairs ≪ corpus): solve CC with driver union-find and
            # translate ids → keys with BROADCAST map-side joins over the
            # materialized keymap. Only edge-TOUCHED vertices (≤ 2·edges)
            # enter any join; every untouched file is its own
            # representative by identity — no wide shuffle of the full
            # 147k/10^12-row label table just to translate singletons.
            from autovalidate_backend_api_spark.operators.connected_components import (
                union_find_labels,
            )

            # Arrow collect: two flat int64 columns, not 2M Row objects
            # (ADVICE r3 — the row-collect path was the real memory cost
            # behind cc_driver_max_edges, not the "~32 MB of longs")
            _edges_pd = confirmed.select("src", "dst").toPandas()
            labeled = union_find_labels(
                list(zip(_edges_pd["src"].tolist(), _edges_pd["dst"].tolist()))
            )
            if not labeled:
                return keymap.select(
                    F.col("key_str").alias("key"),
                    F.col("key_str").alias("cluster_rep"),
                )
            # from pandas through Arrow: a LocalTableScan, where a Python
            # list would be a PythonRDD paying a Python worker per scan
            t_labels = spark.createDataFrame(
                pd.DataFrame(labeled, columns=["id", "comp"]), "id bigint, comp bigint"
            )
            # broadcast only while the label table is actually small:
            # near the 2M-edge dispatch cap it can reach ~4M rows
            # (~64 MB serialized) — force-broadcasting that overrides
            # autoBroadcastJoinThreshold and serializes through the
            # driver (ADVICE r3). Past the bound, plain joins + AQE.
            _bc = F.broadcast if len(labeled) <= 500_000 else (lambda df: df)
            with_keys = keymap.join(_bc(t_labels), "id").select(
                "key_str", "comp"
            )
            reps = with_keys.groupBy("comp").agg(F.min("key_str").alias("rep_key"))
            multi = with_keys.join(_bc(reps), "comp").select(
                F.col("key_str").alias("key"), F.col("rep_key").alias("cluster_rep")
            )
            singles = keymap.join(
                _bc(t_labels.select("id")), "id", "left_anti"
            ).select(
                F.col("key_str").alias("key"), F.col("key_str").alias("cluster_rep")
            )
            return multi.unionByName(singles)
        vertices = hashed.select("key").distinct()
        # star fallback: an unattended 10^12-file backfill must not die
        # on one deep containment chain — large-star/small-star finishes
        # any diameter in O(log n) rounds
        labels = connected_components(vertices, confirmed, cfg, on_exhaustion="star")
        # translate ids → keys; representative = min key per component
        with_keys = labels.join(
            keymap, labels.key == keymap.id, "inner"
        ).select("key_str", F.col("cluster_rep").alias("comp"))
        reps = with_keys.groupBy("comp").agg(F.min("key_str").alias("rep_key"))
        return with_keys.join(reps, "comp").select(
            F.col("key_str").alias("key"), F.col("rep_key").alias("cluster_rep")
        )

    clusters = timed(
        "clusters", lambda: ckpt.get_or_compute("clusters", _clusters)
    )

    return PipelineResult(clusters=clusters, confirmed_pairs=confirmed, metrics=metrics)
