"""SparkSession builder tuned for this engine.

Local-mode defaults follow the sandbox (local[32], 128 GiB); on a real
cluster the same conf keys apply, sized per executor. AQE is always on —
it handles skewed LSH band-hash joins at runtime (skew-join splitting)
on top of our explicit salting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "autovalidate_backend_api_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    cores = master[6:-1] if master.startswith("local[") else "32"
    try:
        n_cores = int(cores) if cores != "*" else (os.cpu_count() or 8)
    except ValueError:
        n_cores = 32
    # partition count tracks DATA, not cores: too few partitions makes
    # per-partition join/agg state exceed task memory (hash builds,
    # collect_list buckets); AQE coalesces excess small partitions for
    # free, so err high even at low core counts.
    shuffle_partitions = shuffle_partitions or max(4 * n_cores, 64)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Cached relations freeze their shuffle partitioning BEFORE AQE
        # coalescing by default (canChangeCachedPlanOutputPartitioning is
        # false) — every persist() of a grouped/joined frame pins
        # shuffle_partitions tiny partitions, and each downstream agg over
        # the cache pays a full wave of near-empty tasks (measured on a
        # 497k-row cached token-count table: groupBy 2.9 s at 128 frozen
        # partitions vs 0.2-0.5 s AQE-coalesced to 5). The flag lets AQE
        # size cached output by bytes — scale-adaptive at any corpus size;
        # explicit repartition(N, key) calls keep their N (user-specified
        # partitioning is never coalesced), so the pipeline's
        # partitioning-reuse joins are unaffected.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # InferFiltersFromGenerate copies a Generate's child expression
        # into a `size(e) > 0 AND e IS NOT NULL` Filter below it. For a
        # STORED array column that filter is a cheap attribute probe,
        # but every generator input in this engine is DERIVED in the
        # same stage (shingles, spans, band arrays, dep lists — built
        # by normalize/split/transform/md5 chains), so the rule (a)
        # evaluates the whole chain twice per row and (b) inflates the
        # stage's codegen with a duplicated giant expression. Generate
        # itself already emits nothing for empty arrays — the inferred
        # filter changes no results, only re-derives them. Measured
        # (sf0.1, same window, min-of-3): extract_imports 2.93→0.91 s,
        # duplicate_spans_removed 3.99→1.59, corpus_duplicate_spans
        # 2.45→1.29, incremental_duplicate_spans 5.13→3.43, dsir
        # 1.91→1.45, curation_report 1.81→1.47; controls (ams, minhash,
        # token_sort) unchanged-or-better. Scale-independent: the
        # duplicated work grows with the corpus.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
