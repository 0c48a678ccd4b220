"""Stage A — exact-duplicate grouping via sha256(content).

The batch reframing of the reference's Redis exact typo lookup
(/root/reference/app/api/core/db_lookup.py:24-50): a hash-key lookup
becomes a hash aggregation on the digest, and the "hit short-circuits
the cascade" behavior (app.py:340-347) becomes dataflow — only one
representative per sha group continues to the (much more expensive)
signature stages.

Skew: sha256 of DISTINCT contents is uniform, but identical contents
all share one digest — at web scale a single pathological content
(empty file, license stub) can have 10^9 copies, which would pin one
task under a window/unsalted-aggregate formulation. Representative
selection therefore runs as a SALTED two-phase aggregation
(min per (sha, salt) → min per sha; both phases map-side combinable),
and group membership is recovered with an equi-join on sha — every
operator here handles a degenerate sha group with bounded task state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_BUCKETS = 16


def exact_reps(hashed: DataFrame, salt_buckets: int = SALT_BUCKETS) -> DataFrame:
    """sha → (rep_key = min key, n = group size), salted two-phase.

    Input needs columns (key, sha).
    """
    salt = (F.xxhash64("key") % salt_buckets).alias("_salt")
    partial = hashed.groupBy("sha", salt).agg(
        F.min("key").alias("_pmin"), F.count("*").alias("_pn")
    )
    return partial.groupBy("sha").agg(
        F.min("_pmin").alias("rep_key"), F.sum("_pn").alias("n")
    )


def exact_pairs(hashed: DataFrame, reps: DataFrame | None = None) -> DataFrame:
    """Star edges (rep_key → member) for every sha group with n > 1.

    Emitting member↔representative (not all O(n²) member pairs) keeps
    the edge count linear in group size; connected components restores
    the full cluster. Columns: src, dst, stage, score.

    ``reps`` lets a caller that also needs ``survivor_keys`` pass ONE
    shared ``exact_reps`` frame (persist it) instead of paying the
    sha-aggregation pass twice — the pipeline does (r6: Stage A ran the
    full sha256 scan + two-phase agg once for the pair stage and again
    for the survivor stage; sharing the reps frame removes a whole
    corpus pass).
    """
    reps = (reps if reps is not None else exact_reps(hashed)).filter(F.col("n") > 1)
    return (
        hashed.join(reps, "sha")
        .filter(F.col("key") != F.col("rep_key"))
        .select(
            F.col("rep_key").alias("src"),
            F.col("key").alias("dst"),
            F.lit("sha").alias("stage"),
            F.lit(1.0).alias("score"),
        )
    )


def survivor_keys(
    hashed: DataFrame | None = None, reps: DataFrame | None = None
) -> DataFrame:
    """(key, sha) of the representative row per distinct sha — CONTENT-FREE.

    The salted two-phase aggregation already yields the min key per sha,
    so the survivor set needs no join at all — and, critically, no
    shuffle of the fat ``content`` column (the r2 shape shuffled every
    surviving document's bytes by sha here, then AGAIN by key for the
    signature stage; content now flows through exactly one exchange, the
    signature stage's repartition-by-key). Callers recover content with
    a semi-join against the already-cached corpus on ``key``.

    ``reps`` (a shared ``exact_reps`` frame) turns this into a pure
    projection — see ``exact_pairs``.
    """
    if reps is None:
        reps = exact_reps(hashed)
    return reps.select(F.col("rep_key").alias("key"), "sha")


def survivors(hashed: DataFrame) -> DataFrame:
    """One representative row per distinct sha (the cascade gate P8).

    min(key)-per-sha keeps the choice deterministic under any input
    order — never rely on dropDuplicates' arbitrary pick (SURVEY.md A2).
    """
    reps = exact_reps(hashed).select("sha", "rep_key")
    return (
        hashed.join(reps, "sha")
        .filter(F.col("key") == F.col("rep_key"))
        .drop("rep_key")
    )
