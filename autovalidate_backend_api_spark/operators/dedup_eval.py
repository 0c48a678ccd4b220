"""Dedup-quality evaluation: LSH recall/precision as a first-class operator.

The north rule's acceptance bar is "dup-pair recall >= 0.99" at a given
signature config. At 10^12 files you cannot eyeball that — the recall
MEASUREMENT itself must be a distributed operator a curation run executes
next to the pipeline: compute the exact-duplicate truth set (at small
calibration scale, or over a labeled sample at corpus scale), run the
candidate generator at each banding config under evaluation, and report
per-config recall / candidate precision. The reference hand-tunes its
fuzzy threshold against 50 stored eval cases
(/root/reference/evals/fuzzy_threshold_evals.ipynb); this is that
calibration loop as a batch operator over a corpus.

Everything is DETERMINISTIC (md5 hash family, the same convention as
operators/sketches.py) and exact-integer up to single final divisions,
so the recall/precision NUMBERS are oracle-checked by DuckDB replaying
the identical MinHash + banding arithmetic — the gate certifies the
measurement, not just the plumbing.

Scale contract:
- the truth side is the exact inverted-index similarity join — the
  calibration-corpus path (a labeled sample at 100 TB), Θ(postings²
  per shingle), never a cross join;
- the signature side is one combinable groupBy(doc).agg(16 mins);
  candidates per config are band-key equi-joins, the same shape as
  stage_b_lsh at full scale;
- per-config reductions are single-row aggregates; the only driver
  value is the bounded n_truth scalar (one BIGINT, same dispensation
  as pagerank's node count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# band configs under evaluation: (n_bands, rows_per_band); n_bands *
# rows_per_band = N_PERM for each. b4r4 is precision-leaning (P[detect]
# = 1-(1-j^4)^4), b8r2 recall-leaning (1-(1-j^2)^8) — at j = 0.6 those
# are ~0.42 vs ~0.96, so a truth set with borderline mass separates
# the configs and the reported recalls are genuinely informative.
N_PERM = 16
CONFIGS = ((4, 4), (8, 2))


def _hex48(col: Column, start: int) -> Column:
    return F.conv(F.substring(col, start, 12), 16, 10).cast("bigint")


def exact_pairs(
    shingles: DataFrame, *, max_docs_per_shingle: int | None = None
) -> DataFrame:
    """(src, dst, ni, na, nb) for every doc pair sharing >= 1 shingle.

    ``shingles`` is a DISTINCT (doc_id, s) table. Inverted-index join:
    lossless for jaccard > 0, so thresholded truth sets derived from it
    are exact. Integer columns only — thresholding is done by the
    caller via cross-multiplication, never a float compare.

    ``max_docs_per_shingle`` is the hot-shingle guard (VERDICT r5 #4):
    the self-join is quadratic in a shingle's posting-list length, so a
    boilerplate shingle present in k docs expands to k² rows. With the
    cap, shingles whose document frequency exceeds it are DROPPED from
    the index (same spec as ``repo_file_overlap_pairs``'s
    ``max_repos_per_hash``: pair expansion is bounded by cap², and the
    drop is part of the operator's contract — pairs that share ONLY
    boilerplate shingles are not emitted, and their intersection counts
    exclude dropped shingles). The per-doc sizes ``na``/``nb`` are
    computed over the same capped index, so a caller's jaccard
    ``ni / (na + nb - ni)`` changes in numerator AND denominator, as in
    ``repo_file_overlap_pairs``. ``None`` (the default, used by every
    eval/calibration gate) keeps the join exact: eval corpora are
    sample-sized by design. Set it when pointing this at a full corpus.
    """
    if max_docs_per_shingle is not None:
        # window count per shingle, not an agg + anti-join: one exchange
        # on s that the pair self-join below reuses (the
        # repo_file_overlap_pairs cap pattern, including its
        # literal-derived-key nested-loop rationale)
        w_s = Window.partitionBy("s")
        shingles = (
            shingles.withColumn("_nd", F.count("*").over(w_s))
            .filter(F.col("_nd") <= max_docs_per_shingle)
            .drop("_nd")
        )
    cnt = shingles.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        shingles.alias("a")
        .join(shingles.alias("b"), "s")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter.join(
            cnt.withColumnRenamed("doc_id", "src").withColumnRenamed("n", "na"),
            "src",
        )
        .join(
            cnt.withColumnRenamed("doc_id", "dst").withColumnRenamed("n", "nb"),
            "dst",
        )
    )


def minhash_sigs(shingles: DataFrame, *, n_perm: int = N_PERM) -> DataFrame:
    """Per-doc MinHash signature as ``n_perm`` 48-bit integer columns
    m0..m{n-1} (md5 hash family ``mh{p}:`` — deterministic, so DuckDB
    reproduces every component). One map-side-combinable aggregation;
    the exchange carries doc-keyed signature rows only."""
    mins = [
        F.min(_hex48(F.md5(F.concat(F.lit(f"mh{p}:"), F.col("s"))), 1)).alias(f"m{p}")
        for p in range(n_perm)
    ]
    return shingles.groupBy("doc_id").agg(*mins)


def _band_keys(label: str, bands: int, rows: int) -> Column:
    keys = []
    for b in range(bands):
        cols = [F.col(f"m{b * rows + j}").cast("string") for j in range(rows)]
        keys.append(
            F.md5(F.concat_ws(":", F.lit(label), F.lit(str(b)), *cols))
        )
    return F.array(*keys)


def ann_recall_report(emb: DataFrame, queries: DataFrame, *, k: int = 5) -> DataFrame:
    """recall@k of every approximate vector-search path against the
    exact brute-force top-k — the vector-side sibling of
    :func:`lsh_recall_report`. One row per method:

    ``method, k, n_exact_pairs, n_hits, recall_at_k``

    where n_hits = |approx top-k ∩ exact top-k| over all queries and
    recall = hits / exact (one IEEE division of exact BIGINTs, rounded
    at 6). Methods: sign-LSH multiprobe (``ann_lsh_topk``), IVF-flat
    with the sampled codebook (``ivf_topk``), and PQ/ADC ranking
    (``pq_adc_topk`` — quantization error costs recall; this report is
    where that tradeoff becomes a measured number instead of a hope).

    All three paths and the brute force are deterministic, so the
    DuckDB oracle replays the full four-way computation and the
    RECALLS are value-hash-checked. At corpus scale the brute-force
    side runs over a labeled query sample, exactly like the text-side
    calibration; everything downstream of the top-k sets is k·|Q|-sized.
    """
    from autovalidate_backend_api_spark.operators.similarity import (
        ann_lsh_topk,
        cosine_topk_bruteforce,
        ivf_topk,
        pq_adc_topk,
    )

    exact = cosine_topk_bruteforce(emb, queries, k).select("qid", "nid").persist()
    n_exact = exact.count()  # bounded scalar: one BIGINT to the driver
    methods = (
        ("sign_lsh", ann_lsh_topk(emb, queries, k)),
        ("ivf_flat", ivf_topk(emb, queries, k, n_centroids=32, n_probe=4)),
        ("pq_adc", pq_adc_topk(emb, queries, k)),
    )
    out = None
    for name, df in methods:
        row = (
            df.select("qid", "nid")
            .join(exact, ["qid", "nid"], "left_semi")
            .agg(F.count("*").cast("bigint").alias("n_hits"))
            .select(
                F.lit(name).alias("method"),
                F.lit(k).alias("k"),
                F.lit(n_exact).cast("bigint").alias("n_exact_pairs"),
                "n_hits",
                (
                    F.lit(0.0)
                    if n_exact == 0
                    else F.round(
                        F.col("n_hits").cast("double") / F.lit(float(n_exact)), 6
                    )
                ).alias("recall_at_k"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


BBIT_B = 8                    # low bits kept per component
BBIT_MIN_MATCHES = 4          # emit pairs with >= 4/16 full-component hits


def bbit_minhash_pairs(
    shingles: DataFrame,
    *,
    b: int = BBIT_B,
    min_matches: int = BBIT_MIN_MATCHES,
    n_perm: int = N_PERM,
) -> DataFrame:
    """b-bit minwise hashing (Li & König, WWW'10): keep only the low
    ``b`` bits of each MinHash component — a 6× signature-storage cut
    at b=8/48-bit components, THE lever when 10^12 signatures must stay
    on fast storage — and report, per candidate pair, the full-width
    estimate next to the debiased b-bit estimate:

        est_bbit = (frac_collisions − C) / (1 − C),  C = 2^−b

    (random low-bit collisions happen at rate C even for unrelated
    sets; the published estimator removes that bias). frac = k/16 and C
    are exact dyadic doubles, their difference is exact, and the final
    division is one IEEE rounding — so the DuckDB oracle reproduces the
    ESTIMATES bit-for-bit and the gate certifies the estimator, not
    just the plumbing.

    Candidates come from the full-component equi-join (share >= 1 of
    n_perm component VALUES — lossless for any ``min_matches`` >= 1,
    so the brute-force oracle's >= min_matches filter selects the
    identical pair set); match counts are then recomputed componentwise
    from the two signature rows (merge-join width, no re-shuffle of the
    component table).
    """
    sigs = minhash_sigs(shingles, n_perm=n_perm).persist()
    comp = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"), F.col(f"m{i}").alias("m")
                    )
                    for i in range(n_perm)
                ]
            )
        ).alias("c"),
    ).select("doc_id", F.col("c.i").alias("i"), F.col("c.m").alias("m"))
    cand = (
        comp.alias("x")
        .join(comp.alias("y"), ["i", "m"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("src"), F.col("y.doc_id").alias("dst"))
        .distinct()
    )
    sa = sigs.select(
        F.col("doc_id").alias("src"),
        *[F.col(f"m{i}").alias(f"ma{i}") for i in range(n_perm)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("dst"),
        *[F.col(f"m{i}").alias(f"mb{i}") for i in range(n_perm)],
    )
    mask = (1 << b) - 1
    full = sum(
        F.when(F.col(f"ma{i}") == F.col(f"mb{i}"), 1).otherwise(0)
        for i in range(n_perm)
    )
    bbit = sum(
        F.when(
            F.expr(f"(ma{i} & {mask}) = (mb{i} & {mask})"), 1
        ).otherwise(0)
        for i in range(n_perm)
    )
    c_bias = 2.0 ** (-b)
    return (
        cand.join(sa, "src")
        .join(sb, "dst")
        .select(
            "src",
            "dst",
            full.cast("bigint").alias("full_matches"),
            bbit.cast("bigint").alias("bbit_matches"),
        )
        .filter(F.col("full_matches") >= min_matches)
        .select(
            "src",
            "dst",
            "full_matches",
            "bbit_matches",
            F.round(
                F.col("full_matches").cast("double") / F.lit(float(n_perm)), 6
            ).alias("est_full"),
            F.round(
                (
                    F.col("bbit_matches").cast("double") / F.lit(float(n_perm))
                    - F.lit(c_bias)
                )
                / F.lit(1.0 - c_bias),
                6,
            ).alias("est_bbit"),
        )
    )


SIMHASH_BITS = 48
SIMHASH_CHUNKS = 4          # 4 x 12-bit chunks
_CHUNK_W = SIMHASH_BITS // SIMHASH_CHUNKS
HAM_MAX = SIMHASH_CHUNKS - 1  # pigeonhole: <= chunks-1 flips can't miss all chunks


def simhash48(shingles: DataFrame) -> DataFrame:
    """Per-doc 48-bit SimHash from the md5 hash family — the
    ORACLE-REPRODUCIBLE simhash (the production OPH/SimHash signatures
    live in functions/hashing.py behind an Arrow UDF; this one is pure
    relational algebra so DuckDB replays the VALUE, not just the
    determinism invariant that `simhash_selfcheck` pins).

    bit_j = 1 iff sum over distinct shingles of sign_j(md5(s)) > 0
    (sign = +1 when hash bit j set, else -1; ties -> 0). The per-bit
    sums are 48 map-side-combinable agg COLUMNS (not a 48x explode):
    the exchange carries one doc-width row per doc per partition,
    Θ(|docs|) however large the shingle table.
    """
    h = _hex48(F.md5(F.col("s")), 1)
    hh = shingles.select("doc_id", h.alias("h"))
    sums = [
        F.sum(
            F.expr(f"CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END")
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    agg = hh.groupBy("doc_id").agg(*sums)
    sig = None
    for j in range(SIMHASH_BITS):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(
            F.lit(0).cast("bigint")
        )
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("sig"))


def simhash_hamming_pairs(
    shingles: DataFrame, *, ham_max: int = HAM_MAX
) -> DataFrame:
    """All pairs with SimHash Hamming distance <= ``ham_max`` — LOSSLESS
    by pigeonhole: the 48-bit signature splits into ``SIMHASH_CHUNKS``
    12-bit chunks, and a pair differing in <= chunks-1 bits must agree
    on at least one whole chunk, so the chunk equi-join finds every
    qualifying pair (this is how SimHash dedup stays exact at corpus
    scale — Manku et al., WWW'07, the Google near-dup crawler design).
    Candidates are verified with one bit_count(xor) — native JVM ops.

    Scale: the chunk join is the only exchange beyond the signature
    agg; hot chunks (a common bit pattern) are the skew surface — at
    10^12 files add the count-first hot-bucket cap exactly as
    stage_b_lsh does. Requires ``ham_max <= SIMHASH_CHUNKS - 1`` to
    keep the pigeonhole guarantee."""
    if ham_max > SIMHASH_CHUNKS - 1:
        raise ValueError("pigeonhole guarantee needs ham_max <= chunks-1")
    sigs = simhash48(shingles).persist()
    chunk_rows = []
    for c in range(SIMHASH_CHUNKS):
        chunk_rows.append(
            F.struct(
                F.lit(c).alias("c"),
                F.expr(f"(sig >> {c * _CHUNK_W}) & {(1 << _CHUNK_W) - 1}").alias(
                    "v"
                ),
            )
        )
    ct = sigs.select(
        "doc_id", F.explode(F.array(*chunk_rows)).alias("ch")
    ).select("doc_id", F.col("ch.c").alias("c"), F.col("ch.v").alias("v"))
    cand = (
        ct.alias("x")
        .join(ct.alias("y"), ["c", "v"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("src"), F.col("y.doc_id").alias("dst"))
        .distinct()
    )
    sa = sigs.select(F.col("doc_id").alias("src"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("dst"), F.col("sig").alias("sig_b"))
    return (
        cand.join(sa, "src")
        .join(sb, "dst")
        .select(
            "src",
            "dst",
            F.expr("bit_count(sig_a ^ sig_b)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= ham_max)
    )


def lsh_recall_report(
    shingles: DataFrame,
    *,
    theta_num: int = 3,
    theta_den: int = 5,
    n_perm: int = N_PERM,
    configs: tuple[tuple[int, int], ...] = CONFIGS,
) -> DataFrame:
    """Per-banding-config recall/precision report against the exact
    truth set ``jaccard >= theta_num/theta_den`` (integer
    cross-multiplied — no float threshold compare).

    Returns one row per config:
    ``config, n_bands, rows_per_band, n_truth_pairs, n_candidate_pairs,
    n_detected_pairs, recall, candidate_precision`` where detected = candidate
    pairs that are true pairs (the exact-verify stage downstream of
    candidate generation keeps exactly these). recall and precision are
    single IEEE divisions of exactly representable BIGINTs, rounded at
    6 per the house float-oracle contract.
    """
    sh = shingles.persist()
    pairs = exact_pairs(sh)
    is_dup = (
        F.col("ni") * theta_den >= theta_num * (F.col("na") + F.col("nb") - F.col("ni"))
    )
    truth = pairs.select("src", "dst", is_dup.alias("is_dup")).filter("is_dup").persist()
    n_truth = truth.count()  # bounded scalar: one BIGINT to the driver
    sigs = minhash_sigs(sh, n_perm=n_perm).persist()

    out = None
    for bands, rows in configs:
        label = f"b{bands}r{rows}"
        bt = sigs.select(
            "doc_id", F.explode(_band_keys(label, bands, rows)).alias("bk")
        )
        cand = (
            bt.alias("x")
            .join(bt.alias("y"), "bk")
            .filter(F.col("x.doc_id") < F.col("y.doc_id"))
            .select(
                F.col("x.doc_id").alias("src"), F.col("y.doc_id").alias("dst")
            )
            .distinct()
        )
        row = (
            cand.join(truth, ["src", "dst"], "left")
            .agg(
                F.count("*").cast("bigint").alias("n_candidate_pairs"),
                F.coalesce(
                    F.sum(F.coalesce(F.col("is_dup").cast("int"), F.lit(0))),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_detected_pairs"),
            )
            .select(
                F.lit(label).alias("config"),
                F.lit(bands).alias("n_bands"),
                F.lit(rows).alias("rows_per_band"),
                F.lit(n_truth).cast("bigint").alias("n_truth_pairs"),
                "n_candidate_pairs",
                "n_detected_pairs",
                (
                    F.lit(0.0)
                    if n_truth == 0
                    else F.round(
                        F.col("n_detected_pairs").cast("double")
                        / F.lit(float(n_truth)),
                        6,
                    )
                ).alias("recall"),
                F.round(
                    F.when(
                        F.col("n_candidate_pairs") > 0,
                        F.col("n_detected_pairs").cast("double")
                        / F.col("n_candidate_pairs").cast("double"),
                    ).otherwise(F.lit(0.0)),
                    6,
                ).alias("candidate_precision"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def snm_recall_report(
    shingles: DataFrame,
    *,
    theta_num: int = 3,
    theta_den: int = 5,
    window: int = 16,
) -> DataFrame:
    """Sorted-neighborhood blocking measured against the SAME exact
    truth set as :func:`lsh_recall_report` — the calibration row that
    justifies LSH as the primary candidate generator.

    SNM here sorts the corpus by its cheapest key (distinct-shingle
    count, the length proxy) and admits pairs within ``window-1`` rank
    positions (operators/blocking.py, single block: the report
    quantifies the strategy itself, not a block partitioning). Near-
    dups have correlated lengths, so SNM recovers a fraction of the
    truth set at O(n·w) candidates — but unlike LSH its recall has no
    per-pair similarity guarantee, which is the number this report
    puts next to the banding configs.

    One row: ``config, w_size, n_truth_pairs, n_candidate_pairs,
    n_detected_pairs, recall, candidate_precision`` (same float
    discipline as lsh_recall_report: single divisions of exact BIGINTs,
    rounded at 6).
    """
    from autovalidate_backend_api_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    sh = shingles.persist()
    pairs = exact_pairs(sh)
    is_dup = (
        F.col("ni") * theta_den >= theta_num * (F.col("na") + F.col("nb") - F.col("ni"))
    )
    truth = pairs.select("src", "dst", is_dup.alias("is_dup")).filter("is_dup")
    n_truth = truth.count()  # bounded scalar: one BIGINT to the driver
    cnt = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    cand = (
        sorted_neighborhood_pairs(
            cnt.withColumn("blk", F.lit("all")),
            block="blk",
            sort_key="n",
            record_id="doc_id",
            window=window,
        )
        .select(
            F.least("id_a", "id_b").alias("src"),
            F.greatest("id_a", "id_b").alias("dst"),
        )
        .distinct()
    )
    return (
        cand.join(truth, ["src", "dst"], "left")
        .agg(
            F.count("*").cast("bigint").alias("n_candidate_pairs"),
            F.coalesce(
                F.sum(F.coalesce(F.col("is_dup").cast("int"), F.lit(0))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_detected_pairs"),
        )
        .select(
            F.lit(f"snm_w{window}").alias("config"),
            F.lit(window).alias("w_size"),
            F.lit(n_truth).cast("bigint").alias("n_truth_pairs"),
            "n_candidate_pairs",
            "n_detected_pairs",
            (
                F.lit(0.0)
                if n_truth == 0
                else F.round(
                    F.col("n_detected_pairs").cast("double")
                    / F.lit(float(n_truth)),
                    6,
                )
            ).alias("recall"),
            F.round(
                F.when(
                    F.col("n_candidate_pairs") > 0,
                    F.col("n_detected_pairs").cast("double")
                    / F.col("n_candidate_pairs").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("candidate_precision"),
        )
    )


def lsh_scurve_report(
    shingles: DataFrame,
    *,
    bands: int = 8,
    rows: int = 2,
    n_perm: int = N_PERM,
) -> DataFrame:
    """The empirical LSH S-curve: detection probability of the
    ``bands × rows`` banding per Jaccard DECILE — the observable behind
    the 1-(1-j^r)^b design formula. Every pair sharing ≥1 shingle
    (exact inverted-index truth, lossless for j > 0) is bucketed by
    ``(10·ni) div union`` clipped to 9, then marked detected iff any
    band key collides.

    One row per occupied decile: ``j_decile, n_pairs, n_detected,
    detect_rate`` (rate = one division of exact BIGINTs, rounded 6).
    Detection rates must RISE with the decile — pinned in tests; the
    gate value-hashes the whole curve.
    """
    sh = shingles.persist()
    pairs = exact_pairs(sh)  # (src, dst, ni, na, nb)
    bucketed = pairs.select(
        "src",
        "dst",
        F.least(
            F.expr("(10 * ni) div (na + nb - ni)").cast("bigint"), F.lit(9)
        ).alias("j_decile"),
    )
    label = f"b{bands}r{rows}"
    bt = minhash_sigs(sh, n_perm=n_perm).select(
        "doc_id", F.explode(_band_keys(label, bands, rows)).alias("bk")
    )
    cand = (
        bt.alias("x")
        .join(bt.alias("y"), "bk")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("src"), F.col("y.doc_id").alias("dst"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        bucketed.join(cand, ["src", "dst"], "left")
        .groupBy("j_decile")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias(
                "n_detected"
            ),
        )
        .withColumn(
            "detect_rate",
            F.round(
                F.col("n_detected").cast("double")
                / F.col("n_pairs").cast("double"),
                6,
            ),
        )
    )


def simhash_recall_report(
    shingles: DataFrame,
    *,
    theta_num: int = 3,
    theta_den: int = 5,
    ham_max: int = HAM_MAX,
) -> DataFrame:
    """SimHash-at-hamming-≤-h measured against the SAME exact truth set
    as :func:`lsh_recall_report` / :func:`snm_recall_report` — the
    third calibration row. The candidate set is LOSSLESS for the
    hamming radius (pigeonhole chunk join), so what this report
    measures is the GEOMETRY GAP: how much of "jaccard ≥ θ" lives
    outside "hamming ≤ h". On small docs it is most of it — one
    changed shingle in a 13-shingle doc flips ~10/48 bits (the
    documented simhash_hamming_pairs gotcha), so expect recall far
    below the banding configs. That number is the reason the flagship
    pipeline uses SimHash as a VERIFY signature, not a candidate
    generator.

    One row, same schema discipline as the sibling reports (exact
    BIGINT counts; recall/precision are single rounded divisions).
    """
    sh = shingles.persist()
    pairs = exact_pairs(sh)
    is_dup = (
        F.col("ni") * theta_den >= theta_num * (F.col("na") + F.col("nb") - F.col("ni"))
    )
    truth = pairs.select("src", "dst", is_dup.alias("is_dup")).filter("is_dup")
    n_truth = truth.count()  # bounded scalar: one BIGINT to the driver
    cand = simhash_hamming_pairs(sh, ham_max=ham_max).select("src", "dst")
    return (
        cand.join(truth, ["src", "dst"], "left")
        .agg(
            F.count("*").cast("bigint").alias("n_candidate_pairs"),
            F.coalesce(
                F.sum(F.coalesce(F.col("is_dup").cast("int"), F.lit(0))), F.lit(0)
            )
            .cast("bigint")
            .alias("n_detected_pairs"),
        )
        .select(
            F.lit(f"simhash_h{ham_max}").alias("config"),
            F.lit(ham_max).alias("ham_max"),
            F.lit(n_truth).cast("bigint").alias("n_truth_pairs"),
            "n_candidate_pairs",
            "n_detected_pairs",
            (
                F.lit(0.0)
                if n_truth == 0
                else F.round(
                    F.col("n_detected_pairs").cast("double")
                    / F.lit(float(n_truth)),
                    6,
                )
            ).alias("recall"),
            F.round(
                F.when(
                    F.col("n_candidate_pairs") > 0,
                    F.col("n_detected_pairs").cast("double")
                    / F.col("n_candidate_pairs").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("candidate_precision"),
        )
    )


def ssjoin_filter_report(
    token_rows: DataFrame,
    *,
    token_col: str = "s",
    theta_num: int = 7,
    theta_den: int = 10,
) -> DataFrame:
    """The set-similarity-join FILTER CASCADE as a measured report:
    candidate-pair counts under each of the published prefix-filter
    refinements (Chaudhuri et al. SSJoin ICDE'06; Xiao et al. PPJoin
    WWW'08), plus the exact verified-pair count and a losslessness
    check — the numbers that justify choosing a filter stack BEFORE a
    100 TB self-join shuffles its posting lists.

    Stages (set semantics over ``doc_id, token``; θ = num/den exact):

    - ``prefix``: pairs sharing ≥1 token whose per-doc position (in
      global (df asc, token asc) rarity order) lies in the Jaccard
      prefix ``n - ⌈θ·n⌉ + 1`` of BOTH docs.
    - ``prefix_length``: + the length filter ``min·den ≥ num·max``
      (a pair can't reach θ when sizes alone cap Jaccard below it).
    - ``prefix_length_positional``: + PPJoin's positional filter on
      the FIRST common prefix token (min global rank): the overlap
      upper bound ``1 + min(nx - px, ny - py)`` must reach
      ``α = ⌈num·(nx+ny)/(num+den)⌉`` — integer cross-multiplied as
      ``ubound·(num+den) ≥ num·(nx+ny)``.
    - ``verified``: exact set overlap ``o·(num+den) ≥ num·(nx+ny)``
      (⇔ Jaccard ≥ θ).
    - ``verified_missed_by_filters``: verified pairs NOT in the
      positional candidate set — the cascade is lossless, so this row
      certifies 0 live (the lsh_recall_report discipline: claims as
      measured numbers).

    All counts are exact BIGINTs; zero floats anywhere. The global
    rarity window runs over Θ(|vocab|) rows; candidate generation is
    prefix-posting equi-joins (rare tokens by construction — the
    SourcererCC argument); verification here is the full inverted-
    index join because the REPORT needs the exact baseline — the
    production join (token_bag_clone_pairs) verifies only candidates.
    """
    num, den = theta_num, theta_den
    # persisted: consumed by sz, dft, the rank join AND both sides of
    # the exact inverted-index verify — unpersisted lineage re-derived
    # the distinct token table (corpus tokenize + exchange) five times
    tc = (
        token_rows.select("doc_id", F.col(token_col).alias("tok"))
        .distinct()
        .persist()
    )
    sz = tc.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n"))
    dft = tc.groupBy("tok").agg(F.count("*").cast("bigint").alias("df"))
    rk = dft.select(
        "tok",
        F.row_number()
        .over(Window.orderBy(F.col("df").asc(), F.col("tok").asc()))
        .cast("bigint")
        .alias("trank"),
    )
    tr = tc.join(rk, "tok").join(sz, "doc_id")
    ps = tr.select(
        "doc_id",
        "tok",
        "trank",
        "n",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("trank"))
        .cast("bigint")
        .alias("p"),
    )
    plen = F.col("n") - F.expr(f"({num} * n + {den} - 1) div {den}") + 1
    pref = ps.filter(F.col("p") <= plen).select("doc_id", "tok", "trank", "p", "n")
    a, b = pref.alias("a"), pref.alias("b")
    shared = a.join(b, "tok").filter(F.col("a.doc_id") < F.col("b.doc_id"))
    cand = (
        shared.select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            F.struct(
                F.col("a.trank").alias("trank"),
                F.col("a.p").alias("px"),
                F.col("b.p").alias("py"),
            ).alias("m"),
            F.col("a.n").alias("nx"),
            F.col("b.n").alias("ny"),
        )
        .groupBy("x", "y", "nx", "ny")
        .agg(F.min("m").alias("m"))
        .persist()
    )
    lengthok = cand.filter(
        F.least("nx", "ny") * den >= num * F.greatest("nx", "ny")
    ).persist()
    ubound = F.lit(1) + F.least(
        F.col("nx") - F.col("m.px"), F.col("ny") - F.col("m.py")
    )
    positional = lengthok.filter(
        ubound * (num + den) >= num * (F.col("nx") + F.col("ny"))
    ).persist()
    ta, tb = tc.alias("ta"), tc.alias("tb")
    inter = (
        ta.join(tb, "tok")
        .filter(F.col("ta.doc_id") < F.col("tb.doc_id"))
        .groupBy(F.col("ta.doc_id").alias("x"), F.col("tb.doc_id").alias("y"))
        .agg(F.count("*").cast("bigint").alias("o"))
    )
    nx = sz.select(F.col("doc_id").alias("x"), F.col("n").alias("nx"))
    ny = sz.select(F.col("doc_id").alias("y"), F.col("n").alias("ny"))
    verified = (
        inter.join(nx, "x")
        .join(ny, "y")
        .filter(F.col("o") * (num + den) >= num * (F.col("nx") + F.col("ny")))
        .select("x", "y")
        .persist()
    )
    missed = verified.join(positional.select("x", "y"), ["x", "y"], "left_anti")

    def row(stage: str, df_: DataFrame) -> DataFrame:
        return df_.agg(
            F.lit(stage).alias("stage"),
            F.count("*").cast("bigint").alias("n_pairs"),
        )

    return (
        row("prefix", cand)
        .unionByName(row("prefix_length", lengthok))
        .unionByName(row("prefix_length_positional", positional))
        .unionByName(row("verified", verified))
        .unionByName(row("verified_missed_by_filters", missed))
    )


def ssjoin_filter_report_sql(
    corpus_cte: str,
    *,
    theta_num: int = 7,
    theta_den: int = 10,
) -> str:
    """DuckDB twin of :func:`ssjoin_filter_report`; ``corpus_cte`` must
    define ``d(doc_id, s)`` distinct token rows. Generated from the
    same θ constants so the engines cannot drift."""
    num, den = theta_num, theta_den
    return f"""WITH {corpus_cte},
    tc AS (SELECT doc_id, s AS tok FROM d),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM tc GROUP BY 1),
    dft AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tc GROUP BY 1),
    rk AS (SELECT tok, CAST(row_number() OVER (ORDER BY df ASC, tok ASC)
                           AS BIGINT) AS trank FROM dft),
    ps AS (SELECT tc.doc_id, tc.tok, rk.trank, sz.n,
                  CAST(row_number() OVER (PARTITION BY tc.doc_id
                                          ORDER BY rk.trank) AS BIGINT) AS p
           FROM tc JOIN rk USING (tok) JOIN sz USING (doc_id)),
    pref AS (SELECT * FROM ps
             WHERE p <= n - (({num} * n + {den} - 1) // {den}) + 1),
    cand AS (SELECT a.doc_id AS x, b.doc_id AS y, a.n AS nx, b.n AS ny,
                    a.trank, a.p AS px, b.p AS py
             FROM pref a JOIN pref b USING (tok)
             WHERE a.doc_id < b.doc_id
             QUALIFY row_number() OVER (PARTITION BY a.doc_id, b.doc_id
                                        ORDER BY a.trank) = 1),
    lok AS (SELECT * FROM cand
            WHERE least(nx, ny) * {den} >= {num} * greatest(nx, ny)),
    pok AS (SELECT * FROM lok
            WHERE (1 + least(nx - px, ny - py)) * {num + den}
                  >= {num} * (nx + ny)),
    inter AS (SELECT a.doc_id AS x, b.doc_id AS y,
                     CAST(count(*) AS BIGINT) AS o
              FROM tc a JOIN tc b USING (tok) WHERE a.doc_id < b.doc_id
              GROUP BY 1, 2),
    ver AS (SELECT i.x, i.y FROM inter i
            JOIN sz sx ON sx.doc_id = i.x JOIN sz sy ON sy.doc_id = i.y
            WHERE i.o * {num + den} >= {num} * (sx.n + sy.n)),
    mis AS (SELECT v.x, v.y FROM ver v
            LEFT JOIN pok ON pok.x = v.x AND pok.y = v.y
            WHERE pok.x IS NULL)
    SELECT 'prefix' AS stage, CAST(count(*) AS BIGINT) AS n_pairs FROM cand
    UNION ALL
    SELECT 'prefix_length', CAST(count(*) AS BIGINT) FROM lok
    UNION ALL
    SELECT 'prefix_length_positional', CAST(count(*) AS BIGINT) FROM pok
    UNION ALL
    SELECT 'verified', CAST(count(*) AS BIGINT) FROM ver
    UNION ALL
    SELECT 'verified_missed_by_filters', CAST(count(*) AS BIGINT) FROM mis"""
