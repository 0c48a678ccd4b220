"""Longest-common-SUBSTRING (contiguous) via a suffix automaton.

The north-rule's "suffix-array substring pass" made literal: Stage C's
winnowing fingerprints FIND containment candidates cheaply; this module
CONFIRMS them exactly — the role Qdrant semantic fallback plays in the
reference cascade (/root/reference/app/api/core/search.py:139-176),
re-expressed as exact substring evidence instead of embedding cosine.

Algorithm: build the suffix automaton of the shorter string (Blumer et
al. 1983; the standard online O(n) construction, cp-algorithms
formulation — public), then walk the longer string maintaining the
current match length; the maximum is the LCS length. O(|a| + |b|) per
pair versus O(|a|·|b|) for the DP — the asymptotic gap is what makes an
exact confirm affordable at verify time.

Distinct from ``functions/fuzz.lcs_len`` which computes the longest
common SUBSEQUENCE (non-contiguous, the Indel-ratio ingredient).

100 TB plan: the UDF runs strictly AFTER candidate pruning (never
corpus×corpus) as an Arrow-batched pandas UDF with a per-pair loop
inside the batch (the automaton is pure CPU on short strings and has
no native Spark equivalent; Arrow amortizes transfer).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


def lcs_substring_len(a: str, b: str) -> int:
    """Length of the longest contiguous substring common to ``a`` and
    ``b`` (code-point semantics, like Python slicing)."""
    if not a or not b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    # --- suffix automaton of b (the shorter string) -------------------
    # state 0 is the initial state; link[v] is the suffix link,
    # length[v] the longest string of v's endpos class.
    link = [-1]
    length = [0]
    trans: list[dict[str, int]] = [{}]
    last = 0
    for ch in b:
        cur = len(length)
        length.append(length[last] + 1)
        link.append(-1)
        trans.append({})
        p = last
        while p != -1 and ch not in trans[p]:
            trans[p][ch] = cur
            p = link[p]
        if p == -1:
            link[cur] = 0
        else:
            q = trans[p][ch]
            if length[p] + 1 == length[q]:
                link[cur] = q
            else:
                clone = len(length)
                length.append(length[p] + 1)
                link.append(link[q])
                trans.append(dict(trans[q]))
                while p != -1 and trans[p].get(ch) == q:
                    trans[p][ch] = clone
                    p = link[p]
                link[q] = clone
                link[cur] = clone
        last = cur
    # --- walk a, tracking the current matched length ------------------
    best = 0
    v, cur_len = 0, 0
    for ch in a:
        while v != 0 and ch not in trans[v]:
            v = link[v]
            cur_len = length[v]
        if ch in trans[v]:
            v = trans[v][ch]
            cur_len += 1
            if cur_len > best:
                best = cur_len
    return best


@F.pandas_udf(T.LongType())
def _lcs_len_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series(
        [lcs_substring_len(x or "", y or "") for x, y in zip(a, b)],
        dtype="int64",
    )


# Non-deterministic wrapper for any path that FILTERS on the UDF's
# output (guide §4.4): Catalyst pushes such filters below the
# projection by copying the UDF expression — two ArrowEvalPython
# nodes, every pair's suffix automaton built twice. The UDF is pure;
# the marker only forbids duplication/reordering.
_lcs_len_udf_once = _lcs_len_udf.asNondeterministic()


def lcs_confirm_pairs(pairs, docs, *, min_containment: float = 0.0):
    """Exact substring confirmation of candidate pairs.

    ``pairs``: (src, dst) doc_id pairs from any candidate generator;
    ``docs``: (doc_id, text). Returns ``src, dst, lcs_len, containment``
    where ``containment = lcs_len / min(|a|, |b|)`` over NORMALIZED
    text — 1.0 means the shorter side appears verbatim inside the
    longer (the Stage-C containment relation, now with exact evidence).

    The two text lookups are plain equi-joins on doc_id; at scale the
    pair side is candidate-pruned (small) while docs is the corpus, so
    Spark picks shuffle-hash/broadcast per AQE stats — the UDF sees only
    pair-aligned rows.
    """
    from autovalidate_backend_api_spark.functions.normalize import normalize_text_col

    nt = docs.select(
        F.col("doc_id"), normalize_text_col(F.col("text")).alias("s")
    )
    j = (
        pairs.join(
            nt.select(F.col("doc_id").alias("src"), F.col("s").alias("sa")), "src"
        ).join(nt.select(F.col("doc_id").alias("dst"), F.col("s").alias("sb")), "dst")
    )
    out = j.withColumn("lcs_len", _lcs_len_udf_once(F.col("sa"), F.col("sb"))).select(
        "src",
        "dst",
        "lcs_len",
        F.round(
            F.col("lcs_len")
            / F.greatest(F.least(F.length("sa"), F.length("sb")), F.lit(1)),
            6,
        ).alias("containment"),
    )
    if min_containment > 0.0:
        out = out.filter(F.col("containment") >= min_containment)
    return out
