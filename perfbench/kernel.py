"""Spark-free signature-kernel microbenchmark (µs per document).

Calls the body of the signature pandas UDF directly on normalized
documents, so the figure holds no JVM, Arrow transfer or scheduling cost:
only the per-document hashing that a batch kernel would vectorize.
"""

from __future__ import annotations

import statistics
import time

import pandas as pd

from autovalidate_backend_api_spark import corpus as C
from autovalidate_backend_api_spark.config import PINNED
from autovalidate_backend_api_spark.functions.normalize import normalize_text_py
from autovalidate_backend_api_spark.functions.signatures import make_signature_udf

# fixed inputs, whatever --seed says, so the figure compares across runs
N_BASE = 80
REPEATS = 7


def signature_us_per_doc(seed: int = C.SEED) -> float:
    docs = pd.Series([normalize_text_py(t) for t in C.corpus_pandas(N_BASE, seed)["content"]])
    kernel = make_signature_udf(PINNED).func
    per_doc = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        rows = sum(len(out) for out in kernel(iter([docs])))
        if rows != len(docs):
            raise RuntimeError(f"kernel returned {rows} rows for {len(docs)} docs")
        per_doc.append((time.perf_counter() - t0) / len(docs) * 1e6)
    return statistics.median(per_doc)
