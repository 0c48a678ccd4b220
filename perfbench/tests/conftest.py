"""Make the benchmark's modules and the checkout's package importable.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

import os
import sys

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
for p in (ROOT, BENCH_DIR):
    if p not in sys.path:
        sys.path.insert(0, p)
# Spark's Python workers import the package too
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
