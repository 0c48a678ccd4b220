"""Benchmark of the near-duplicate engine: one workload, one process.

Run from the root of a checkout:

    python3 perfbench/run.py --workload dedup_full --seed 1 --seconds 10 --trace 0

The run starts a Spark session at local[<cores>], builds the workload's
inputs from the seed, makes one untimed warm-up run, then runs the
workload as a closed loop (next run starts when the previous one has
finished and passed its output check) for ``--seconds``. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``; with
``--trace 1`` the per-layer metrics of a separate traced replay, read
from spans and the Spark event log. An earlier line describes the host,
the library versions and each run's wall time.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import sys
import time

import eventlog
import proctree
from tracing import Tracer, timed

PACKAGE = "autovalidate_backend_api_spark"
DRIVER_MEMORY = "3g"
LOAD_REPEATS = 3
SETTLE_S = 0.5
# JVM temp files inside the checkout, and no /tmp/hsperfdata_<user> entry
JVM_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

# name -> (unit, better)
END_TO_END = {
    "files_per_s": ("files/s", "higher"),
    "setup_s": ("s", "lower"),
    "pair_recall": ("share", "higher"),
    "pair_precision": ("share", "higher"),
    "ok_run_share": ("share", "higher"),
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def bootstrap(root: str) -> str:
    """Make the checkout's package importable here and in Spark's Python
    workers, and keep every file the run writes inside the checkout."""
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        raise SystemExit(f"error: no {PACKAGE} package under {root}; "
                         "run from the root of a checkout")
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(root, ".perfbench_work")
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the launcher JVM of spark-submit: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_OPTS.format(tmp=tmp)
    return work


def host_info(cores: int) -> dict:
    import numpy
    import pyarrow
    import pyspark

    with open("/proc/meminfo", encoding="utf-8") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": cores,
        "ram_gib": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "driver_memory": DRIVER_MEMORY,
    }


def start_session(cores: int, tmp: str, event_dir: str | None):
    from autovalidate_backend_api_spark.session import build_session

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": JVM_OPTS.format(tmp=tmp),
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            # Spark 4 compresses with zstd by default; no reader here
            "spark.eventLog.compress": "false",
        })
    spark = build_session(app_name="perfbench", master=f"local[{cores}]",
                          shuffle_partitions=2 * cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Loop:
    """Closed-loop runner: one run at a time, each checked before the next."""

    def __init__(self, wl):
        self.wl = wl
        self.walls: list[float] = []
        self.peaks: list[float] = []
        self.stage_s: list[dict] = []
        self.quality = []
        self.run_ids: list[str] = []
        self.attempted = 0
        self.failed = 0

    def once(self, run_id: str) -> None:
        self.attempted += 1
        sc = self.wl.spark.sparkContext
        # collect the previous run's garbage and let Spark's cleaner
        # finish now, not inside the timed call
        gc.collect()
        sc._jvm.System.gc()
        time.sleep(SETTLE_S)
        proctree.reset_peaks()
        try:
            # the job group lets a traced session count this run's jobs
            sc.setJobGroup(run_id, run_id)
            try:
                res, wall = timed(lambda: self.wl.run(run_id))
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            peak = proctree.peak_rss_mb()
            q = self.wl.check(self.wl.output(res))
        except Exception as exc:  # noqa: BLE001 - a failed run is counted
            print(f"run {run_id} raised: {exc!r}", file=sys.stderr)
            self.failed += 1
            return
        finally:
            self.wl.reset()
        self.quality.append(q)
        if not q.ok:
            print(f"run {run_id} failed its check: {q.detail}", file=sys.stderr)
            self.failed += 1
            return
        self.run_ids.append(run_id)
        self.walls.append(wall)
        self.peaks.append(peak)
        self.stage_s.append(self.wl.stage_seconds(res))

    def for_seconds(self, seconds: float, prefix: str) -> None:
        t0 = time.monotonic()
        i = 0
        while i == 0 or time.monotonic() - t0 < seconds:
            self.once(f"{prefix}{i}")
            i += 1


def end_to_end(wl, loop: Loop, setup_s: float) -> dict[str, float]:
    return {
        "files_per_s": wl.input_files / statistics.median(loop.walls),
        "setup_s": setup_s,
        "pair_recall": min(q.recall for q in loop.quality),
        "pair_precision": min(q.precision for q in loop.quality),
        "ok_run_share": (loop.attempted - loop.failed) / loop.attempted,
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    work = bootstrap(root)
    tmp = os.environ["TMPDIR"]

    # these import the package, so only after bootstrap
    import kernel
    import layers
    from workloads import CORES, WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"error: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    tag = f"{args.workload}_seed{args.seed}"
    event_dir = os.path.join(tmp, "eventlog") if args.trace else None
    parts: dict[str, float] = {}
    try:
        spark, parts["session_s"] = timed(lambda: start_session(CORES, tmp, event_dir))
        try:
            wl = WORKLOADS[args.workload](spark, args.seed, tmp)
            parts.update(wl.setup_parts)
            loads = []
            for _ in range(LOAD_REPEATS):
                loads.append(timed(wl.reset)[1])
            parts["load_s"] = statistics.median(loads)
            warm = Loop(wl)
            _, parts["warmup_s"] = timed(lambda: warm.once("warmup"))
            if warm.failed:
                raise RuntimeError("warm-up run failed; see stderr")
            setup_s = sum(parts.values())

            loop = Loop(wl)
            loop.for_seconds(args.seconds, "run")
            if not loop.walls:
                raise RuntimeError("no timed run passed its check; see stderr")
            if args.trace:
                tracer = Tracer(spark.sparkContext)
                replays = layers.replay_for_seconds(wl, tracer, args.seconds)
        finally:
            _, stop_s = timed(lambda: proctree.stop_spark(spark))

        print(json.dumps({"host": host_info(CORES), "workload": args.workload,
                          "seed": args.seed, "setup": parts, "stop_s": stop_s,
                          "runs": loop.attempted, "walls_s": loop.walls,
                          "checks": [q.detail for q in loop.quality]}))
        if args.trace:
            spans_path = os.path.join(work, f"spans_{tag}.json")
            tracer.write(spans_path)
            metrics = layers.per_layer(
                wl, loop, tracer, replays, eventlog.group_stats(event_dir),
                parts, kernel.signature_us_per_doc(), CORES,
            )
            print(json.dumps({"spans_file": os.path.relpath(spans_path, root)}))
            units = {k: u for k, (u, _) in layers.LAYER_METRICS.items()}
            failed = loop.failed + replays.failed
            attempted = loop.attempted + replays.attempted
        else:
            metrics = end_to_end(wl, loop, setup_s)
            units = {k: u for k, (u, _) in END_TO_END.items()}
            failed, attempted = loop.failed, loop.attempted
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
