#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 15 \\
        --trace 0

Run from the repository root or anywhere else; the package is found next to
this directory and put on the Python workers' path. Everything the run
writes (staged inputs, outputs, Spark scratch space, JVM temp files) lives
under ``.perfbench_work/<pid>`` in the repository root and is removed at
exit.

Set-up is one session start (JVM launch included), input staging from the
seed and the workload's warm-up; their sum is ``setup_s``. With ``--trace 0``
the workload's pass then repeats as often as fills ``--seconds`` at its
usual pass time, and the end-to-end metrics are reported. With ``--trace 1`` one untraced pass is timed and then every
layer in isolation (see layers.py). Every document is checked against the
generator's oracle. The last line of standard output is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
from pathlib import Path
from time import perf_counter, sleep

PACKAGE = "amazon_textract_transformer_pipeline_spark"
ROOT = Path(__file__).resolve().parents[1]
# per process, so that runs in one checkout never share files
WORK = ROOT / ".perfbench_work" / str(os.getpid())

# One driver process with TASK_SLOTS slots. At 20k pages local[4] was barely
# faster than local[2] and noisier, so two slots leave room for the JVM's own
# threads on a four-core box.
TASK_SLOTS = 2
MASTER = f"local[{TASK_SLOTS}]"
SHUFFLE_PARTITIONS = 2
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "doc/s",
                    "peak_rss_mb": "MB", "cpu_s_per_kdoc": "s/kdoc"}


def unit_of(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    suffix = name.rsplit(".", 1)[-1]
    for end, unit in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if suffix.endswith(end):
            return unit
    return "ratio" if suffix.endswith(("_skew", "_ratio", "_per_batch")) \
        else "count"


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment() -> dict[str, str]:
    """Point every writer into WORK and the workers at the package; return
    the Spark settings for the session. Must run before the JVM starts."""
    tmp, local = WORK / "tmp", WORK / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["ATTP_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    # The heap is fixed at its maximum and touched at start, so that the
    # JVM's share of peak_rss_mb does not follow the collector's resizing.
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
        "spark.local.dir": str(local),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and every process it started (the
    Python worker daemon and its workers) have exited."""
    from pyspark import SparkContext

    from procstat import tree_pids

    children = [p for p in tree_pids(os.getpid()) if p != os.getpid()]
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # a py4j call cut short by SIGTERM breaks this;
            pass  # closing the JVM's stdin below still ends it
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = perf_counter() + 30
    while (any(os.path.exists(f"/proc/{p}") for p in children)
           and perf_counter() < deadline):
        sleep(0.1)


def set_up(seed: int, workload_cls, holder: list):
    """Session start, staging and warm-up, each once: a second set-up would
    need a second JVM launch and cold warm-up (about 20 s) in a run that has
    to stay under a minute. The session goes into ``holder`` as soon as it
    exists, so that a failure later in set-up still stops it."""
    from amazon_textract_transformer_pipeline_spark.session import get_spark
    from procstat import tree_cpu_s

    conf = prepare_environment()
    t0, cpu0 = perf_counter(), tree_cpu_s()
    spark = get_spark("perfbench", cores=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    holder.append(spark)
    t1, cpu1 = perf_counter(), tree_cpu_s()
    wl = workload_cls(WORK / "inputs")
    wl.stage(spark, seed)
    t2 = perf_counter()
    wl.warm_up(spark)
    t3 = perf_counter()
    return spark, wl, {"setup_s": t3 - t0, "start_s": t1 - t0,
                       "start_cpu_s": cpu1 - cpu0, "stage_s": t2 - t1,
                       "warm_up_s": t3 - t2}


def untraced(spark, wl, seconds: float) -> tuple[dict, dict]:
    from procstat import PeakRss, tree_cpu_s
    from workloads import n_passes, timed_passes

    with PeakRss() as rss:
        cpu0 = tree_cpu_s()
        measured = timed_passes(lambda: wl.one_pass(spark), wl.docs,
                                n_passes(seconds, wl.pass_s))
        cpu = tree_cpu_s() - cpu0
    metrics = {
        "docs_per_s": measured.docs_per_s,
        "peak_rss_mb": rss.peak_mb,
        "cpu_s_per_kdoc": cpu / measured.docs * 1000.0,
    }
    for i, s in enumerate(measured.pass_s):
        print(f"pass {i} {s:.4f} s")
    extra = {"docs": measured.docs, "passes": len(measured.pass_s),
             "pass_p50_s": statistics.median(measured.pass_s)}
    return metrics, extra


def main(argv: list[str] | None = None) -> int:
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    args = parse_args(argv)
    assert TASK_SLOTS <= len(os.sched_getaffinity(0)), \
        f"{MASTER} needs {TASK_SLOTS} cores"
    from workloads import WORKLOADS

    shutil.rmtree(WORK, ignore_errors=True)
    holder: list = []
    # a terminated run still stops Spark and removes WORK on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        spark, wl, setup = set_up(args.seed, WORKLOADS[args.workload], holder)
        if args.trace:
            from layers import PER_LAYER, trace_layers

            t0 = perf_counter()
            wl.one_pass(spark)
            e2e_wall = perf_counter() - t0
            attempted, failed = wl.check(spark)
            layer_metrics, walls = trace_layers(
                spark, wl, WORK / "trace", setup, e2e_wall)
            for name in sorted(layer_metrics):
                print(f"layer {name} {layer_metrics[name]:.6g} "
                      f"{unit_of(name)}")
            for layer, wall in walls.items():
                print(f"layer-wall {layer} {wall:.4f} s")
            print(f"e2e-wall {e2e_wall:.4f} s")
            metrics = {k: (layer_metrics[k], unit_of(k)) for k in PER_LAYER}
        else:
            e2e, extra = untraced(spark, wl, args.seconds)
            attempted, failed = wl.check(spark)
            e2e["setup_s"] = setup["setup_s"]
            extra["failed_doc_ratio"] = failed / attempted
            for key in ("start_s", "stage_s", "warm_up_s"):
                extra[f"setup.{key}"] = setup[key]
            for name, value in {**e2e, **extra}.items():
                print(f"metric {name} {value:.6g} {unit_of(name)}")
            metrics = {k: (e2e[k], u) for k, u in END_TO_END_UNITS.items()}
    finally:
        try:
            stop_session(holder[0] if holder else None)
        finally:
            shutil.rmtree(WORK, ignore_errors=True)
            try:
                WORK.parent.rmdir()  # unless another run is using it
            except OSError:
                pass

    print(json.dumps({
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
