"""Run one benchmark workload and print its metrics as the last stdout line.

    python3 perfbench/run.py --workload curate --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed`` (and
cached) under ``.perfbench_work/``; everything the run writes stays there.

A run sets up ``SETUPS`` times (session start, package ship, warm-up job),
then runs one untimed priming round on the same inputs and repeats timed
rounds until ``--seconds`` have passed and at least ``MIN_ROUNDS`` ran; round
metrics are medians over them.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced rounds and prints the per-layer metrics of the traced
ones, plus the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
SETUPS = 3
MIN_ROUNDS = 2

# Spans that get the full counter set; session.get_spark has no tasks.
SPANS = ("sources.scan", "bpe.train_merges", "bpe.token_count",
         "dedup.minhash_dedup", "curate.write", "ann.train_centroids",
         "ann.save", "ann.load", "hnsw.build_write", "ann.ivf_search_bulk",
         "hnsw.hnsw_search", "knn.knn_topk", "ann.ivf_search")
SPAN_METRICS = (("wall_s", "s"), ("self_s", "s"), ("tasks", "count"),
                ("executor_cpu_s", "s"), ("slot_util", "ratio"),
                ("input_bytes", "B"), ("shuffle_bytes", "B"),
                ("spill_bytes", "B"), ("failed_tasks", "count"))
EXTRA_METRICS = (("session.get_spark.wall_s", "s"),
                 ("session.get_spark.self_s", "s"),
                 ("dedup.candidate_pairs", "count"),
                 ("dedup.verify_yield", "ratio"),
                 ("ann.probed_frac", "ratio"),
                 ("ann.bytes_per_vec", "B"),
                 ("knn.input_bytes_per_query", "B"),
                 ("trace.overhead_frac", "ratio"),
                 ("host.steal_frac", "ratio"))
END_TO_END = (("setup_s", "s"), ("round_ms", "ms"), ("items_per_s", "1/s"),
              ("quality", "ratio"), ("ok_frac", "ratio"), ("peak_rss_mb", "MB"))


def per_layer_names() -> list[tuple[str, str]]:
    return [(f"{s}.{m}", u) for s in SPANS for m, u in SPAN_METRICS] \
        + list(EXTRA_METRICS)


def log(msg: str) -> None:
    print(msg, flush=True)


# C1 only: with the default tiered JIT, round times keep falling by 15-25%
# over the first ten rounds of a process while C2 compiles, so a run's few
# timed rounds land on a slope whose height depends on the host's load. C1
# is close to its steady state after the priming round.
JAVA_OPTS = (f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
             " -XX:TieredStopAtLevel=1")
# The driver heap is committed and touched up front, so that peak_rss_mb does
# not depend on when the JVM happens to grow its heap.
DRIVER_MEM = "2g"
DRIVER_JAVA_OPTS = f"{JAVA_OPTS} -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"


def _spark_conf() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": DRIVER_JAVA_OPTS,
    }


def _prepare_env() -> None:
    """Keep every file the run writes inside the checkout and size Spark to
    the machine (both are session.get_spark deployment settings)."""
    for d in ("tmp", "spark-local", "warehouse", "out"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = JAVA_OPTS  # spark-submit's own JVM
    # Half the cores as Spark task slots: the other half runs the JVM's own
    # threads and the driver's Python. The rounds are mostly per-job fixed
    # cost, so more slots do not make them faster; on a busy shared 4-vCPU
    # host, four slots made index_serve rounds 25-30% slower than two.
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = f"{ROOT}{os.pathsep}{pp}" if pp else str(ROOT)


def _shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run(workload: str, seed: int, seconds: float, trace: bool,
        tiny: bool = False) -> dict:
    from parquetaivectorsearch_spark.session import get_spark, ship_package

    from perfbench import gen
    from perfbench.tracing import (RssSampler, SparkCounters, Tracer,
                                   cpu_times, percentile, steal_fraction,
                                   tail_percentile)
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[workload]
    size = cls.TINY if tiny else cls.SIZE
    inputs = gen.materialize(str(WORK / "inputs"), workload, seed, size)
    out_dir = WORK / "out" / workload
    out_dir.mkdir(parents=True, exist_ok=True)
    wl = cls(inputs, str(out_dir), size)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    tracer = Tracer(False)
    conf = _spark_conf()
    attempted = failed = 0
    times = {False: [], True: []}
    cpu0 = cpu_times()
    spark = None
    with RssSampler() as rss:
        try:
            setups, stopped = [], []
            for i in range(SETUPS):
                if i:
                    spark.stop()
                    # keep the stopped context alive so that its id() is not
                    # reused by the next one (ship_package is idempotent per id)
                    stopped.append(spark.sparkContext)
                tracer.enabled = trace
                t0 = time.perf_counter()
                with tracer.span("session.get_spark", new_trace=True):
                    spark = get_spark("perfbench", extra_conf=conf)
                tracer.enabled = False
                ship_package(spark)
                wl.warm(spark)
                setups.append(time.perf_counter() - t0)
            log(f"setup_s {['%.2f' % s for s in setups]}")
            if trace:
                tracer.counters = SparkCounters(spark)
            # One untimed round: on a fresh JVM the first round is about
            # twice as slow as later ones (class loading, JIT, and code
            # generation for every plan shape Spark meets first). It runs on
            # the run's own inputs: primed on the smaller smoke-test ones,
            # the first timed round was still up to 13% slower than the
            # second. The timed rounds repeat these inputs anyway, so priming
            # on them fills no cache that the second timed round would not.
            t0 = time.perf_counter()
            wl.check(spark, wl.round(spark, tracer))
            log(f"priming round {(time.perf_counter() - t0) * 1e3:.1f} ms")
            deadline = time.perf_counter() + seconds
            n = 0
            while True:
                # traced runs alternate untraced and traced rounds so that
                # their difference is the tracing overhead
                tracer.enabled = trace and n % 2 == 1
                attempted += 1
                t0 = time.perf_counter()
                try:
                    res = wl.round(spark, tracer)
                    dt = time.perf_counter() - t0
                    wl.check(spark, res)
                    times[tracer.enabled].append(dt)
                    log(f"round {n} {'traced ' if tracer.enabled else ''}"
                        f"{dt * 1e3:.1f} ms")
                except Exception:
                    failed += 1
                    log(f"round {n} FAILED\n{traceback.format_exc()}")
                n += 1
                # a traced run needs one untraced and one traced round
                enough = len(times[False]) >= MIN_ROUNDS - trace and \
                    (not trace or times[True])
                if time.perf_counter() >= deadline and n >= MIN_ROUNDS \
                        and (enough or failed):
                    break
            tracer.enabled = False
            summary = tracer.summary(cores)
            extra = wl.layer_counters(spark) if trace and attempted > failed else {}
        finally:
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            _shutdown_jvm()
            log(f"teardown {time.perf_counter() - t0:.2f} s")
    untraced = times[False] or [0.0]
    extra["host.steal_frac"] = steal_fraction(cpu0, cpu_times())
    tail = tail_percentile(len(times[False]))
    tail_ms = f"p{tail} {percentile(untraced, tail) * 1e3:.1f} ms" if tail else \
        "no percentile above the median has 10 samples beyond it"
    log(f"rounds timed {len(times[False])}: median "
        f"{statistics.median(untraced) * 1e3:.1f} ms, {tail_ms}; quality "
        f"{wl.quality:.4f}; steal {extra['host.steal_frac']:.4f}; "
        f"attempted {attempted} failed {failed}")
    if trace:
        tracer.write(str(WORK / f"spans-{workload}-{seed}.jsonl"))
        if "knn.knn_topk" in summary:
            extra["knn.input_bytes_per_query"] = summary["knn.knn_topk"]["input_bytes"]
        if times[True]:
            extra["trace.overhead_frac"] = \
                statistics.median(times[True]) / statistics.median(untraced) - 1
        metrics = {}
        for name, unit in per_layer_names():
            span, _, field = name.rpartition(".")
            value = summary.get(span, {}).get(field, extra.get(name, 0.0))
            metrics[name] = {"value": float(value), "unit": unit}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "round_ms": statistics.median(untraced) * 1e3,
            "items_per_s": wl.items / statistics.median(untraced) if times[False] else 0.0,
            "quality": wl.quality,
            "ok_frac": (attempted - failed) / attempted,
            "peak_rss_mb": rss.peak_mb,
        }
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in END_TO_END}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("curate", "index_serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke-test input sizes")
    args = ap.parse_args(argv)
    if not (ROOT / "parquetaivectorsearch_spark" / "__init__.py").is_file():
        print(f"engine package parquetaivectorsearch_spark not found in {ROOT}",
              file=sys.stderr)
        return 2
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))
    _prepare_env()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace),
                 tiny=args.tiny)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
