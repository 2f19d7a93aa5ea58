"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Prints a detail line (every metric
with unit and sample count, run context, layer report) and then, as the
last line, the result object: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``) of BENCHMARK.json.  The detail line is
also written to ``perfbench/results/``.  Everything the run writes stays
under the checkout; the scratch part is removed at exit."""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOAD_NAMES = ("query_mix", "ingest")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measure whole rounds until this many seconds have passed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _configure_env(work: Path, trace: bool) -> None:
    """Confine every write to ``work`` and supply the Spark settings the
    benchmark needs at session start (session.py stays unchanged)."""
    for sub in ("tmp", "spark-local", "events"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the JVM runs as get_spark starts it (driver memory, JIT); these
    # options only keep its temp files inside the checkout
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    args = ["--driver-java-options", java_opts,
            "--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", f"spark.eventLog.dir=file://{work / 'events'}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args) + " pyspark-shell"


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and the Python workers, and wait for
    each to exit."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = set(process_tree(os.getpid())) - {os.getpid()}
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline:
        alive = {p for p in started if _running(p)}
        if not alive:
            return
        time.sleep(0.2)
    for p in started:
        if _running(p):
            os.kill(p, 9)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    if not (ROOT / "lucene_solr_spark" / "__init__.py").is_file():
        print(f"perfbench: no lucene_solr_spark package under {ROOT}; "
              "run from the root of a repository checkout", file=sys.stderr)
        return 2
    trace = bool(args.trace)
    work = ROOT / "perfbench" / "work" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    _configure_env(work, trace)
    sys.path.insert(0, str(ROOT))

    import pyspark

    from lucene_solr_spark.session import get_spark
    from perfbench import report, workloads
    from perfbench.trace import RssSampler, Tracer, reduce_event_log

    load_start = os.getloadavg()
    try:
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        try:
            st = workloads.RunState(spark, Tracer(spark.sparkContext if trace else None), work)
            st.rss = RssSampler(os.getpid()).__enter__()
            workloads.WORKLOADS[args.workload](st, args.seed, args.seconds, t_start)
            st.end_measure()
            extras = {}
            if trace:
                extras["codec"] = report.codec_rates(st.codec_sample)
                extras["tokens_per_s"] = report.analysis_rate(st.chain, st.text_sample)
            cores = spark.sparkContext.defaultParallelism
        finally:
            _stop_spark(spark)
        task_sums = reduce_event_log(work / "events") if trace else {}
    finally:
        workloads.cleanup(work)

    props = {**st.setup, **st.props}
    peak_rss = {"tree": st.rss.peak, **st.rss.peak_by_kind}
    e2e = report.end_to_end(st.records, st.setup, props, peak_rss, args.workload)
    attempted = sum(r.phase != "setup" for r in st.records)
    failed = sum(r.error is not None for r in st.records)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "correct": not st.errors, "errors": st.errors[:20],
        "end_to_end": e2e,
        "per_kind": report.per_kind(st.records),
        "context": {
            "nproc": len(os.sched_getaffinity(0)), "spark_cores": cores,
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            "spark_version": pyspark.__version__, "python_version": platform.python_version(),
            "closed_loop_clients": 1, "run_seconds": args.seconds,
            "wall_s": time.perf_counter() - t_start, "workload_properties": props,
            "peak_rss_mb_by_kind": {k: v / 2**20 for k, v in st.rss.peak_by_kind.items()},
            "peak_rss_mb_tree": st.rss.peak / 2**20,
        },
    }
    metrics = e2e
    if trace:
        metrics, layer_detail = report.per_layer(
            st.records, st.tracer, task_sums, props, extras["codec"], extras["tokens_per_s"],
            peak_rss, args.workload)
        detail["per_layer"] = metrics
        detail["layer_detail"] = layer_detail
        detail["layer_self_ms_per_op"] = report.layer_self_times(st.records, st.tracer)
    results = ROOT / "perfbench" / "results"
    results.mkdir(exist_ok=True)
    line = json.dumps({"perfbench": detail}, default=float)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(line + "\n")
    print(line)
    print(json.dumps(report.contract_line(not st.errors, attempted, failed, metrics, trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
