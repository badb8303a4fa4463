"""End-to-end benchmark of the ingestion engine through its public entry points.

    python3 perfbench/run.py --workload shipment_increments --seed 1 --seconds 10 --trace 0

Run from the repository root. One driver process, ``local[4]``, 4 shuffle
partitions, one caller in a closed loop: each iteration starts after the
previous one has published its output.

Workloads:

- ``shipment_increments``: ``plans.shipment.run_batch`` on a sequence of
  seeded daily shipment CSVs (q40's canonical recipe, 100 columns), each
  published as month-partitioned, byte-capped JSONL. Every document is
  checked against q40's DuckDB oracle.
- ``curation_funnels``: a seeded ``documents`` corpus with malformed lines,
  read by ``sources.jsonl.read_jsonl_quarantine``, then
  ``plans.webcorpus.extract_web_corpus`` and ``plans.corpus.curate_corpus``,
  each funnel's survivors written as JSONL. Per-stage counts are checked
  against the q118 and q90 oracles.

Set-up (input generation, session start, one cold iteration that warms the
JVM, and the DuckDB oracles, which a child process runs meanwhile) is
timed as ``setup_s``. The timed loop then runs iterations until
``--seconds`` have passed, at least one, and reports medians over them.

An iteration's cost is ``cpu_s``: the user and system CPU seconds charged
to this process and every process under it (the Spark JVM with its JIT and
GC threads, any Python workers). Its wall time is printed as ``wall_s`` but
is no end-to-end metric: on a host that shares its CPUs it also counts the
time the host steals, which stretched one warm iteration by up to 70% from
one run to the next. The kernel charges stolen time to no process, so CPU
time leaves it out; it still moves with how fast the host runs.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics from spans recorded around the
calls into each module and from the Spark event log. The exit code is 1
when any output check fails and 2 when the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from typing import NamedTuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The checkout root replaces this directory on the path, so that the
# package and ``perfbench`` import by name and nothing here shadows stdlib.
sys.path[0] = ROOT

AS_OF = "2024-06-01"
CORES = 4

E2E = (
    ("cpu_s", "s"),
    ("jvm_rss_mb", "MB"),
    ("setup_s", "s"),
)


class Sample(NamedTuple):
    """One timed iteration; ``error`` is empty when it ran and passed its check."""

    traced: bool
    wall_s: float | None
    cpu_s: float | None
    record: object
    error: str


def _proc_status(pid) -> dict:
    with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
        return dict(line.split(":", 1) for line in f if ":" in line)


def jvm_peak_rss_mb() -> float:
    """``VmHWM`` of the Spark JVM, the java child of this process."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            st = _proc_status(pid)
        except OSError:
            continue
        if st.get("PPid", "").strip() == me and st.get("Name", "").strip() == "java":
            return int(st["VmHWM"].split()[0]) / 1024.0
    raise RuntimeError("no java child process found")


def start_spark(work: str, trace: bool):
    from jsonl_dataingestion_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    spark = get_spark(
        app_name="perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it, or the maximum when there are too few samples."""
    vals = sorted(values)
    n = len(vals)
    if n < 20:
        return 100.0, vals[-1]
    pct = 100.0 * (n - 10) / n
    return pct, vals[n - 11]


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import jsonl_dataingestion_pipeline_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import oracle
    from perfbench.trace import codegen_counters, steal_seconds
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM, the spark-submit launcher too, would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    spark = expecting = None
    try:
        wl = WORKLOADS[args.workload](args.seed, work)
        wl.generate()
        expecting = oracle.start(ROOT, args.workload, args.seed)
        spark = start_spark(work, bool(args.trace))
        cg0 = codegen_counters(spark)
        _, _, warm_record = wl.iteration(spark)  # cold: JIT, codegen, memoized plans
        cg1 = codegen_counters(spark)
        expected = oracle.finish(expecting)
        setup_s = time.perf_counter() - t_start
        steal0 = steal_seconds()
        runs = measure(spark, wl, args.seconds, bool(args.trace))
        steal_s = (steal_seconds() - steal0) / len(runs)
        rss_mb = jvm_peak_rss_mb()
        stop_spark(spark)
        spark = None
        checks = iter(wl.verify([warm_record] + [r.record for r in runs if not r.error], expected))
        warm_problems = next(checks)
        runs = [r if r.error else r._replace(error="\n".join(next(checks))) for r in runs]
        if args.trace:
            layers = wl.per_layer(os.path.join(work, "eventlog"), CORES)
            wl.tracer_dump(os.path.join(ROOT, ".perfbench_out", f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        if expecting is not None and expecting.poll() is None:
            expecting.kill()
            expecting.wait()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    if warm_problems:
        print("\n".join(["warm-up iteration failed its check:"] + warm_problems), file=sys.stderr)
    # the checked warm-up iteration counts as attempted too
    attempted = len(runs) + 1
    failed = sum(1 for r in runs if r.error) + bool(warm_problems)
    for r in runs:
        if r.error:
            print(r.error, file=sys.stderr)
    plain = [r for r in runs if not r.traced and not r.error]
    traced = [r.wall_s for r in runs if r.traced and not r.error]
    metrics, info = {}, {"failed_frac": failed / attempted, "steal_s": steal_s}
    if plain:
        cpu_s = statistics.median(r.cpu_s for r in plain)
        wall_s = statistics.median(r.wall_s for r in plain)
        metrics.update(cpu_s=cpu_s, jvm_rss_mb=rss_mb, setup_s=setup_s)
        cpu_pct, cpu_tail = tail([r.cpu_s for r in plain])
        wall_pct, wall_tail = tail([r.wall_s for r in plain])
        info.update(
            samples=len(plain), cpu_tail_pct=cpu_pct, cpu_tail_s=cpu_tail,
            wall_s=wall_s, wall_tail_pct=wall_pct, wall_tail_s=wall_tail, rows_per_s=wl.input_rows / wall_s,
        )
    if args.trace:
        metrics = layers
        metrics["codegen.setup_compiles"] = cg1[0] - cg0[0]
        metrics["codegen.setup_compile_ms"] = cg1[1] - cg0[1]
        if plain:
            metrics["wall_s"] = info["wall_s"]
        if plain and traced:
            metrics["trace.overhead_s"] = statistics.median(traced) - info["wall_s"]
    return report(metrics, info, attempted, failed, args.trace)


def measure(spark, wl, seconds: float, trace: bool) -> list[Sample]:
    """The closed loop: steps until ``seconds`` have passed, at least one.
    A step is one iteration, or when tracing a pair of one untraced and one
    traced iteration, whose median walls differ by the tracing overhead."""
    runs = []
    t0 = time.perf_counter()
    while True:
        for traced in (False, True) if trace else (False,):
            try:
                runs.append(Sample(traced, *wl.iteration(spark, traced=traced), ""))
            except Exception as e:  # a failed iteration counts; the loop goes on
                runs.append(Sample(traced, None, None, None, f"{type(e).__name__}: {e}"))
        if time.perf_counter() - t0 >= seconds:
            return runs


def report(metrics: dict, info: dict, attempted: int, failed: int, trace: int) -> int:
    """Print every metric by name and unit, then the one-line JSON result."""
    from perfbench.workloads import PER_LAYER

    units = PER_LAYER if trace else dict(E2E)
    names = tuple(units)
    correct = failed == 0 and all(n in metrics for n in names)
    for n in names:
        if n in metrics:
            print(f"{n:42s} {metrics[n]:>16.6g} {units[n]}")
    for n, v in info.items():
        print(f"{n:42s} {v:>16.6g}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": metrics[n], "unit": units[n]} for n in names if n in metrics
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
