"""Extraction benchmark: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload spans_longtail --seed 1 --seconds 10 --trace 0

Starts ``ocr_spark.session.get_spark`` on ``local[nproc]``, runs one cold
pass and untimed warm-up passes for a third of ``--seconds`` (at least
one), then submits fully materialised passes
back to back until ``--seconds`` of pass time have elapsed, checks the
outputs and prints one JSON object as the last line of standard output.

Times come from the monotonic clock, scaled by the share of runnable vCPU
time the hypervisor ran (``tracing.CpuClock``): on a shared virtual
machine the host steals a share of the vCPUs that changes from minute to
minute, and unscaled wall times moved by up to 2x between otherwise equal
runs. The summary line before the JSON also gives the raw wall times.

``--trace 0`` reports the end-to-end metrics:

- ``docs_per_s``   input documents per second, median over the timed passes
- ``setup_s``      session start plus the cold pass (JVM start, codegen,
                   Python worker spawn, OCR model load), once per run;
                   input generation is excluded
- ``peak_rss_mb``  peak resident memory of the process tree (driver JVM and
                   Python workers), sampled during set-up and the timed
                   passes
- ``correct_frac`` share of attempted documents present in the output and
                   equal to the reference (1 - error rate)

``--trace 1`` is the separate traced run: it times successive prefixes of
the workload's pipeline (a layer's self time is the difference), reads
counts from the materialised frames and stage metrics from Spark's status
API, writes the span file under ``.perfbench/traces/`` and prints the
per-layer table (``perfbench/layers.py``) before the JSON line. On
``spans_longtail`` it also re-runs the passes on ``local[1]`` and reports
the 1 -> nproc scaling efficiency.

Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
NPROC = len(os.sched_getaffinity(0))


def isolate_env() -> None:
    """Keep every file Spark, the JVM and Python workers write inside WORK,
    and let Python workers import the engine from the checkout."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def start_session(master: str):
    from ocr_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=master,
        shuffle_partitions=max(NPROC, 8),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.memory": "2g",  # the machine's memory is shared
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # get_spark's collector, plus the JVM's temp files kept in WORK
            "spark.driver.extraJavaOptions": "-XX:+UseParallelGC -Djava.io.tmpdir="
            + os.path.join(WORK, "tmp"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def closed_loop(wl, spark, seconds: float, walls: list | None = None) -> list[float]:
    """Back-to-back passes until ``seconds`` of wall time have elapsed;
    returns each pass's steal-free time (wall times go to ``walls``)."""
    from tracing import CpuClock

    times: list[float] = []
    walls = [] if walls is None else walls
    while not times or sum(walls) < seconds:
        wl.before_pass()
        clock = CpuClock()
        wl.run_pass(spark)
        w, t = clock.elapsed()
        walls.append(w)
        times.append(t)
    return times


def docs_per_s(wl, times: list[float]) -> float:
    return statistics.median(wl.docs_per_pass / t for t in times)


def traced_layers(wl, spark, tracer, seconds: float) -> dict:
    """Per-layer self times, counts and stage metrics of one workload."""
    from tracing import CpuClock, SparkRest, summarize_stages
    from workloads import noop

    out: dict = {}
    # one timed materialisation per prefix: the cold and warm-up passes have
    # already run every operator, so only the prefix's own codegen (a
    # fraction of a second) is cold, and the traced spans_longtail run,
    # local[1] leg included, stays well under three minutes on 4 vCPUs.
    # Prefix times are steal-free, like the pass times they are compared with.
    prefix_s: dict[str, float] = {}
    with tracer.span("layers"):
        for name, df in wl.prefixes(spark):
            with tracer.span(name) as sp:
                clock = CpuClock()
                noop(df)
                sp["wall_s"], sp["steal_free_s"] = clock.elapsed()
            prefix_s[name] = sp["steal_free_s"]
    prev = 0.0
    for name, t in prefix_s.items():
        out[name] = t - prev  # self time: this prefix minus the one before
        prev = t

    # untraced passes right before the traced one, so both run equally warm
    with tracer.span("untraced"):
        untraced = closed_loop(wl, spark, seconds / 3)
    rest = SparkRest(spark)
    sc = spark.sparkContext
    group = f"{tracer.run_id}-traced"
    wl.before_pass()
    sc.setJobGroup(group, group)
    with tracer.span("traced", group=group):
        clock = CpuClock()
        wl.run_pass(spark)
        wall, traced = clock.elapsed()
    sc.setJobGroup("", "")
    out.update(summarize_stages(rest, rest.group_stages(group), wall, NPROC))
    out.update(wl.job_layers(traced, prefix_s, rest.scanned_bytes(group, wl.input)))
    with tracer.span("counts"):
        out.update(wl.counts(spark))
    out["traced_docs_per_s"] = docs_per_s(wl, [traced])
    out["untraced_docs_per_s"] = docs_per_s(wl, untraced)
    out["trace.overhead_frac"] = 1.0 - out["traced_docs_per_s"] / out["untraced_docs_per_s"]
    return out


def scaling_efficiency(wl, tracer, seconds: float, dps_n: float) -> float:
    """docs_per_s on local[nproc] / (nproc x docs_per_s on local[1]). The
    local[1] context runs in the same JVM, whose JIT and codegen cache are
    already warm, so its first pass is timed."""
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    with tracer.span("local1"):
        spark1 = start_session("local[1]")
        dps_1 = docs_per_s(wl, closed_loop(wl, spark1, seconds / 3))
    return dps_n / (NPROC * dps_1)


def print_table(workload: str, metrics: dict) -> None:
    from layers import LAYERS

    print(f"per-layer metrics, workload {workload}")
    print(f"{'metric':40s} {'value':>14s} {'unit':6s} {'moves':28s} measured on")
    for name, unit, _better, moves, on in LAYERS:
        print(f"{name:40s} {metrics[name]:14.4f} {unit:6s} {moves:28s} {on}")


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ocr_spark")):
        print(f"perfbench: {ROOT} holds no ocr_spark/ to benchmark", file=sys.stderr)
        return 2

    isolate_env()
    wl = WORKLOADS[a.workload](a.seed, WORK)
    # inputs come from a child process: their time and memory stay out of
    # every metric
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "workloads.py"), a.workload,
         str(a.seed), WORK],
        check=True,
    )

    from tracing import CpuClock, RssSampler, Tracer

    sampler = RssSampler().start()
    clock = CpuClock()
    try:
        spark = start_session(f"local[{NPROC}]")
        session_s = clock.elapsed()[1]
        wl.before_pass()
        wl.run_pass(spark)  # cold pass
        setup_wall, setup_s = clock.elapsed()
        # the JIT and the Python workers are still warming up: short passes
        # (pdf_ocr) kept getting faster for several passes
        closed_loop(wl, spark, a.seconds / 3)
        if not a.trace:
            walls: list[float] = []
            times = closed_loop(wl, spark, a.seconds, walls)
            peak_mb = sampler.stop()
            attempted, failed = wl.verify(spark)
            metrics = {
                "docs_per_s": (docs_per_s(wl, times), "docs/s"),
                "setup_s": (setup_s, "s"),
                "peak_rss_mb": (peak_mb, "MB"),
                "correct_frac": (1.0 - failed / attempted, "ratio"),
            }
            print(
                f"{a.workload}: setup {setup_s:.2f} s ({setup_wall:.2f} s wall), "
                f"{len(times)} passes of {wl.docs_per_pass} docs "
                f"[{' '.join(f'{t:.2f}' for t in times)}] s "
                f"(wall [{' '.join(f'{t:.2f}' for t in walls)}] s, "
                f"{docs_per_s(wl, walls):.2f} docs/s)"
            )
        else:
            from layers import UNITS

            sampler.stop()
            tracer = Tracer(f"{a.workload}-seed{a.seed}-{os.getpid()}")
            layers = traced_layers(wl, spark, tracer, a.seconds)
            attempted, failed = wl.verify(spark)
            layers["session.start_s"] = session_s
            if wl.name == "spans_longtail":
                layers["session.scaling_efficiency"] = scaling_efficiency(
                    wl, tracer, a.seconds, layers["untraced_docs_per_s"]
                )
            path = os.path.join(WORK, "traces", f"{tracer.run_id}.jsonl")
            tracer.write(path)
            metrics = {k: (layers.get(k, 0.0), unit) for k, unit in UNITS.items()}
            print_table(a.workload, {k: v for k, (v, _u) in metrics.items()})
            print(
                f"tracing overhead: traced {layers['traced_docs_per_s']:.1f} docs/s vs "
                f"untraced {layers['untraced_docs_per_s']:.1f} docs/s; spans in {path}"
            )
    finally:
        shutdown()
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} documents)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
