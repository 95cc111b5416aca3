"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 15 --trace 0

Run it from the repository root.  One process runs one workload at
``local[<nproc>]``: it starts the session, warms every plan shape up on
a tiny input, generates the workload's inputs from ``--seed``, runs the
timed part, checks the outputs against independent references, and
prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}`` carrying the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``, with spans and Spark probes on).  The line before it is
the run's detail record (environment evidence, check results, every
metric), also written to ``.perfbench/out/``.

Everything the run writes (inputs, checkpoints, state, the Spark
warehouse, local and temp dirs) lives under a per-run directory in
``.perfbench/`` and is removed when the run ends.

The timed part is a fixed cycle of work (see ``workloads.py``), so a
faster host measures the same work; ``--seconds`` is accepted and kept
in the detail record, and sets no window.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time

SPAN_LAYERS = (
    "bench", "plans", "sources", "operators.compaction", "streaming.compact_jvm",
    "streaming.commitlog", "streaming.dedup_stream", "operators.dump", "catalyst",
)


def metric_units(root: str, kind: str) -> dict[str, str]:
    """The ``kind`` ("end_to_end" or "per_layer") metrics BENCHMARK.json
    declares, with their units, in declaration order."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _cpu_times() -> tuple[int, int, int]:
    """(idle incl. iowait, steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[3] + v[4], v[7], sum(v[:8])


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _stop_jvm() -> None:
    """End the JVM the session launched and wait for it: it exits when
    its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "mysql_cdc_redis_spark", "__init__.py")):
        print("perfbench: run from the repository root: mysql_cdc_redis_spark/ "
              "is not in the current directory", file=sys.stderr)
        return 2

    # every file the run writes stays under one per-run directory
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    base = os.path.join(root, ".perfbench")
    run_dir = os.path.join(base, "runs", run_id)
    for d in ("tmp", "jtmp", "local", "warehouse", "work"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(run_dir, "tmp")
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    sys.path.insert(0, root)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, run_id, run_dir, base, env_cpus)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_id: str, run_dir: str, base: str, env_cpus: str | None) -> int:
    from mysql_cdc_redis_spark.session import get_spark

    import spans
    from workloads import WORKLOADS, Clock, Outcome, SpeedProbe

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = spans.Tracer(run_id, enabled=bool(args.trace))
    out = Outcome()

    # set-up is timed in CPU seconds, like the timed part: the Python
    # process from here on, plus the JVM from its launch
    py0, wall0 = time.process_time(), time.perf_counter()
    probe = SpeedProbe()
    probe.start()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.local.dir": os.path.join(run_dir, "local"),
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": "-Xms2g -Djava.io.tmpdir=" + os.path.join(run_dir, "jtmp"),
        },
    )
    try:
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        clock = Clock(jvm_pid, probe)
        start_s = clock.now()[1] - py0
        progress = spans.ProgressListener()
        spark.streams.addListener(progress)
        queries = spans.QueryListener()
        if args.trace:
            spark._jsparkSession.listenerManager().register(queries)
        wl = WORKLOADS[args.workload](
            spark, os.path.join(run_dir, "work"), tracer, progress, clock, queries
        )
        t = clock.now()
        wl.warmup()
        _, warmup_s = clock.since(t)
        t = clock.now()
        wl.generate(args.seed)
        _, generate_s = clock.since(t)
        setup_s = clock.now()[1] - py0
        walls = {"setup": time.perf_counter() - wall0}

        if args.trace:
            spans.install_probes(tracer)
            queries.enabled = True
        probe.mark("timed")
        cpu0 = _cpu_times()
        with tracer.span("timed", spans.HARNESS):
            wl.timed(out)
        cpu1 = _cpu_times()
        probe.mark("after")
        walls["timed"] = time.perf_counter() - wall0 - walls["setup"]
        queries.enabled = False
        tracer.uninstall()

        # time metrics in reference seconds: scaled by how fast the host
        # ran the probe loop in the same phase (workloads.SpeedProbe)
        k_setup, k_timed = probe.scale("setup"), probe.scale("timed")
        out.layer.update({
            "host.speed_setup": probe.speed("setup"), "host.speed_timed": probe.speed("timed"),
            "raw.setup_s": setup_s, "raw.cpu_s": out.metrics["cpu_s"],
        })
        out.metrics["setup_s"] = setup_s * k_setup
        for k in ("cpu_s", "increment_cpu_s"):
            out.metrics[k] *= k_timed
        out.metrics["events_per_cpu_s"] /= k_timed
        out.metrics["peak_rss_mb"] = _vm_hwm_mb(jvm_pid)
        t = time.perf_counter()
        wl.check(out)
        walls["check"] = time.perf_counter() - t
        out.metrics["ok_share"] = 1.0 - out.failed / out.attempted

        sc = spark.sparkContext
        d_total = max(cpu1[2] - cpu0[2], 1)
        env = {
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "nproc": _nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "SPARK_GRAFT_CPUS_before_run": env_cpus,
            "idle_share_timed": (cpu1[0] - cpu0[0]) / d_total,
            "steal_share_timed": (cpu1[1] - cpu0[1]) / d_total,
            "speed_probe_samples": {k: len(v) for k, v in probe.samples.items()},
            "phase_wall_s": walls,
            "page_cache_flushed": False,
            "page_cache_note": "no flush is attempted: /proc/sys/vm/drop_caches is not "
                               "writable in an unprivileged container; inputs are "
                               "generated in the run, so they start in the page cache",
        }
        if args.trace:
            layer = dict(out.layer)
            layer.update(spans.plan_stats(queries, tracer))
            layer.update(tracer.summary())
            root = next(s for s in tracer.spans if s["name"] == "timed")
            wall = root["end"] - root["start"]
            selfs = tracer.self_times(root["id"])
            for name in SPAN_LAYERS:
                layer[f"self_s.{name}"] = selfs.get(name, 0.0)
            layer["trace.wall_s"] = wall
            layer["trace.attributed_share"] = 1.0 - selfs.get(spans.HARNESS, 0.0) / wall
            layer["session.start_s"] = start_s
            layer["session.warmup_s"] = warmup_s
            layer["session.generate_s"] = generate_s
            # a layer the workload never enters reads 0
            units = metric_units(os.getcwd(), "per_layer")
            metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
        else:
            units = metric_units(os.getcwd(), "end_to_end")
            metrics = {k: {"value": float(out.metrics[k]), "unit": u} for k, u in units.items()}
        wl.cleanup()
    finally:
        probe.stop()
        spark.stop()
        _stop_jvm()

    detail = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "env": env,
        "checks": out.checks, "failed_share": out.failed / out.attempted,
        "end_to_end": out.metrics, "layers": out.layer if not args.trace else
        {k: v["value"] for k, v in metrics.items()},
    }
    os.makedirs(os.path.join(base, "out"), exist_ok=True)
    with open(os.path.join(base, "out", f"{run_id}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    if args.trace:
        with open(os.path.join(base, "out", f"{run_id}.spans.json"), "w") as f:
            json.dump(tracer.spans, f)
    print(json.dumps(detail, sort_keys=True))
    print(json.dumps({
        "correct": out.failed == 0 and all(out.checks.values()),
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
