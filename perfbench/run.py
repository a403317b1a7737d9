"""Crawl benchmark: one command, two workloads, every metric by name and unit.

    python3 perfbench/run.py --workload crawl_bfs --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it builds nothing and writes only
under ``.bench_work/`` there. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1``
the per-layer ones (see BENCHMARK.json). A pass counts as failed when
it raises or its output check fails.

A run: start the session (sized to the host: heap from MemTotal, one
core per CPU, repository root on PYTHONPATH; every other setting is the
program's own), generate the seeded inputs three times, run the warm-up
(crawl_bfs: one unmeasured crawl of the same inputs; crawl_resume: the
killed crawl whose checkpoint every pass resumes), then measured passes
while they fit in ``--seconds`` (at least one). Every pass's output is
checked. Each end-to-end metric is the median over the measured passes;
setup_s is the session start plus the median input generation.

Spark's local directory (shuffle and spill) is a per-run directory on
tmpfs, as the program's default is, and is removed at exit. A traced
run traces its first measured pass, the one an untraced run measures,
and reports its pass time minus the untraced run's (same workload, same
seed, read from ``.bench_work/``) as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PINNED = os.path.join(HERE, "pinned.json")
DEADLINE_S = 150  # stop starting passes after this; a run must end within 180 s
SHM = "/dev/shm"  # tmpfs, where the program puts its shuffle files by default


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def fit_host() -> dict[str, str]:
    """Session settings sized to this host, passed to the program
    through its environment. The heap is a quarter of MemTotal, which
    leaves room for the Python workers and the tmpfs shuffle files."""
    with open("/proc/meminfo") as f:
        mem_mb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) // 1024
    heap_mb = max(1024, min(8192, mem_mb // 4)) // 256 * 256
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    shm_ok = os.path.isdir(SHM) and os.access(SHM, os.W_OK)
    local_dir = os.path.join(SHM, f"perfbench-{os.getpid()}") if shm_ok else os.path.join(WORK, "spark-local")
    return {
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_LOCAL_DIR": local_dir,
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=["crawl_bfs", "crawl_resume"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=["full", "tiny"], default="full",
                   help="tiny: smoke-test sizes, without the wave-shape checks")
    return p.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench {process_age_s():7.2f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "webcrawlergo_spark", "plans", "wave.py")):
        print(f"error: no webcrawlergo_spark package under {ROOT}", file=sys.stderr)
        return 2
    settings = fit_host()
    os.environ.update(settings)
    for k in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_CPUS", "PYTHONPATH", "SPARK_GRAFT_LOCAL_DIR"):
        print(f"{k}={settings[k]}")
    sys.path.insert(0, ROOT)

    from webcrawlergo_spark.session import get_spark

    cpus = int(settings["SPARK_GRAFT_CPUS"])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }
    if args.trace:
        # the status store backs the traced counters; keep every job
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    try:
        spark = get_spark(f"perfbench-{args.workload}", cpus=cpus, extra_conf=conf)
        try:
            return run(args, spark, cpus, settings)
        finally:
            shutdown(spark)
    finally:
        shutil.rmtree(settings["SPARK_GRAFT_LOCAL_DIR"], ignore_errors=True)


def run(args, spark, cpus: int, settings: dict[str, str]) -> int:
    import spans
    import workloads

    session_s = process_age_s()
    specs = workloads.TINY_SPECS if args.size == "tiny" else workloads.SPECS
    spec = specs[args.workload]
    with open(PINNED) as f:
        pinned = json.load(f).get(f"{args.workload}/{args.size}/seed{args.seed}")
    tracer = spans.Tracer(spark, enabled=False)
    if args.workload == "crawl_bfs":
        wl = workloads.CrawlBfs(spark, spec, args.seed, tracer)
    else:
        wl = workloads.CrawlResume(spark, spec, args.seed, tracer, WORK)

    gens = []
    for _ in range(workloads.SETUP_REPS):
        t = time.perf_counter()
        wl.generate()
        gens.append(time.perf_counter() - t)
    setup_s = session_s + median(gens)
    t = time.perf_counter()
    wl.prepare()
    log(f"session {session_s:.2f}s, inputs {[round(g, 2) for g in gens]}, warm-up {time.perf_counter() - t:.2f}s")

    passes, attempted, failed = [], 0, 0
    sampler = spans.MemSampler(settings["SPARK_GRAFT_LOCAL_DIR"] if args.trace else None)
    if args.trace:
        wl.tracer = tracer = spans.Tracer(spark, enabled=True)
    t_measure = time.perf_counter()
    with sampler:
        while True:
            attempted += 1
            try:
                with workloads.traced_checkpoint_store(tracer):
                    p = wl.measured_pass()
                errs = wl.check(pinned)
            except Exception:
                traceback.print_exc()
                p, errs = None, ["raised"]
            if errs:
                failed += 1
                log(f"pass {attempted} failed: {errs}")
            if p is not None:
                passes.append(p)
            log(f"pass {attempted}: {p} shape={getattr(wl, 'shape', None)} digests={getattr(wl, 'digests', None)}")
            elapsed = time.perf_counter() - t_measure
            # a traced run measures one pass; an untraced run starts
            # another only if it can end within --seconds, so the
            # measured time stays near --seconds however fast a pass is
            if args.trace or elapsed * (attempted + 1) / attempted > args.seconds:
                break
            if process_age_s() + elapsed / attempted > DEADLINE_S:
                break

    untraced = os.path.join(WORK, f"untraced-{args.workload}-{args.size}-seed{args.seed}.json")
    if not args.trace:
        metrics = {
            "pass_s": (median([p["pass_s"] for p in passes]), "s"),
            "urls_per_s": (median([p["urls_per_s"] for p in passes]), "1/s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (sampler.peak_tree_mb, "MB"),
        }
        if passes and not failed:
            with open(untraced, "w") as f:
                json.dump({"pass_s": metrics["pass_s"][0]}, f)
    else:
        import layers

        metrics = layers.per_layer(
            spark, wl, tracer, passes, cpus, session_s, sampler, untraced_pass_s(untraced)
        )
    out = {
        "correct": failed == 0 and bool(passes),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    if args.trace:
        tracer.write(os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl"))
    log("measured")
    print(json.dumps(out))
    return 0


def untraced_pass_s(path: str) -> float | None:
    """The untraced pass time the tracing overhead is taken against: the
    untraced run of the same workload and seed in this checkout, else
    the median of the untraced runs of the workload at other seeds."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["pass_s"]
    prefix = os.path.basename(path).rsplit("-seed", 1)[0] + "-seed"
    others = []
    for name in os.listdir(os.path.dirname(path)):
        if name.startswith(prefix):
            with open(os.path.join(os.path.dirname(path), name)) as f:
                others.append(json.load(f)["pass_s"])
    if others:
        log(f"no untraced run of this seed; overhead taken against the median of {len(others)} other seeds")
        return median(others)
    log("no untraced run of this workload in this checkout; trace.overhead_s reads 0")
    return None


def shutdown(spark) -> None:
    """Stop Spark, then the JVM, and wait until every child has ended."""
    from pyspark import SparkContext

    import spans

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = spans.descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while time.time() < deadline and any(spans.alive(k) for k in kids):
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
