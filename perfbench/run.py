"""Benchmark of mrmr_spark on local Spark: end-to-end and per-layer metrics.

    python3 perfbench/run.py --workload {selection,curation} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed`` and
cached under ``.perfbench/`` in the checkout; all Spark scratch space is there
too. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` measures the end-to-end metrics with tracing off:

* ``run_s``: median wall seconds of one warm iteration;
* ``cpu_s``: median CPU seconds per iteration of the whole process tree
  (Python driver, JVM, Python workers), from /proc;
* ``setup_s``: process start to the first timed iteration — session start,
  Python-worker start, the cold first iteration and the warm-up iterations;
  writing the seeded inputs is excluded.

The iteration count is fixed by ``--seconds`` and the workload (never by
measured speed), so two builds get the same number of samples. After each
iteration the number of frames left persisted is recorded and the cache is
cleared, so no iteration reuses the previous one's frames. Every iteration's
output is checked against an oracle computed once, outside timing; the
``error_rate`` line counts the iterations that failed or mismatched.

Every warm iteration re-compiles tens to hundreds of generated classes, and
the JIT compiles them again, which costs most of an iteration's CPU at first
and falls over the next iterations; the untimed warm-up iterations (a fixed
count per workload) let that settle before timing.

``--trace 1`` runs the cold and warm-up iterations, one reference iteration
whose jobs are labelled by Spark job group, and then the workload as a chain
of its layers' public calls, one span each. It writes the spans and
per-stage counters to ``.perfbench/traces/`` and reports the per-layer
metrics, plus ``trace.overhead_s``: the traced chain's total minus the
reference wall time.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import procfs  # noqa: E402
import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Seconds of ``--seconds`` per timed iteration: only turns ``--seconds``
#: into a fixed iteration count (2 for both at the benchmark's 20 s). A warm
#: iteration takes ~9-10 s (selection) and ~8 s (curation) on 4 cores.
SECONDS_PER_ITER = {"selection": 10.0, "curation": 9.0}
#: Untimed warm iterations after the cold one, inside ``setup_s``. With none,
#: the per-run medians of cpu_s differed by up to 25% between processes. More
#: warm-up steadies them further but makes a run too long.
WARMUP_ITERS = {"selection": 1, "curation": 1}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SECONDS_PER_ITER))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def check_checkout() -> None:
    """Fail fast outside a checkout: the library, the sift oracle and the
    exact-check normalization are read from the repo next to this directory."""
    need = ["mrmr_spark/__init__.py", "tests/oracle_sift.py", "tools/check_exact.py"]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: not a mrmr_spark checkout, missing {missing}\n")
        sys.exit(2)


def worker_env(work: str) -> int:
    """Environment for the driver and the Python workers; returns cores.

    The workers start outside the repo root, so the root goes on PYTHONPATH
    before the session starts. Cores are the affinity count, as
    ``env -u OMP_NUM_THREADS nproc`` gives it."""
    cores = len(os.sched_getaffinity(0))
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for var in ("OPENBLAS_NUM_THREADS", "OMP_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests"), os.path.join(ROOT, "tools")]
    return cores


def start_spark(work: str, cores: int):
    from mrmr_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # as bench.py; finer splits of the ~2 MB corpus cost 20% more
            # CPU per selection iteration on 4 cores
            "spark.sql.files.maxPartitionBytes": str(8 << 20),
            "spark.sql.inMemoryColumnarStorage.compressed": "false",
            "spark.sql.inMemoryColumnarStorage.batchSize": "65536",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def frames_left(spark) -> int:
    return int(spark.sparkContext._jsc.getPersistentRDDs().size())


def versions(spark, cores: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {"spark": spark.version, "java": jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(), "cores": cores}


def run(args) -> int:
    check_checkout()
    work = os.path.join(ROOT, ".perfbench")
    cores = worker_env(work)
    if args.workload == "selection":
        import selection as mod
    else:
        import curation as mod

    t0 = time.perf_counter()
    data = mod.prepare(work, args.seed)
    input_write_s = time.perf_counter() - t0

    try:
        spark = start_spark(work, cores)
        wl = mod.Workload(spark, data, args.seed)
        wl.cold()  # plan/codegen compile, Python-worker start and imports
        spark.catalog.clearCache()
        for _ in range(WARMUP_ITERS[args.workload]):
            wl.iteration()
            spark.catalog.clearCache()
        setup_s = time.perf_counter() - T_START - input_write_s
        info = {"workload": args.workload, "seed": args.seed, "setup_s": setup_s,
                "input_write_s": input_write_s, **versions(spark, cores)}
        if args.trace:
            return traced(spark, wl, args, cores, work, info)
        return timed(spark, wl, args, info)
    finally:
        stop_spark()


def stop_spark() -> None:
    """Stop the session and wait until the JVM and the Python workers under
    it have ended. The JVM only exits once it reads EOF on the stdin pipe the
    launcher gave it, which would otherwise happen after this process exits,
    so the pipe is closed here; whatever is still alive is then terminated."""
    from pyspark import SparkContext

    procs = procfs.descendants()
    gateway = SparkContext._gateway
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        procs.update(procfs.descendants())
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.stdin is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
        procfs.end_all(procs)
        if proc is not None:
            proc.wait()


def _exit_on_sigterm(signum, frame):
    raise SystemExit(128 + signum)


def timed(spark, wl, args, info) -> int:
    n_iter = max(1, round(args.seconds / SECONDS_PER_ITER[args.workload]))
    samples, outputs = [], []
    for i in range(n_iter):
        c0, s0, w0 = procfs.tree_cpu_s(), procfs.stat_counters(), time.perf_counter()
        try:
            out = wl.iteration()
        except Exception:
            traceback.print_exc()
            out = None
        wall = time.perf_counter() - w0
        samples.append({"i": i, "run_s": wall, "cpu_s": procfs.tree_cpu_s() - c0,
                        "steal_pct": procfs.steal_pct(s0, procfs.stat_counters()),
                        "loadavg_1m": procfs.loadavg_1m(),
                        "frames_left": frames_left(spark), "ok": out is not None})
        outputs.append(out)
        spark.catalog.clearCache()

    exp = wl.oracle()
    failed = sum(1 for o in outputs if o is None or not wl.matches(o, exp))
    for s, o in zip(samples, outputs):
        print(json.dumps({"sample": s, "output_matches_oracle": o is not None
                          and wl.matches(o, exp)}))
    run_s = statistics.median(s["run_s"] for s in samples)
    cpu_s = statistics.median(s["cpu_s"] for s in samples)
    print(json.dumps({"info": info, "oracle": exp, "peak_rss_mb":
                      procfs.tree_peak_rss_mb()}))
    print(f"{args.workload}: run_s={run_s:.4f} s  cpu_s={cpu_s:.4f} s  "
          f"setup_s={info['setup_s']:.4f} s  error_rate={failed / n_iter:.4f} "
          f"({failed}/{n_iter})")
    print(json.dumps({
        "correct": failed == 0, "attempted": n_iter, "failed": failed,
        "metrics": {"run_s": {"value": run_s, "unit": "s"},
                    "cpu_s": {"value": cpu_s, "unit": "s"},
                    "setup_s": {"value": info["setup_s"], "unit": "s"}},
    }))
    return 0


def traced(spark, wl, args, cores, work, info) -> int:
    per_layer = _per_layer()
    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    tr = spans.Tracer(spark, run_id)
    jvm0 = jvm_counters(spark)
    with tr.span("reference") as ref:
        ref_out = wl.iteration(tr)
    jvm1 = jvm_counters(spark)
    left = frames_left(spark)
    spark.catalog.clearCache()
    ref_stages = tr.subtree(ref)

    c0 = time.perf_counter()
    layer = wl.traced_chain(tr, ref, cores)
    chain_s = time.perf_counter() - c0
    spark.catalog.clearCache()

    sp = spans.summarize(ref_stages, ref.wall, cores)
    metrics = {name: 0.0 for name in per_layer}
    metrics.update(layer)
    metrics.update({f"spark.{k}": sp[k] for k in (
        "jobs", "stages", "skipped_stages", "tasks", "busy_s", "slot_idle_share", "gc_s",
        "shuffle_write_mb", "spill_mb", "peak_exec_mem_mb")})
    metrics.update({
        "spark.codegen_compiles": jvm1[0] - jvm0[0], "jvm.jit_s": jvm1[1] - jvm0[1],
        "cache.frames_left": left, "proc.peak_rss_mb": procfs.tree_peak_rss_mb(),
        "trace.overhead_s": chain_s - ref.wall,
    })
    unknown = sorted(set(metrics) - set(per_layer))
    if unknown:
        raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {unknown}")

    exp = wl.oracle()
    ok = wl.matches(ref_out, exp)
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    path = os.path.join(work, "traces", f"{run_id}.json")
    tr.dump(path, {"info": info, "reference_wall_s": ref.wall, "chain_s": chain_s,
                   "metrics": metrics})
    print(json.dumps({"info": info, "trace_file": os.path.relpath(path, ROOT),
                      "reference_wall_s": ref.wall, "chain_s": chain_s,
                      "oracle": exp}))
    print(json.dumps({
        "correct": ok, "attempted": 1, "failed": 0 if ok else 1,
        "metrics": {k: {"value": v, "unit": per_layer[k]} for k, v in metrics.items()},
    }))
    return 0


def jvm_counters(spark) -> tuple[int, float]:
    """(generated classes compiled by Spark's code generator, seconds the
    JIT compilers have spent) in the driver JVM so far."""
    jvm = spark.sparkContext._jvm
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    jit = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return int(codegen.getCount()), jit.getTotalCompilationTime() / 1e3


def _per_layer() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _exit_on_sigterm)  # run the clean-up on SIGTERM too
    sys.exit(run(parse_args(sys.argv[1:])))
