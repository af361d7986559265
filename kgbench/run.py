#!/usr/bin/env python3
"""kgbench: end-to-end and per-layer benchmark of the KG pipeline.

    python3 kgbench/run.py --workload pages_kg --seed 1 --seconds 10 --trace 0
    python3 kgbench/run.py --workload all

Runs from the root of a source checkout (the package is imported from
there, nothing is installed) on local[<nproc>] with shuffle partitions
equal to the core count.  Per run:

1. the JVM is launched with a first session (timed and printed, not a
   metric: its time is mostly the host's process start-up noise) while
   the inputs are generated from --seed (not timed);
2. set-up: three rounds, each of which stops the session, builds a new
   one with the package's get_spark in the running JVM and runs the
   workload's set-up step (entity_zipf materializes its triples; the
   others open and count their input); `setup_s` is the median round.
   Untimed warm-up passes follow (one for pages_kg, two for the
   others).  The first compiles the plans and loads the Python
   workers and takes about three times a later pass; pass time then
   keeps falling for several passes while the JIT compiles the plans'
   generated code, over the second pass most steeply for export_json;
3. passes of the workload back to back (closed loop, one job chain at
   a time), each followed by the output checks in checks.py, until
   three passes have run and --seconds have passed.  A pass that
   raises or fails a check counts as failed.  Times are taken from the
   first three passes only, so every version of the code is timed at
   the same point of the warm-up curve however many passes fit in
   --seconds.  `wall_s` and `cpu_s` are those of the best of the three
   (other tenants of the host and leftover JIT work only add time);
   the median and quartiles are printed beside them.

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer ones
(untraced and traced passes alternate; the difference of their
medians is the tracing overhead).  Metric names, units and
their direction come from BENCHMARK.json at the checkout root.  The
last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}; a fuller record
(provenance, every pass, every span) goes to
.kgbench_out/<workload>-s<seed>-t<trace>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("pages_kg", "entity_zipf", "export_json")
SETUP_ROUNDS = 3
# passes timed after the workload's untimed warm-up passes
TIMED_PASSES = 3


def fail(msg: str, code: int = 2):
    print(f"kgbench: {msg}", file=sys.stderr)
    sys.exit(code)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def git_commit() -> str:
    """HEAD of the checkout, or "unknown" outside a git repository."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        res = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return res.stdout.strip() if res.returncode == 0 else "unknown"


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def prepare_env(work: str) -> None:
    """Keep every file Spark writes inside the checkout and let the
    Python workers import the package from it."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + pp if pp else "")


def start_session(work: str, cores: int):
    from project_discord_knowledge_graph_spark.session import get_spark

    spark = get_spark("kgbench", master=f"local[{cores}]",
                      shuffle_partitions=cores, extra={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.local.dir": f"{work}/spark-local",
                          "spark.sql.warehouse.dir": f"{work}/warehouse",
                          # no hsperfdata file under /tmp
                          "spark.driver.extraJavaOptions":
                              f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark, tree) -> None:
    """Stop Spark, end the gateway JVM and wait for every process it
    started (pyspark daemon and workers) to be gone."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    tree.wait_descendants_gone()


def cpu_pressure() -> float | None:
    """Share of the last 60 s in which some runnable task of this
    machine waited for a CPU (Linux PSI)."""
    try:
        with open("/proc/pressure/cpu") as f:
            return float(f.readline().split()[2].split("=")[1])
    except (OSError, IndexError, ValueError):
        return None


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) clock ticks of all CPUs from /proc/stat.  Steal
    is time the hypervisor ran something else on this machine's CPUs;
    other tenants of a shared host show up there."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def provenance(seed: int, cores: int) -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {"seed": seed, "nproc": cores, "loadavg_before":
            list(os.getloadavg()), "cpu_pressure_before": cpu_pressure(),
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__,
            "python": platform.python_version(), "commit": git_commit(),
            "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}


# ------------------------------------------------------------ one workload

def run_workload(args, spec: dict) -> int:
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    try:
        import checks
        import layers
        import procs
        from spans import Tracer
        import workloads
        from sparkstats import SparkStats
    except ImportError as e:
        fail(f"cannot import the package under test from {ROOT}: {e}")
    work = os.path.join(ROOT, ".kgbench_work",
                        f"{args.workload}-{os.getpid()}")
    prepare_env(work)

    wl = workloads.WORKLOADS[args.workload]
    cores = nproc()
    prov = provenance(args.seed, cores)
    tree = procs.ProcTree()
    pins = (checks.PINS[wl.name] if args.seed == checks.DEFAULT_SEED
            else None)
    spark = None
    record: dict = {"workload": wl.name, "trace": args.trace,
                    "provenance": prov, "passes": [], "setup_rounds": []}
    try:
        def launch():
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            record["jvm_start_s"] = time.perf_counter() - t0
            return spark

        # inputs that need no Spark are written while the JVM starts
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            jvm = pool.submit(launch)
            src = wl.inputs(jvm.result, f"{work}/in", args.seed)
            spark = jvm.result()
        record["inputs_s"] = time.perf_counter() - t0
        for _ in range(SETUP_ROUNDS):
            spark.stop()  # the JVM and its gateway stay up
            t0 = time.perf_counter()
            spark = start_session(work, cores)
            src = wl.setup(spark, f"{work}/in", args.seed, src)
            record["setup_rounds"].append(time.perf_counter() - t0)
        out = f"{work}/out"
        record["warmup_s"] = []
        for _ in range(wl.warmup):
            t0 = time.perf_counter()
            wl.run(spark, src, out)
            record["warmup_s"].append(time.perf_counter() - t0)

        def one_pass(traced: bool) -> dict:
            p: dict = {"traced": traced}
            tr = None
            tree.reset_peak()
            c0 = tree.cpu_s()
            k0 = cpu_ticks()
            t0 = time.perf_counter()
            try:
                if traced:
                    tr = Tracer(spark, SparkStats(spark),
                                f"pass{len(record['passes'])}")
                    with tr.span("pass"):
                        wl.traced(spark, tr, src, out)
                else:
                    wl.run(spark, src, out)
            except Exception:
                p["error"] = traceback.format_exc()
            p["wall_s"] = time.perf_counter() - t0
            p["cpu_s"] = tree.cpu_s() - c0
            k1 = cpu_ticks()
            p["steal_share"] = (k1[0] - k0[0]) / max(1, k1[1] - k0[1])
            p["peak_rss_mb"] = tree.peak_rss_mb()
            if "error" not in p:
                t0 = time.perf_counter()
                try:
                    p["facts"], p["failed_checks"] = checks.check(
                        spark, out, has_triples=wl.triples,
                        has_graph=wl.graph, pins=pins)
                except Exception:
                    p["error"] = traceback.format_exc()
                p["check_s"] = time.perf_counter() - t0
            p["ok"] = "error" not in p and not p.get("failed_checks")
            if tr is not None:
                p["spans"] = tr.finish()
            record["passes"].append(p)
            return p

        # untraced passes; with --trace 1 they alternate with traced
        # ones, so both kinds see the same JIT warm-up
        t_begin = time.perf_counter()
        while (len(record["passes"]) < TIMED_PASSES
               or time.perf_counter() - t_begin < args.seconds):
            one_pass(bool(args.trace) and len(record["passes"]) % 2 == 1)
    finally:
        t0 = time.perf_counter()
        try:
            stop_jvm(spark, tree)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        record["stop_s"] = time.perf_counter() - t0
    prov["loadavg_after"] = list(os.getloadavg())
    prov["cpu_pressure_after"] = cpu_pressure()

    passes = record["passes"]
    failed = sum(not p["ok"] for p in passes)
    for p in passes:
        if not p["ok"]:
            print(f"{wl.name}: failed pass: "
                  f"{p.get('error') or p.get('failed_checks')}",
                  file=sys.stderr)
    # time the measured passes that passed their checks; if none did,
    # the ones that at least ran (the result then says correct: false)
    timed = passes[:TIMED_PASSES]
    ran = [p for p in timed if "error" not in p and not p["traced"]]
    good = [p for p in ran if p["ok"]] or ran
    if not good:
        fail(f"{wl.name}: every pass raised", code=1)

    setup = statistics.median(record["setup_rounds"])
    # the best timed pass: other tenants of the host and the JIT's
    # remaining work only ever add time to a pass
    walls = [p["wall_s"] for p in good]
    q1, med, q3 = quartiles(walls)
    wall = min(walls)
    rows = statistics.median(
        p["facts"]["n_triples" if wl.triples else "n_edges"]
        for p in good)
    e2e = {"setup_s": setup, "wall_s": wall, "triples_per_s": rows / wall,
           "cpu_s": min(p["cpu_s"] for p in good),
           "peak_rss_mb": statistics.median(p["peak_rss_mb"] for p in good)}
    print(f"# {json.dumps(prov)}")
    print(f"{wl.name} passes={len(passes)} failed={failed} "
          f"failed_ratio={failed / len(passes):.4f} rows={rows:g}")
    print(f"{wl.name} wall_s min={wall:.4f} p25={q1:.4f} median={med:.4f} "
          f"p75={q3:.4f} "
          f"n={len(walls)} steal_share="
          + ",".join(f"{p['steal_share']:.3f}" for p in good))
    print(f"{wl.name} peak_rss_mb = {e2e['peak_rss_mb']:.1f} MB"
          " (not in BENCHMARK.json)")
    print(f"{wl.name} jvm_start_s = {record['jvm_start_s']:.4f} s"
          " (not in BENCHMARK.json)")
    print(f"{wl.name} setup_s rounds="
          + ",".join(f"{x:.4f}" for x in record["setup_rounds"])
          + " (warm-up passes "
          + ",".join(f"{x:.4f}" for x in record["warmup_s"]) + ")")
    if args.trace:
        traced = [p for p in timed if p["traced"] and "error" not in p]
        if not traced:
            fail(f"{wl.name}: every traced pass raised", code=1)
        values = layers.per_layer(traced, med)
        want = spec["per_layer"]
    else:
        values = e2e
        want = spec["end_to_end"]
    metrics = {}
    for m in want:
        metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        print(f"{wl.name} {m['name']} = {values[m['name']]:.6g} {m['unit']}")
    record["metrics"] = metrics
    record["e2e"] = e2e
    os.makedirs(os.path.join(ROOT, ".kgbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".kgbench_out",
                           f"{wl.name}-s{args.seed}-t{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": len(passes),
                      "failed": failed, "metrics": metrics}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, one after the other."""
    total = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write(res.stdout)
        if res.returncode != 0:
            fail(f"{name} exited with {res.returncode}", code=1)
        last = json.loads(res.stdout.strip().splitlines()[-1])
        total["correct"] &= last["correct"]
        total["attempted"] += last["attempted"]
        total["failed"] += last["failed"]
        for k, v in last["metrics"].items():
            total["metrics"][f"{name}.{k}"] = v
    print(json.dumps(total))
    return 0


def main() -> int:
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail(f"{spec_path} not found")
    with open(spec_path) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="all",
                    choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload == "all":
        return run_all(args)
    return run_workload(args, spec)


if __name__ == "__main__":
    sys.exit(main())
