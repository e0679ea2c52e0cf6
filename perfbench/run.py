"""Run one benchmark workload, or all of them, and print the metrics.

    python3 perfbench/run.py --workload er_febrl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

One process drives ``local[<cores>]`` and runs one closed loop: the
next iteration starts when the previous one has finished and been
checked. The last line of standard output is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``; the line before
it stamps the machine, commit, seed and PySpark version. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer metrics.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Seed kept out of every tuning run: re-check a gain claim on it.
HELD_OUT_SEED = 20261017
PREPARE_REPEATS = 3

# metric names and units, as BENCHMARK.json declares them
_BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def machine() -> dict:
    """Cores this process may use and total memory, from the kernel."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    # a quarter of the machine, at most 2 GiB: the box may be shared
    driver_mb = min(2048, total_kb // 1024 // 4)
    return {"cores": cores, "mem_total_mb": total_kb // 1024, "driver_mb": driver_mb}


def commit() -> str:
    """HEAD of the checkout, or "unknown" outside a git work tree."""
    git = ROOT / ".git"
    try:
        ref = (git / "HEAD").read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        if (git / name).exists():
            return (git / name).read_text().strip()
        for line in (git / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def start_session(box: dict, work: Path):
    """``get_spark`` sized to this machine, with every scratch file
    (shuffle, spill, checkpoints, JVM temp) under ``work``."""
    from sparklyclean_spark import get_spark

    cores = box["cores"]
    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{box['driver_mb']}m",
            # replaces the package default (-Xms8g). -Xms equal to the heap
            # keeps the collector from resizing the heap between runs;
            # compiler threads that never exit let /proc tell JIT CPU
            # apart (tracing.ProcTree)
            "spark.driver.extraJavaOptions": (
                f"-Xms{box['driver_mb']}m -XX:ReservedCodeCacheSize=512m "
                "-XX:-UseDynamicNumberOfCompilerThreads -XX:-UsePerfData "
                f"-Djava.io.tmpdir={work / 'tmp'}"
            ),
            "spark.sql.shuffle.partitions": str(2 * cores),
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def measure(args, box: dict, work: Path) -> tuple[dict, dict]:
    """Set up, run the closed loop for ``args.seconds``, and return
    ``(result, spans)``."""
    from sparklyclean_spark.cache import release_caches
    from tracing import SPARK_KEYS, JvmMemory, ProcTree, Tracer, median
    from workloads import WORKLOADS

    procs = ProcTree()
    t = time.perf_counter()
    spark = start_session(box, work)
    session_s = time.perf_counter() - t
    try:
        tracer = Tracer(spark, bool(args.trace), procs)
        wl = WORKLOADS[args.workload](spark, str(work), args.seed)
        prepares = []
        for _ in range(PREPARE_REPEATS):
            t = time.perf_counter()
            wl.prepare()
            prepares.append(time.perf_counter() - t)
        # build and warm-up run once: JIT, codegen and Python-worker
        # start belong to set-up, not to the measured runs
        t = time.perf_counter()
        wl.build(tracer)
        release_caches()
        warmups = []
        for _ in range(wl.warmup_runs):
            t0 = time.perf_counter()
            with tracer.span("warmup"):
                if not wl.run(tracer)[2]:
                    raise RuntimeError(f"{args.workload}: warm-up output failed its check")
            warmups.append(round(time.perf_counter() - t0, 2))
        setup_s = session_s + statistics.median(prepares) + time.perf_counter() - t

        runs = []
        procs.start_sampling(JvmMemory(spark))
        deadline = time.perf_counter() + args.seconds
        # at least two runs, so the median is never one run alone. A
        # traced run alternates traced and untraced iterations, so the
        # difference of their medians is the tracing overhead.
        while time.perf_counter() < deadline or len(runs) < 2:
            traced = bool(args.trace) and len(runs) % 2 == 0
            tracer.enabled, tracer.run_id = traced, len(runs) + 1
            c0, t = ProcTree.cpu(procs.snapshot()), time.perf_counter()
            try:
                with tracer.span("run"):
                    recall, precision, ok = wl.run(tracer)
            except Exception:  # a failed operation is counted, not fatal
                traceback.print_exc()
                recall, precision, ok = 0.0, 0.0, False
            runs.append({
                "traced": traced, "ok": ok, "recall": recall, "precision": precision,
                "wall_s": time.perf_counter() - t,
                "cpu_s": ProcTree.cpu(procs.snapshot()) - c0,
            })
        procs.stop_sampling()
        print(
            f"perfbench: {args.workload} session {session_s:.2f} s, set-up {setup_s:.2f} s, "
            f"warm-up runs {warmups} s, runs (wall s, cpu s) {[(round(r['wall_s'], 2), round(r['cpu_s'], 2)) for r in runs]}",
            file=sys.stderr,
        )

        def med(key, traced=False):
            return median([r[key] for r in runs if r["traced"] == traced])

        if not args.trace:
            metrics = {
                "setup_s": setup_s,
                "wall_s": med("wall_s"),
                "cpu_s": med("cpu_s"),
                "peak_mem_mb": procs.peak_mem_mb,
                "recall": med("recall"),
                "precision": med("precision"),
            }
            units, oks = END_TO_END, [r["ok"] for r in runs]
        else:
            tracer.enabled, tracer.run_id = True, -1
            layers = dict.fromkeys(PER_LAYER, 0.0)
            probe, probe_ok = wl.probe(tracer)
            layers.update(probe)
            totals = [tracer.run_totals(i + 1, "run") for i, r in enumerate(runs) if r["traced"]]
            for key in SPARK_KEYS:
                layers[f"spark.{key}"] = median([t[key] for t in totals])
            for role in ("jvm", "jit", "pyworker", "driver"):
                layers[f"proc.{role}_cpu_s"] = median([t[f"{role}_cpu_s"] for t in totals])
            layers.update({
                "session.start_s": session_s,
                "cache.released": median(wl.released),
                "cache.storage_mb_peak": wl.storage_mb_peak,
                "trace.overhead_s": med("wall_s", True) - med("wall_s", False),
            })
            # the probe's checks count as one more operation
            metrics, units, oks = layers, PER_LAYER, [r["ok"] for r in runs] + [probe_ok]
        failed = oks.count(False)
        result = {
            "correct": failed == 0,
            "attempted": len(oks),
            "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
        return result, {"runs": runs, "spans": tracer.spans}
    finally:
        from pyspark import SparkContext

        try:
            spark.stop()
        finally:
            # stop the JVM too, so no process outlives the benchmark
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                proc.wait(timeout=60)


def run_all(args) -> int:
    """Every workload, each in its own process, as a table."""
    failed = 0
    for w in _BENCH["workloads"]:
        cmd = [sys.executable, str(Path(__file__)), "--workload", w["name"],
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"{w['name']}: exit {proc.returncode}")
            failed += 1
            continue
        res = json.loads(lines[-1])
        ops = res["failed"] / res["attempted"]
        print(f"{w['name']}  attempted={res['attempted']}  failed_ops={ops:.3f} ratio")
        for name, m in res["metrics"].items():
            print(f"  {name:28s} {m['value']:14.4f} {m['unit']}")
        failed += res["failed"] > 0
    return 1 if failed else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)

    # the package under test comes from this checkout, never from site-packages
    sys.path[:0] = [str(ROOT), str(HERE)]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    try:
        import sparklyclean_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if Path(sparklyclean_spark.__file__).resolve().parent.parent != ROOT:
        print("perfbench: sparklyclean_spark resolved outside the checkout", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    box = machine()
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    # takes precedence over spark.local.dir when set in the environment
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        result, record = measure(args, box, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        (out / f"spans-{args.workload}-seed{args.seed}.json").write_text(json.dumps(record))
    import pyspark

    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "held_out_seed": HELD_OUT_SEED,
        "trace": args.trace, "commit": commit(), "pyspark": pyspark.__version__,
        "python": sys.version.split()[0], **box,
    }))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
