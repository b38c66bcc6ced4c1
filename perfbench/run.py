"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload export_reference --seed 1 --seconds 10 --trace 0

Runs on ``local[<cores>]`` from one process, from the root of a checkout
that holds the package. Everything it writes stays under ``.perfbench/`` in
that checkout. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the per-layer
ones, and the spans of the run are written to ``.perfbench/traces/``.

Set-up is timed three times and reported as the median. Each set-up starts
a SparkSession, generates the inputs from the seed and loads them. The
first set-up also launches the JVM; the later ones start their session in
that JVM, so the median leaves the JVM launch out. One untimed warm-up
pass follows (verified like every pass), so the first and slowest pass of
a fresh JVM is not timed; a fixed count rather than a time, so every run
times the same stretch of the JVM's warm-up. Then timed passes run
back to back, each verified outside its timed window, until ``--seconds``
have passed and at least three have run. A traced run alternates untraced
and traced passes instead.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import PKG, WORKLOADS  # noqa: E402

SETUPS = 3
WARMUP_PASSES = 1
MIN_PASSES = 3


def _hwm_reset() -> None:
    """Reset the process's peak-RSS mark, so VmHWM covers one pass only."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _hwm_mb() -> float:
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _jvm_cpu_s() -> float:
    """User + system CPU seconds the JVM has used so far (0 if unknown)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    except (AttributeError, OSError):
        return 0.0


def start_session(cores: int, work: str):
    from neo4j_database_to_data_importer_package_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # JVM temp files stay in the checkout, no /tmp/hsperfdata, and a
            # heap that does not grow during the timed passes.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = SparkContext._jvm = None  # a later session launches a new JVM


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        self.wl = workload
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
        self.work = os.path.join(ROOT, ".perfbench", f"{workload.name}-{seed}-{os.getpid()}")
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.spark = None
        self.n_passes = 0

    # -- phases -------------------------------------------------------------

    def setup(self) -> None:
        self.setup_s, self.load_s = [], []
        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(os.path.join(self.work, f"inputs{i - 1}"), ignore_errors=True)
            t0 = time.perf_counter()
            self.spark = start_session(self.cores, self.work)
            self.inputs = self.wl.setup(self.spark, os.path.join(self.work, f"inputs{i}"), self.seed)
            self.setup_s.append(time.perf_counter() - t0)
            self.load_s.append(self.wl.load_s)
        self.wl.prepare()

    def one_pass(self, tracer=None) -> dict:
        k = self.n_passes = self.n_passes + 1
        pass_dir = os.path.join(self.work, f"pass{k}")
        self.spark.catalog.clearCache()
        _hwm_reset()
        info = {"pass": k}
        span = None
        cpu0 = _jvm_cpu_s()
        t0 = time.perf_counter()
        try:
            if tracer:
                tracer.pass_id = k
                with tracer.span("pass") as span:
                    result = self.wl.run_pass(self.spark, pass_dir, tracer)
            else:
                result = self.wl.run_pass(self.spark, pass_dir)
        except Exception as e:  # a failed pass fails every operation in it
            info["seconds"] = time.perf_counter() - t0
            traceback.print_exc()
            self._count(self.wl.ops_per_pass, [("pass", f"{type(e).__name__}: {e}")])
            shutil.rmtree(pass_dir, ignore_errors=True)
            return info
        info["seconds"] = time.perf_counter() - t0
        info["jvm_cpu_s"] = _jvm_cpu_s() - cpu0
        info["rss_mb"] = _hwm_mb()
        # -- outside the timed window --
        self._count(*self.wl.verify(result))
        info.update(self.wl.pass_info(result))
        if tracer and span is not None:
            stats = tracer.job_stats([s for s in tracer.spans if s.pass_id == k])
            info["layers"], info["notes"] = metrics.layer_metrics(tracer, span, stats, self.cores, info)
        shutil.rmtree(pass_dir, ignore_errors=True)
        return info

    def _count(self, attempted: int, problems: list[tuple[str, str]]) -> None:
        self.attempted += attempted
        ops = {op for op, _ in problems}
        self.failed += attempted if "pass" in ops else min(len(ops), attempted)
        self.problems += [f"{op}: {msg}" for op, msg in problems]

    def passes(self, seconds: float) -> list[dict]:
        """Passes back to back until ``seconds`` have passed."""
        out, t0 = [], time.perf_counter()
        while len(out) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass())
        return out

    # -- reporting ----------------------------------------------------------

    def end_to_end(self, timed: list[dict]) -> dict:
        done = [p for p in timed if "rss_mb" in p] or timed  # passes that did not raise
        pass_s = statistics.median(p["seconds"] for p in done)
        return {
            "setup_s": statistics.median(self.setup_s),
            "pass_s": pass_s,
            "rows_per_s": self.wl.rows_per_pass / pass_s,
            "output_mb": statistics.median(p.get("bytes", 0) for p in done) / metrics.MB,
            "driver_rss_mb": max(p.get("rss_mb", 0.0) for p in done),
        }

    def execute(self) -> dict:
        os.makedirs(self.work, exist_ok=True)
        try:
            self.setup()
            for _ in range(WARMUP_PASSES):
                self.one_pass()
            if not self.trace:
                timed = self.passes(self.seconds)
                values = self.end_to_end(timed)
                units = metrics.END_TO_END
                notes = {}
            else:
                # Untraced and traced passes alternate in ABBA order, at
                # least two of each, so the JVM's warm-up drift does not land
                # on one side of the overhead ratio.
                tracer = Tracer(self.spark)
                plain, traced, t0 = [], [], time.perf_counter()
                while len(traced) < 2 or time.perf_counter() - t0 < self.seconds:
                    order = (False, True) if len(traced) % 2 == 0 else (True, False)
                    for is_traced in order:
                        if is_traced:
                            traced.append(self.one_pass(tracer))
                        else:
                            plain.append(self.one_pass())
                timed = plain + traced
                layered = [p for p in traced if "layers" in p]
                values = metrics.median_of([p["layers"] for p in layered]) if layered \
                    else dict.fromkeys(metrics.PER_LAYER, 0.0)
                values["sources.load_s"] = statistics.median(self.load_s)
                values["bench.trace_overhead"] = (
                    statistics.median(p["seconds"] for p in traced)
                    / statistics.median(p["seconds"] for p in plain))
                units = metrics.PER_LAYER
                notes = layered[-1]["notes"] if layered else {}
                self._write_trace(tracer, traced)
            self._summary(values, units, notes, timed)
            return {
                "correct": self.failed == 0,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
            }
        finally:
            if self.spark is not None:
                stop_jvm(self.spark)
            keep = os.path.join(self.work, "trace.json")
            if os.path.exists(keep):
                dest = os.path.join(ROOT, ".perfbench", "traces")
                os.makedirs(dest, exist_ok=True)
                shutil.move(keep, os.path.join(dest, os.path.basename(self.work) + ".json"))
            shutil.rmtree(self.work, ignore_errors=True)

    def _write_trace(self, tracer, traced) -> None:
        tracer.dump(os.path.join(self.work, "trace.json"), {
            "workload": self.wl.name, "seed": self.seed, "cores": self.cores,
            "inputs": self.inputs, "passes": traced,
        })

    def _summary(self, values: dict, units: dict, notes: dict, timed: list[dict]) -> None:
        print(f"workload {self.wl.name}  seed {self.seed}  local[{self.cores}]")
        print("setups_s " + " ".join(f"{s:.3f}" for s in self.setup_s))
        print("passes_s " + " ".join(f"{p['seconds']:.3f}" for p in timed))
        print("passes_jvm_cpu_s " + " ".join(f"{p.get('jvm_cpu_s', 0):.3f}" for p in timed))
        print("inputs " + json.dumps(self.inputs, sort_keys=True))
        if hasattr(self.wl, "graph_info"):
            print("graph " + json.dumps(self.wl.graph_info, sort_keys=True))
        for k, u in units.items():
            print(f"  {k:<48} {values[k]:>14.6g} {u}")
        frac = self.failed / self.attempted if self.attempted else 1.0
        print(f"  {'failed_frac':<48} {frac:>14.6g} frac ({self.failed} of {self.attempted} operations)")
        for k, v in notes.items():
            print(f"  {k}: {v}")
        for p in self.problems[:20]:
            print(f"  FAILED {p}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = importlib.util.find_spec(PKG)
    if spec is None or not os.path.abspath(spec.origin or "").startswith(ROOT + os.sep):
        # Benchmark the checkout's own code, never an installed copy.
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2

    # Python workers, temp files and Spark's scratch space stay in the checkout.
    work_tmp = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(work_tmp, exist_ok=True)
    os.environ["TMPDIR"] = work_tmp
    os.environ["SPARK_LOCAL_DIRS"] = work_tmp  # would override spark.local.dir
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    result = Run(WORKLOADS[args.workload](), args.seed, args.seconds, bool(args.trace)).execute()
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
