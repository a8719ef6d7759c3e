"""Benchmark runner: one workload, closed loop, one JSON result line.

    python3 perfbench/run.py --workload geometry_join --seed 42 --seconds 20 --trace 0

Runs from the repository root (it builds the program's session from the
``gaia_spark`` package next to this directory). One driver process runs
Spark in ``local[<cores>]`` with no client threads: a pass starts only after
the previous one ended. The run:

1. makes the seeded inputs (cached per seed and size; excluded from set-up);
2. sets up once: session start (with the JVM launch), the driver-side
   indexes and WARMUP_PASSES untimed, checked warm-up passes; ``setup_s``
   runs from process start to the end of the warm-up, less the input
   generation;
3. measures passes for ``--seconds`` (at least MIN_PASSES), checking the
   output of every pass: against goldens for the default seed, against
   invariants and the first pass for any seed;
4. prints every end-to-end metric (``--trace 0``) or every per-layer metric
   (``--trace 1``) named in BENCHMARK.json as the last stdout line.

With ``--trace 1`` untraced and traced passes alternate: the traced pass
runs each layer's prefix plan into the noop sink first (see tracing.py),
and the difference of their median wall times is the tracing overhead.
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
import threading
import time
import traceback

T_PROCESS0 = time.perf_counter()

from tracing import (  # noqa: E402
    RssSampler, Tracer, cpu_ticks, membw_canary_gbps, old_gen_pool, steal_pct,
)

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
OUT_DIR = os.path.join(BENCH_DIR, "out")
GOLDENS = os.path.join(BENCH_DIR, "goldens.json")

DEFAULT_SEED = 42
# The first pass of a JVM runs 3-4x slower than later ones and the second
# still ~20% slower than the third (class loading, codegen, JIT warming); a
# median over timed passes that start at the second pass moves with how fast
# the host JIT-compiles, so the first two passes are part of the set-up
WARMUP_PASSES = 2
# a run measures --seconds and at least MIN_PASSES passes (a median of
# three), MIN_TRACED_PAIRS untraced + traced pairs when traced; a traced pair
# costs ~3 passes
MIN_PASSES = 3
MIN_TRACED_PAIRS = 2
PASS_TIMEOUT_S = 120.0
MAX_FAILED_PASSES = 3
DRIVER_MEMORY = "2g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", default="bench", help="input size: bench (measured) or tiny (smoke test)")
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")
    return args


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work_dir: str) -> None:
    """Keep every file Spark and its workers write inside ``work_dir`` and let
    the Python workers import the program."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM of the run (launcher and driver) keeps its temp files, and no
    # hsperfdata, outside the shared /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work_dir, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH_DIR] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    for p in (BENCH_DIR, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


def start_session(work_dir: str):
    from gaia_spark.session import get_session

    n = cores()
    spark = get_session(
        master=f"local[{n}]",
        app_name="perfbench",
        confs={
            "spark.driver.memory": DRIVER_MEMORY,
            # fixed heap size, so the heap sizing policy does not vary
            # between runs; RSS follows the heap pages actually touched
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.sql.shuffle.partitions": str(2 * n),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def percentile(xs: list, q: float) -> float:
    """Nearest-rank percentile (q in 0..100); 0.0 for no samples."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(-(-q * len(s) // 100)) - 1))]


def median(xs: list) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(layers: dict) -> dict:
    """Per-pass layer accumulators (workloads.add_layer) -> metric names."""
    from workloads import LAYERS

    out = dict(layers)  # workload-specific scalars are recorded under their metric name
    for L in LAYERS:
        out[f"{L}.self_s"] = layers.get(f"{L}.self_s", 0.0)
        out[f"{L}.run_s"] = layers.get(f"{L}.run_ms", 0) / 1e3
        out[f"{L}.cpu_s"] = layers.get(f"{L}.cpu_ns", 0) / 1e9
        out[f"{L}.failed_tasks"] = layers.get(f"{L}.failed_tasks", 0)
    out["scan.input_bytes"] = layers.get("scan.input_bytes", 0)
    out["scan.tasks"] = layers.get("scan.tasks", 0)
    for L in ("zonal", "raster"):
        out[f"{L}.shuffle_write_bytes"] = layers.get(f"{L}.shuffle_write_bytes", 0)
    for L in ("zonal", "feature_join"):
        out[f"{L}.spill_bytes"] = layers.get(f"{L}.disk_spill_bytes", 0)
    return out


class Runner:
    def __init__(self, args, spec: dict, work_dir: str):
        import workloads

        self.args = args
        self.spec = spec
        # relative, so table manifests (which store file paths) have the
        # same bytes in every checkout
        self.work_dir = os.path.relpath(work_dir)
        self.wl = workloads.WORKLOADS[args.workload](
            args.seed, args.size, CACHE_DIR, self.work_dir
        )
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failed_passes = 0
        self.problems: list = []
        self.first_outputs: dict | None = None
        self.goldens = load_goldens().get(args.workload, {}).get(f"{args.size}-s{args.seed}")
        self.info: dict = {"workload": args.workload, "seed": args.seed, "size": args.size,
                           "trace": args.trace, "passes": []}

    # -- one checked pass ----------------------------------------------------
    def run_pass(self, traced: bool, canary_gbps: float | None = None):
        self.tracer.enabled = traced
        self.tracer.trace_id += 1
        sc = self.spark.sparkContext
        timer = threading.Timer(PASS_TIMEOUT_S, sc.cancelAllJobs)
        ticks0 = cpu_ticks()
        timer.start()
        try:
            res = self.wl.run_pass(self.spark, self.tracer)
        except Exception as e:  # a failed pass is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            self.attempted += 1
            self.failed += 1
            self.problems.append(f"pass raised {type(e).__name__}: {e}")
            self.failed_passes += 1
            return None
        finally:
            timer.cancel()
            self.tracer.enabled = False
        res.problems += self.wl.check(res)
        res.problems += self._compare_outputs(res)
        self.attempted += res.attempted
        if res.problems:
            self.failed += 1
            self.problems += res.problems
        self.info["passes"].append({"traced": traced, "wall_s": res.wall_s,
                                    "steal_pct": steal_pct(ticks0, cpu_ticks()),
                                    "membw_gbps": canary_gbps})
        return res

    def _compare_outputs(self, res) -> list:
        problems = []
        if self.first_outputs is None:
            self.first_outputs = res.outputs
        elif res.outputs != self.first_outputs:
            problems.append(f"outputs differ between passes: {res.outputs} vs {self.first_outputs}")
        if self.goldens is not None and res.outputs != self.goldens:
            problems.append(f"outputs {res.outputs} != goldens {self.goldens}")
        return problems

    # -- phases ----------------------------------------------------------------
    def setup(self) -> dict:
        t = time.perf_counter()
        self.wl.prepare_inputs()
        self.wl.compute_reference()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        self.spark = start_session(self.work_dir)
        session_s = time.perf_counter() - t
        index_s = self.wl.setup(self.spark)
        self.tracer = Tracer(self.spark, enabled=False)
        warmup_s = []
        for _ in range(WARMUP_PASSES):
            t = time.perf_counter()
            self.run_pass(traced=False)
            warmup_s.append(time.perf_counter() - t)
        # from process start to the first timed pass, less input generation
        setup_s = time.perf_counter() - T_PROCESS0 - gen_s
        self.info.update(input_gen_s=gen_s, warmup_s=warmup_s, reference=self.wl.reference)
        return {"setup_s": setup_s, "session.start_s": session_s,
                "spatial_join.index_build_s": index_s}

    def measure(self) -> tuple[list, list, float]:
        from pyspark import SparkContext

        sampler = RssSampler(SparkContext._gateway.proc.pid)
        old_gen = old_gen_pool(self.spark)
        old_gen.resetPeakUsage()
        plain, traced = [], []
        sampler.start()
        t0 = time.perf_counter()
        try:
            least = MIN_TRACED_PAIRS if self.args.trace else MIN_PASSES
            while (len(plain) < least or time.perf_counter() - t0 < self.args.seconds) \
                    and self.failed_passes < MAX_FAILED_PASSES:
                res = self.run_pass(traced=False, canary_gbps=membw_canary_gbps())
                if res is not None:
                    plain.append(res)
                if self.args.trace:
                    res = self.run_pass(traced=True)
                    if res is not None:
                        traced.append(res)
        finally:
            sampler.stop()
        self.info["peak_rss_by_process_mb"] = sampler.peak_by_process
        self.info["old_gen_peak_mb"] = old_gen.getPeakUsage().getUsed() / 2**20
        return plain, traced, sampler.peak / 2**20

    def run(self) -> dict:
        setup = self.setup()
        timeline = {"setup_end": time.perf_counter() - T_PROCESS0}
        plain, traced, peak_rss_mb = self.measure()
        timeline["measure_end"] = time.perf_counter() - T_PROCESS0
        if not plain:
            raise RuntimeError("no pass completed: " + "; ".join(self.problems[:3]))
        counts, problems = self.wl.probe_counts(self.spark, plain[-1])
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += problems
        timeline["probe_end"] = time.perf_counter() - T_PROCESS0
        self.info.update(counts=counts, timeline_s=timeline)
        wall = median([r.wall_s for r in plain])
        commits = [t for r in plain for t in r.samples.get("unit_commit_s", [])]
        appends = [t for r in plain for t in r.samples.get("icelite.append_s", [])]
        e2e = {
            "setup_s": setup["setup_s"],
            "pages_per_s": plain[0].pages / wall,
            "join_rows_per_s": plain[0].join_rows / wall,
            "peak_rss_mb": peak_rss_mb,
        }
        write_path = {
            "unit_commit_s.p50": median(commits),
            "unit_commit_s.p90": percentile(commits, 90),
            "resume_s": median([r.values["resume_s"] for r in plain if "resume_s" in r.values]),
            "output_bytes_per_row": median(
                [r.values["output_bytes_per_row"] for r in plain if "output_bytes_per_row" in r.values]
            ),
        }
        self.info.update(
            pass_wall_s=[r.wall_s for r in plain],
            unit_commit_samples=len(commits),
            failed_ops_frac=self.failed / max(self.attempted, 1),
            write_path=write_path,
            end_to_end=e2e,
        )
        if not self.args.trace:
            return e2e
        keys = traced[0].layers if traced else {}
        layers = {k: median([r.layers.get(k, 0) for r in traced]) for k in keys}
        metrics = layer_metrics(layers)
        metrics.update(counts)
        metrics.update(write_path)
        metrics["session.start_s"] = setup["session.start_s"]
        metrics["spatial_join.index_build_s"] = setup["spatial_join.index_build_s"]
        metrics["icelite.append_s.p50"] = median(appends)
        metrics["icelite.append_s.p90"] = percentile(appends, 90)
        metrics["jvm.old_gen_peak_mb"] = self.info["old_gen_peak_mb"]
        metrics["trace.overhead_s"] = median([r.wall_s for r in traced]) - wall
        for m in self.spec["per_layer"]:
            if m["name"].split(".")[0] in self.wl.IDLE:
                metrics.setdefault(m["name"], 0)
        return metrics


def load_goldens() -> dict:
    if not os.path.exists(GOLDENS):
        return {}
    with open(GOLDENS) as f:
        return json.load(f)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        print(f"unknown workload {args.workload!r}; expected one of {names}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    # fixed-width name: manifests store relative file paths, so their bytes
    # (icelite.manifest_bytes, output_bytes_per_row) must not depend on the pid
    work_dir = os.path.join(BENCH_DIR, ".work", f"{os.getpid():08d}")
    prepare_env(work_dir)
    runner = None
    try:
        runner = Runner(args, spec, work_dir)
        values = runner.run()
        spark = runner.spark
        runner.info.update(
            nproc=cores(),
            spark_version=spark.version,
            java_version=spark.sparkContext._jvm.System.getProperty("java.version"),
            python_version=platform.python_version(),
            problems=runner.problems,
            note="inputs fit in the OS page cache; scans are served from memory",
        )
        if args.trace:
            runner.tracer.write(os.path.join(
                OUT_DIR, f"trace-{args.workload}-s{args.seed}-{args.size}.json"))
    finally:
        if runner is not None:
            stop_jvm(runner.spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"benchmark produced no value for {missing}")
    os.makedirs(OUT_DIR, exist_ok=True)
    with open(os.path.join(OUT_DIR, f"run-{args.workload}-s{args.seed}-{args.size}-t{args.trace}.json"), "w") as f:
        json.dump(runner.info, f, indent=1, default=str)
    print(json.dumps({"info": runner.info}, default=str))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
