"""Run one seeded benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ann_index --seed 1 --seconds 8 --trace 0

Run from the repository root. All inputs are generated from ``--seed``;
the engine is imported from the ``scalablevectorsearch_spark`` package
beside this directory, on a local Spark session with one task slot per
core. The last stdout line is one JSON object:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics named in
BENCHMARK.json, measured with tracing off. With ``--trace 1`` they are
the per-layer metrics: the workload's loop runs once untraced and then
as many steps again with every operator traced through Spark's status
REST API. The line before it is an auxiliary JSON object (host
telemetry, workload-specific figures, failed checks). The exit code is
0 only when every output check passed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_env(work: str) -> dict:
    """Size Spark to this host and keep every file it writes in ``work``.
    Must run before pyspark or numpy is imported."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:")) // 1024
    driver_mb = min(4096, mem_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(work, "sock"))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mb}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # the driver-side kernel timings and the calibration op are
        # single-threaded by definition
        OPENBLAS_NUM_THREADS="1",
        OMP_NUM_THREADS="1",
        # the Python workers import the engine from this checkout
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    return {"cores": cores, "mem_total_mb": mem_mb, "driver_mem_mb": driver_mb}


def calibration_s() -> float:
    """Median wall time of a fixed single-threaded matmul: identical
    work every run, so its spread is host noise."""
    import numpy as np

    a = np.full((384, 384), 1.000001)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(8):
            b = a @ a
        float(b[0, 0])
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


class Ctx:
    """What a workload sees: the session, the seed, a scratch directory,
    the tracer hook and the output-check ledger."""

    def __init__(self, seed: int, scale: str, ui: bool, work: str):
        self.seed = seed
        self.scale = scale
        self.ui = ui
        self._work = work
        self.spark = None
        self.tracer = None
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failures: list[str] = []

    def work(self, name: str) -> str:
        return os.path.join(self._work, name)

    @property
    def traced(self) -> bool:
        return self.tracer is not None

    def op(self, name: str):
        return self.tracer.op(name) if self.tracer else contextlib.nullcontext()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failures.append(what)

    def start_session(self) -> None:
        from scalablevectorsearch_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # the status REST API the tracer reads; off when untraced
            "spark.ui.enabled": str(self.ui).lower(),
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": self.work("warehouse"),
            # Unix socket paths hold at most 107 bytes; a deep checkout
            # overflows them, so the sockets go under a path relative
            # to the working directory, which every process shares
            "spark.python.unix.domain.socket.dir": os.path.relpath(self.work("sock")),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']}"
                f" -Dderby.system.home={self.work('derby')}",
        }
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.layer.setdefault("session.get_spark_s", time.perf_counter() - t0)

    def n_persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def run_steps(ctx: Ctx, w, first: int, until: float | None, count: int | None):
    """Steps ``first, first+1, ...`` until ``until`` (perf_counter) has
    passed and at least ``w.min_steps`` steps in whole cycles ran, or
    exactly ``count`` steps. Returns (records, wall seconds per step)."""
    recs, walls = [], []
    while True:
        n = len(recs)
        if count is not None and n >= count:
            break
        if count is None and n >= w.min_steps and n % w.cycle == 0 \
                and time.perf_counter() >= until:
            break
        t0 = time.perf_counter()
        recs.append(w.step(ctx, first + n))
        walls.append(time.perf_counter() - t0)
        ctx.attempted += 1
    return recs, walls


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the self-test only")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "scalablevectorsearch_spark", "__init__.py")):
        print("perfbench: the scalablevectorsearch_spark package is not beside "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        host = host_env(work)
        sys.path.insert(0, ROOT)
        return _run(args, spec, host, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))


def _run(args, spec: dict, host: dict, work: str) -> int:
    from pyspark import SparkContext

    from optrace import OpTracer, RssSampler
    from workloads import WORKLOADS

    traced = bool(args.trace)
    # the vector generator keys its streams on an unsigned 64-bit seed
    ctx = Ctx(args.seed % 2**32, "smoke" if args.smoke else "full", traced, work)
    aux: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    tracer_metrics: dict[str, float] = {}
    try:
        # one cold set-up per run: JVM start, input generation and the
        # pre-loop index builds. A second, warm set-up would add 7 s to
        # every ann_index run, too much for ten-run comparisons.
        t0 = time.perf_counter()
        ctx.start_session()
        persisted0 = ctx.n_persisted()
        w = WORKLOADS[args.workload]()
        w.setup(ctx)
        setup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        if hasattr(w, "data"):
            w.data.load(ctx.spark)
        aux["load_s"] = time.perf_counter() - t0
        host["load_avg_1m"] = os.getloadavg()[0]
        host["calibration_s"] = calibration_s()
        with RssSampler() as rss:
            # the first steps warm the JIT and the Python workers up; untimed
            _, warm = run_steps(ctx, w, 0, None, w.warmup)
            aux["warmup_s"] = sum(warm)
            # a traced run measures no end-to-end metric: its untraced
            # loop is only the baseline of trace_overhead_ratio
            recs, walls = run_steps(ctx, w, w.warmup, time.perf_counter() + args.seconds,
                                    w.min_steps if traced else None)
        if traced:
            ctx.tracer = OpTracer(ctx.spark)
            _, traced_walls = run_steps(ctx, w, w.warmup + len(recs), None, len(recs))
            ctx.layer["trace_overhead_ratio"] = (statistics.median(traced_walls)
                                                 / statistics.median(walls))
            tracer_metrics = ctx.tracer.metrics()
            ctx.tracer = None
            w.trace_layers(ctx)
        t0 = time.perf_counter()
        out = w.finish(ctx, recs)
        w.release(ctx)
        aux["finish_s"] = time.perf_counter() - t0
        steps = w.warmup + len(recs) * (2 if traced else 1)
        ctx.layer["spark.persisted_rdds_leaked"] = (ctx.n_persisted() - persisted0) / steps
        aux.update(host=host, steps=len(recs), step_wall_s=walls,
                   peak_rss_mb=rss.peak / 2**20, **out.pop("aux"))
    finally:
        gateway = SparkContext._gateway
        if ctx.spark is not None:
            ctx.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    failed = len(ctx.failures)
    aux["failed_ops_ratio"] = failed / ctx.attempted
    aux["failures"] = ctx.failures[:20]
    if traced:
        found = {**tracer_metrics, **ctx.layer}
        metrics = {m["name"]: {"value": float(found.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        found = {**out, "setup_s": setup_s}
        metrics = {m["name"]: {"value": float(found[m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps(aux))
    print(json.dumps({"correct": failed == 0, "attempted": ctx.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
