"""Repository benchmark: runs one workload (or all) against the engine and
prints every metric by name with its unit, then one JSON result line.

    python3 perfbench/run.py --workload number_count --seed 1 --seconds 8 --trace 0

Run it from the repository root.  ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` reports its per-layer metrics
and writes the spans to ``.perfbench/traces/``.  Everything a run writes
(inputs, Spark local dirs, warehouse, temp files) lives under
``.perfbench/`` in the current directory; the per-run part is removed
when the run ends.  See README.md beside this file for the workloads.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}

# Jobs keep getting faster for a few jobs after the cold one (JIT, codegen
# and Python worker reuse).  This many jobs follow the cold one untimed
# (their outputs are still checked) before the loop starts.
WARMUP_JOBS = 2


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _isolate(run_dir: str) -> None:
    """Point every scratch location of Spark and its workers into run_dir.
    Must happen before the JVM is launched: it inherits this environment."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    # every JVM, the spark-submit launcher's included: temp files here, and
    # no hsperfdata files in the system temp dir
    java_opts = f"-Djava.io.tmpdir={run_dir} -Dderby.system.home={run_dir} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {java_opts}".strip()
    # workers unpickle the user map/reduce functions by module name
    path = [HERE, ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)


def _session_confs(run_dir: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }


class Bench:
    """One benchmark process: owns the SparkSession and the scratch dir."""

    def __init__(self, run_dir: str):
        from firebird_mapreduce_spark.session import get_session

        self._get_session = get_session
        self._confs = _session_confs(run_dir)
        self.run_dir = run_dir
        self.spark = None

    def start_session(self):
        if self.spark is not None:
            self.spark.stop()
        self.spark = self._get_session("perfbench", **self._confs)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python worker
        daemon) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM gateway exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None


def _attempt(wl, fn, verdicts: list, output=lambda result: result) -> tuple[object, float]:
    """Run one job, then check ``output(result)`` against the oracle outside
    the timer; a raise or a wrong answer counts as a failed job and the run
    goes on.  Returns ``(result or None, wall seconds of fn)``."""
    t0 = time.perf_counter()
    try:
        result = fn()
    except Exception:
        traceback.print_exc()
        verdicts.append(False)
        return None, time.perf_counter() - t0
    wall = time.perf_counter() - t0
    try:
        ok = wl.check(output(result))
    except Exception:
        traceback.print_exc()
        ok = False
    verdicts.append(ok)
    return result, wall


def run_workload(bench: Bench, name: str, seed: int, seconds: float, trace: bool) -> dict:
    from probes import PeakRss, Tracer, cpu_steal_jiffies
    from workloads import WORKLOADS

    work = os.path.join(bench.run_dir, name)
    os.makedirs(work, exist_ok=True)
    wl = WORKLOADS[name](seed, work)
    verdicts: list[bool] = []
    # the memory sampler is a probe too: it runs only in traced runs
    with PeakRss() if trace else contextlib.nullcontext() as rss:
        # set-up: session start, input generation and write, cold first job
        t0 = time.perf_counter()
        spark = bench.start_session()
        session_start_s = time.perf_counter() - t0
        wl.generate()
        wl.load(spark)
        setup_s = time.perf_counter() - t0 + _attempt(wl, wl.job, verdicts)[1]
        warmup = [_attempt(wl, wl.job, verdicts)[1] for _ in range(WARMUP_JOBS)]

        # Untraced, the loop runs until the summed job time reaches
        # --seconds, so the oracle checks between jobs do not cut the number
        # of samples.  Traced, the loop pairs every plain job with one traced
        # iteration, in alternating order so that neither side gets more
        # warm-up; their ratio is the tracing overhead.  That loop runs for
        # --seconds of wall time.
        loop_start = time.perf_counter()
        steal_start = cpu_steal_jiffies()
        jobs: list[float] = []
        traced_jobs: list[float] = []
        layers: dict[str, list[float]] = {}

        def plain() -> None:
            jobs.append(_attempt(wl, wl.job, verdicts)[1])

        def traced() -> None:
            with tracer.span(f"{name}.iteration"):
                res, _ = _attempt(
                    wl, lambda: wl.traced(tracer, _cores()), verdicts, output=lambda r: r[1]
                )
            if res is not None:
                metrics, _, job_wall = res
                traced_jobs.append(job_wall)
                for key, value in metrics.items():
                    layers.setdefault(key, []).append(value)

        if trace:
            tracer = Tracer(spark, f"{name}-seed{seed}-{os.getpid()}")
            while not jobs or time.perf_counter() - loop_start < seconds:
                for step in (plain, traced) if len(jobs) % 2 == 0 else (traced, plain):
                    step()
            tracer.write(os.path.join(
                os.path.dirname(bench.run_dir), "traces",
                f"{name}-seed{seed}-{time.strftime('%Y%m%dT%H%M%S')}.json",
            ))
        else:
            while not jobs or sum(jobs) < seconds:
                plain()

        loop_s = time.perf_counter() - loop_start
        # share of all vCPU time in the loop that the host took away; wall
        # times rise with it, so the report shows it next to them
        steal_share = (cpu_steal_jiffies() - steal_start) / (
            os.sysconf("SC_CLK_TCK") * loop_s * os.cpu_count()
        )

    job_s = statistics.median(jobs)
    if trace:
        metrics = {key: 0.0 for key in PER_LAYER}
        metrics.update({k: statistics.median(v) for k, v in layers.items()})
        metrics["session.start_s"] = session_start_s
        metrics["session.peak_rss_mb"] = rss.peak_bytes / 2**20
        if traced_jobs:
            metrics["trace.overhead_frac"] = statistics.median(traced_jobs) / job_s - 1.0
        units = PER_LAYER
    else:
        metrics = {
            "job_s": job_s,
            "rows_per_s": wl.input_rows / job_s,
            "setup_s": setup_s,
        }
        units = END_TO_END
    return {
        "workload": name,
        "sizes": wl.sizes,
        "jobs": jobs,
        "warmup": warmup,
        "setup_s": setup_s,
        "steal_share": steal_share,
        "attempted": len(verdicts),
        "failed": verdicts.count(False),
        # per-layer metrics of layers this workload never calls (reported as 0)
        "unused": sorted(
            set(PER_LAYER) - set(layers)
            - {"session.start_s", "session.peak_rss_mb", "trace.overhead_frac"}
        )
        if trace else [],
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def report(res: dict) -> None:
    """Human-readable lines; the JSON result follows as the last line."""
    jobs = res["jobs"]
    print(f"== {res['workload']}  sizes={json.dumps(res['sizes'])}")
    print(
        f"   jobs={len(jobs)} (closed loop, 1 client)  job_s median={statistics.median(jobs):.4f}"
        f" min={min(jobs):.4f} max={max(jobs):.4f}"
    )
    print(
        f"   warm-up job_s={[round(j, 3) for j in res['warmup']]}"
        f"  job_s in order={[round(j, 3) for j in jobs]}"
        f"  setup_s={res['setup_s']:.3f}"
        f"  host_cpu_steal={res['steal_share']:.1%} of vCPU time in the loop"
    )
    passed = res["attempted"] - res["failed"]
    print(
        f"   oracle: {passed}/{res['attempted']} jobs passed"
        f"  failed_frac={res['failed'] / res['attempted']:.4f}"
    )
    for key, m in res["metrics"].items():
        note = "  (layer not called by this workload)" if key in res["unused"] else ""
        print(f"   {key:<40} {m['value']:.6g} {m['unit']}{note}")


def main(argv: list[str] | None = None) -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        import firebird_mapreduce_spark.session  # noqa: F401
        from workloads import WORKLOADS
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    parser.add_argument("--seed", type=int, default=1)
    parser.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(base, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=base)
    _isolate(run_dir)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    bench = Bench(run_dir)
    try:
        results = [
            run_workload(bench, n, args.seed, args.seconds, bool(args.trace)) for n in names
        ]
    finally:
        bench.close()
        shutil.rmtree(run_dir, ignore_errors=True)

    for res in results:
        report(res)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{r['workload']}.{k}": m for r in results for k, m in r["metrics"].items()}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
