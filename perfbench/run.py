"""open-tlm-spark benchmark: one workload, one fresh process.

Usage (from the repository root):

    python3 perfbench/run.py --workload {ingest,dashboard,analytics} \\
        --seed N --seconds S --trace {0,1}

Each run starts its own Spark session on local[<cores>] with a 2 GiB
driver heap, generates its inputs from the seed under
.perfbench_work/, sets up, measures a closed loop with one client for
--seconds, checks the outputs and prints, as its last stdout line, one
JSON object {correct, attempted, failed, metrics}. The line before it
holds run facts: host calibration, heap, window trend, input sizes and
the client.* figures.

End-to-end metrics (--trace 0), the same names on every workload:

    setup_s           JVM start, store preload or table load, warm-up
    latency_ms        ingest: median POST of one 80-point batch
                      dashboard: median GET
                      analytics: first (cold) run of every query, summed
    throughput_per_s  ingest: acknowledged points per second of the loop
                      dashboard: GETs per second
                      analytics: warm repeat-run queries per second

--trace 1 is a separate run with spans and Spark counters on; it
reports the per-layer metrics of BENCHMARK.json, plus the end-to-end
figures measured under tracing as traced.*, so that tracing overhead
shows against an untraced run. Spans are written to .perfbench_out/.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
RUN_LIMIT_S = 170  # the run must end, result or not, within 180 s


def metric_units(kind: str) -> dict[str, str]:
    """{name: unit} of the end_to_end or per_layer metrics declared in
    BENCHMARK.json. A traced run reports every per-layer metric; a
    layer its workload does not exercise (put on dashboard, plans on
    ingest) reads 0."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def cpu_calib_ms(reps: int = 5) -> float:
    """Median time of a fixed pure-Python loop: tracks host CPU speed,
    independent of the program."""
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc += i * i
        out.append((time.perf_counter() - t) * 1000)
    return statistics.median(out)


class Run:
    """State of one benchmark run: counters of attempted and failed
    operations, set-up and window timing, Spark and the tracer."""

    def __init__(self, seed: int, seconds: int, trace: bool, work: str):
        from tracer import NullTracer

        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.info: dict = {}
        self.layers: dict[str, float] = {}
        self.tracer = NullTracer()
        self.counters = None
        self.spark = None
        self.server = None
        self._setup_t0 = self.setup_s = None
        self.calib: list[float] = []

    # ---------------------------------------------------------- phases
    def begin_setup(self) -> None:
        self._setup_t0 = time.perf_counter()

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self._setup_t0

    def start_spark(self):
        from open_tlm_spark.session import get_spark
        from tracer import SparkCounters, Tracer

        t = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.hadoop.hadoop.tmp.dir": os.path.join(self.work, "hadoop"),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.layers["session.get_spark_s"] = time.perf_counter() - t
        self.counters = SparkCounters(self.spark)
        if self.trace:
            self.tracer = Tracer(self.counters)
        return self.spark

    @contextlib.contextmanager
    def warmup(self):
        t = time.perf_counter()
        with self.tracer.span("setup.warmup"):
            yield
        self.layers["session.warmup_s"] = time.perf_counter() - t

    def begin_window(self) -> float:
        self.calib.append(cpu_calib_ms())
        return time.perf_counter()

    def end_window(self) -> float:
        t = time.perf_counter()
        self.calib.append(cpu_calib_ms())
        return t

    # ------------------------------------------------------ operations
    @contextlib.contextmanager
    def op(self, kind: str):
        self.attempted += 1
        yield

    def timed_op(self, kind: str, fn, *args):
        with self.op(kind):
            return fn(*args)

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 10:
            self.failures.append(msg)

    def guard(self, fn, *args):
        """Run one operation; an exception (non-200 reply, timeout,
        engine error) counts it as failed instead of ending the run."""
        try:
            return fn(*args)
        except Exception as e:  # noqa: BLE001 - every failure is counted
            self.fail(f"{type(e).__name__}: {str(e)[:300]}")
            return None

    # --------------------------------------------------------- cleanup
    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=20)
                    except Exception:  # noqa: BLE001 - still must not linger
                        proc.kill()
                        proc.wait()


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["ingest", "dashboard", "analytics"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "open_tlm_spark", "__init__.py")):
        print(f"no open_tlm_spark package under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Everything Spark, the JVM and Python spill stays in the checkout;
    # -XX:-UsePerfData stops the JVM's counter file in the system /tmp.
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
    )
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")
    sys.path[:0] = [ROOT, HERE]

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(RUN_LIMIT_S)
    run = Run(args.seed, args.seconds, bool(args.trace), work)
    result = None
    try:
        from workloads import WORKLOADS

        result = WORKLOADS[args.workload](run)
    except Exception:  # noqa: BLE001 - reported here, exit code 1
        traceback.print_exc()
    finally:
        run.close()
        signal.alarm(0)
        shutil.rmtree(work, ignore_errors=True)
    if result is None or run.setup_s is None:
        return 1

    run.info.update(
        workload=args.workload,
        seed=args.seed,
        master=f"local[{cores}]",
        driver_mem=DRIVER_MEM,
        clients=1,
        loop="closed",
        host_cpu_calib_ms=run.calib,
        failures=run.failures,
        **result["client"],
    )
    if run.trace:
        metrics = {
            **run.layers,
            **result["layers"],
            **result["client"],
            "host.cpu_calib_ms": statistics.median(run.calib),
            **{f"traced.{k}": v for k, v in result["e2e"].items()},
        }
        units = metric_units("per_layer")
        run.tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"e2e": result["e2e"], "layers": metrics, "info": run.info},
        )
    else:
        metrics = {"setup_s": run.setup_s, **result["e2e"]}
        units = metric_units("end_to_end")
    print(json.dumps({"info": run.info}, default=str))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {
                    n: {"value": float(metrics.get(n, 0.0)), "unit": u} for n, u in units.items()
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
