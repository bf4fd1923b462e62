"""What every workload shares: the run context, the Spark session's life
cycle, and the result line."""

from __future__ import annotations

import json
import os
import sys
import time
from dataclasses import dataclass, field

from stats import RssSampler, check_name, median, tail
from spans import Tracer

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@dataclass
class Ctx:
    workload: str
    seed: int
    seconds: float
    work: str  # scratch directory inside the checkout, removed at exit
    tracer: Tracer
    cpus: int = field(default_factory=lambda: len(os.sched_getaffinity(0)))
    t0: float = field(default_factory=time.perf_counter)
    rss: RssSampler = field(default_factory=RssSampler)
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def info(self, msg: str) -> None:
        print(f"[perfbench {self.workload} {time.perf_counter() - self.t0:6.1f}s] {msg}",
              file=sys.stderr, flush=True)

    def check(self, ok: bool, what: str) -> None:
        """Count one output check; a mismatch counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.info(f"CHECK FAILED: {what}")


def start_spark(ctx: Ctx):
    """Start the tuned session the package ships, on every core of this host.
    Spark's scratch space stays inside the run's work directory."""
    from pinterest_data_pipeline218_spark.session import get_spark

    local = ctx.path("spark-local", "")
    with ctx.tracer.span("session.start"):
        spark = get_spark(
            "perfbench",
            master=f"local[{ctx.cpus}]",
            shuffle_partitions=ctx.cpus,
            extra_conf={
                "spark.local.dir": local,
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={local} -XX:-UsePerfData "
                    f"-Xms{os.environ['SPARK_DRIVER_MEMORY']} -XX:+AlwaysPreTouch"
                ),
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
    ctx.tracer.attach(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)


def setup_done(ctx: Ctx) -> None:
    """Mark the end of set-up: everything from process start until the first
    measured unit of work."""
    ctx.e2e["setup_s"] = time.perf_counter() - ctx.t0


def report_latency(ctx: Ctx, samples_s: list[float], unit_name: str) -> None:
    value, pct, n = tail(samples_s)
    ctx.e2e["latency_ms"] = median(samples_s) * 1000.0
    ctx.e2e["latency_ms.tail"] = value * 1000.0
    ctx.info(f"latency per {unit_name}: median {median(samples_s) * 1000:.1f} ms, "
             f"tail p{pct:.1f} {value * 1000:.1f} ms over n={n} samples")


def report_overhead(ctx: Ctx, traced_s: list[float], untraced_s: list[float]) -> None:
    """Tracing overhead per unit of work, from units alternated in one run."""
    ctx.layer["trace.overhead_ms"] = (median(traced_s) - median(untraced_s)) * 1000.0
    ctx.layer["trace.setup_s"] = ctx.e2e["setup_s"]


def emit(ctx: Ctx, spec: dict) -> None:
    """Print the result line: every end-to-end metric (untraced run) or every
    per-layer metric (traced run). Layers a workload does not exercise did no
    work in it and report 0."""
    ctx.e2e["peak_rss_mb"] = ctx.rss.peak_mb
    ctx.e2e["ops.ok_ratio"] = 1.0 - ctx.failed / max(1, ctx.attempted)
    wanted = spec["per_layer"] if ctx.traced else spec["end_to_end"]
    source = ctx.layer if ctx.traced else ctx.e2e
    metrics = {}
    for m in wanted:
        name = check_name(m["name"])
        if name not in source and not ctx.traced:
            raise RuntimeError(f"workload did not measure {name}")
        metrics[name] = {"value": float(source.get(name, 0.0)), "unit": m["unit"]}
    extra = set(source) - {m["name"] for m in wanted}
    if extra:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(extra)}")
    result = {
        "correct": ctx.failed == 0,
        "attempted": max(1, ctx.attempted),
        "failed": ctx.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
