"""Benchmark entry point.

    python3 perfbench/run.py --workload tsdb --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It starts one Spark session on
``local[<cores>]``, drives ``hoard_spark`` through its public functions as
one closed-loop client, checks every output, and prints as its last line
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it is a JSON ``detail`` record: the
workload's named metrics with sample counts, the check results and the
host context. Both, plus the spans of a traced run, are also written to
``.perfbench_out/`` in the checkout. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# Each workload is a sequence of phases, modules with ``prepare(ctx)``
# (untimed set-up) and ``measure(ctx, state)`` (the timed operations and
# their checks). All phases are set up before the first is timed.
WORKLOADS = {"tsdb": ("tsdb",), "llm": ("analytics", "stream")}


class Context:
    """What a workload gets from the harness: the session, its own temp
    root, the seed, the measuring time and (in a traced run) the tracer."""

    def __init__(self, spark, tmp: Path, seed: int, seconds: float, tracer, cores: int):
        self.spark = spark
        self.tmp = tmp
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.cores = cores
        self.setup_s: float | None = None
        self.t_timed: float | None = None

    def start_timing(self) -> None:
        """Marks the end of set-up: called just before the first timed op."""
        self.t_timed = time.perf_counter()
        self.setup_s = self.t_timed - T_START

    def time_left(self) -> float:
        return self.seconds - (time.perf_counter() - self.t_timed)

    @contextlib.contextmanager
    def op(self, kind: str, scope: str | None = None, traced: bool = True):
        """Time one operation; in a traced run, trace it unless
        ``traced`` is false (untraced operations measure the overhead)."""
        if self.tracer is None:
            rec = {"kind": kind, "scope": scope, "traced": False}
            t0 = time.perf_counter()
            yield rec
            rec["wall"] = time.perf_counter() - t0
            return
        self.tracer.enabled = traced
        try:
            with self.tracer.op(kind, scope) as rec:
                yield rec
        finally:
            self.tracer.enabled = False


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _canary(spark) -> float:
    """A fixed groupBy job, timed before and after the workload: a slow
    host reads slow here too, which tells a host-speed wave from a
    regression."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (
        spark.range(200_000)
        .groupBy((F.col("id") % 97).alias("k"))
        .agg(F.sum("id"), F.avg("id"))
        .write.format("noop").mode("overwrite").save()
    )
    return time.perf_counter() - t0


def _warm_up(spark, tmp: Path, cores: int) -> None:
    """JVM, whole-stage codegen, shuffle and parquet warm-ups, so that no
    timed op pays their first-use cost. (Python workers are warmed by the
    one phase whose operations use them, ``analytics``.)"""
    from pyspark.sql import functions as F

    path = str(tmp / "warm.parquet")
    spark.range(1000).withColumn("v", F.col("id") * 0.5).write.parquet(path)
    (
        spark.read.parquet(path)
        .groupBy((F.col("id") % cores).alias("k"))
        .agg(F.avg("v"), F.max("v"))
        .write.format("noop").mode("overwrite").save()
    )


def _start_session(tmp: Path, cores: int):
    from hoard_spark.session import get_spark

    java_tmp = tmp / "java"
    java_tmp.mkdir()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(tmp / "local"),
            "spark.sql.warehouse.dir": str(tmp / "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={java_tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _merge(results: list[dict]) -> dict:
    out = {"attempted": 0, "failures": [], "e2e": {}, "named": {}, "layers": {}}
    for r in results:
        out["attempted"] += r["attempted"]
        out["failures"] += r["failures"]
        for k in ("e2e", "named", "layers"):
            out[k].update(r[k])
    out["failed"] = len(out["failures"])
    return out


def _trace_layers(tracer) -> dict:
    from perfbench.layers import overhead, self_time_shares

    return {
        "trace.overhead_share": overhead(tracer.ops),
        "trace.spans": len(tracer.spans),
        **self_time_shares(tracer.spans),
    }


def _result_line(spec: dict, res: dict, ctx: Context, traced: bool) -> dict:
    if traced:
        # A layer the workload does not exercise reads 0 (no calls, no
        # jobs); the detail record lists which those were.
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = {n: res["layers"].get(n, 0) for n, _ in names}
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = dict(res["e2e"], setup_s=ctx.setup_s)
    missing = [n for n, _ in names if n not in values]
    if missing:
        raise RuntimeError(f"workload did not measure {missing}")
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": values[n], "unit": u} for n, u in names},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.is_file() or not (ROOT / "hoard_spark" / "__init__.py").is_file():
        print(
            f"perfbench: {ROOT} lacks hoard_spark/ or BENCHMARK.json; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    spec = json.loads(spec_path.read_text())
    sys.path.insert(0, str(ROOT))

    cores = len(os.sched_getaffinity(0))
    tmp = ROOT / ".perfbench_tmp" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp.mkdir(parents=True)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, str(cores))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        HOARD_SPARK_ARTIFACTS=str(tmp / "artifacts"),
        SPARK_LOCAL_DIRS=str(tmp / "local"),
        TMPDIR=str(tmp),
    )
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(tmp, cores)
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        _warm_up(spark, tmp, cores)
        warm_up_s = time.perf_counter() - t0
        tracer = None
        if args.trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        ctx = Context(spark, tmp, args.seed, args.seconds, tracer, cores)
        context = {"cores": cores, "canary_pre_s": _canary(spark), "loadavg_pre": _loadavg()}
        phases = [importlib.import_module(f"perfbench.{p}") for p in WORKLOADS[args.workload]]
        phase_s = {}
        states = []
        for p in phases:
            t0 = time.perf_counter()
            states.append(p.prepare(ctx))
            phase_s[f"{p.__name__.split('.')[-1]}.prepare"] = time.perf_counter() - t0
        ctx.start_timing()
        results = []
        for p, st in zip(phases, states):
            t0 = time.perf_counter()
            results.append(p.measure(ctx, st))
            phase_s[f"{p.__name__.split('.')[-1]}.measure"] = time.perf_counter() - t0
        res = _merge(results)
        context.update(canary_post_s=_canary(spark), loadavg_post=_loadavg())
        if tracer is not None:
            res["layers"].update(_trace_layers(tracer))
            res["layers"]["session.start_s"] = session_s
        line = _result_line(spec, res, ctx, bool(args.trace))
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "setup_s": ctx.setup_s,
            "session_start_s": session_s,
            "warm_up_s": warm_up_s,
            "phase_s": phase_s,
            "context": context,
            "named": res["named"],
            "checks": {"attempted": res["attempted"], "failures": res["failures"][:50]},
        }
        if args.trace:
            detail["not_exercised"] = [
                m["name"] for m in spec["per_layer"] if m["name"] not in res["layers"]
            ]
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        (out / f"{stem}.json").write_text(json.dumps(dict(detail, result=line), indent=1))
        if tracer is not None:
            (out / f"{stem}-spans.json").write_text(json.dumps(tracer.dump()))
        print(json.dumps({"detail": detail}))
        print(json.dumps(line))
        return 0
    finally:
        if spark is not None:
            _stop_session(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        with contextlib.suppress(OSError):  # another run may still use it
            tmp.parent.rmdir()


if __name__ == "__main__":
    sys.exit(main())
