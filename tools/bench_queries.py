"""Targeted per-query A/B timer: run named queries N times each into the
noop sink inside one bench-shaped session, reporting min/median walls
plus the groupBy canary, so single-query optimizations can be A/B'd
without paying (or being confused by) a 102-query full-suite run on a
wave-prone host.

Usage:
  python tools/bench_queries.py q24_ntile q29_math_fns [...]
Env:
  SPARK_GRAFT_SF_DIR   corpus (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS     cores (default 32)
  HOARD_BENCH_REPS     repetitions per query (default 3)
  HOARD_BENCH_COLD     "1" → wipe the artifact store first (cold builds)
  HOARD_BENCH_OUT      write the JSON result here (default stdout only)

Methodology matches bench.py: same session conf, same warm-ups, noop
sink, release_caches between runs. Repetitions of artifact-backed
queries after the first are warm-artifact runs (like the suite, where
only the first family member pays the build) — use HOARD_BENCH_COLD and
rep #1 for cold-build numbers.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("HOARD_BENCH_REPS", "3"))


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: bench_queries.py <query> [...]")

    from pyspark.sql import functions as F

    from bench import suite_session
    from hoard_spark.queries import all_queries, release_caches

    spark = suite_session("hoard-spark-bench-queries")

    registry = all_queries()
    unknown = [n for n in names if n not in registry]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    if os.environ.get("HOARD_BENCH_COLD") == "1":
        from hoard_spark.artifacts import artifacts_root

        shutil.rmtree(artifacts_root(), ignore_errors=True)

    # bench.py warm-ups: shuffle/codegen + Python workers
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF_DIR}/{t}.parquet").count()
    (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.avg("l_quantity"), F.max("l_extendedprice"))
        .write.format("noop").mode("overwrite").save()
    )
    (
        spark.range(CPUS).repartition(CPUS)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    def canary() -> float:
        t0 = time.time()
        (
            spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
            .groupBy("l_returnflag")
            .agg(F.sum("l_quantity"))
            .write.format("noop").mode("overwrite").save()
        )
        return round(time.time() - t0, 3)

    out: dict = {"sf_dir": SF_DIR, "cpus": CPUS, "canary_pre": canary()}
    runs: dict[str, list[float]] = {}
    for name in names:
        q = registry[name]
        walls = []
        for rep in range(REPS):
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            t0 = time.time()
            try:
                df = q.spark_fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                walls.append(round(time.time() - t0, 3))
            except Exception as e:  # noqa: BLE001
                walls.append(-1.0)
                print(f"# {name} rep{rep}: ERROR {type(e).__name__}: {e}",
                      file=sys.stderr)
            finally:
                release_caches()
                spark.catalog.clearCache()
                spark.sparkContext.setJobDescription(None)
        runs[name] = walls
        ok = [w for w in walls if w >= 0]
        print(f"# {name}: {walls} min={min(ok) if ok else -1}",
              file=sys.stderr)
    out["canary_post"] = canary()
    out["runs"] = runs
    out["summary"] = {
        n: {
            "min": min(w for w in ws if w >= 0) if any(
                w >= 0 for w in ws) else -1,
            "median": statistics.median([w for w in ws if w >= 0]) if any(
                w >= 0 for w in ws) else -1,
        }
        for n, ws in runs.items()
    }
    line = json.dumps(out, separators=(",", ":"))
    print(line)
    dest = os.environ.get("HOARD_BENCH_OUT")
    if dest:
        Path(dest).write_text(json.dumps(out, indent=1) + "\n")


if __name__ == "__main__":
    main()
