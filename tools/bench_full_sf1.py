"""Full-suite engine walls at sf1 (VERDICT r8 item 6).

Times EVERY registered query once on the genuine-10x-cardinality sf1
corpus (tools/gen_sf1.py — now including the relational star schema, so
the relational/window family gets its first off-sf0.1 measurement) and
records the per-query slope vs the committed sf0.1 walls. The pass bar
from the verdict: no query >~15x its sf0.1 wall (10x data + overhead);
outliers are listed for SURVEY §6 diagnosis. Engine-only — there is no
oracle run at sf1 (value checks live at sf0.01 / the sf0.1 scale-twin
pass); this is a scaling artifact, not a correctness gate.

Usage: python tools/bench_full_sf1.py [--only qNN_name ...]
(regenerates the corpus if absent). Writes tools/bench_full_sf1.json.
``--only`` re-measures just the named queries and merges them into the
committed artifact (refresh REPLACES the prior entry — same discipline
as the sf10 run's targeted mode, tools/bench_full_sf10.json), so a
layout/plan change can refresh the rows it touched without a full re-run.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF1 = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/hoard_sf1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SLOPE_BAR = 15.0


def main() -> None:
    if not os.path.exists(f"{SF1}/lineitem.parquet"):
        subprocess.run(
            [sys.executable, str(REPO / "tools" / "gen_sf1.py"), SF1],
            check=True,
        )

    from pyspark.sql import SparkSession, functions as F

    from hoard_spark.artifacts import artifacts_root
    from hoard_spark.queries import all_queries, release_caches

    # own artifact root: sf1 artifacts must not collide with the bench's
    art_dir = tempfile.mkdtemp(prefix="hoard_sf1_full_artifacts_")
    os.environ["HOARD_SPARK_ARTIFACTS"] = art_dir

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("bench-full-sf1")
        .config("spark.sql.shuffle.partitions", str(CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 << 20))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # same warm-up discipline as bench.py (shuffle + codegen + py workers)
    for t in ("lineitem", "orders", "events", "documents", "embeddings"):
        spark.read.parquet(f"{SF1}/{t}.parquet").count()
    (
        spark.read.parquet(f"{SF1}/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.avg("l_quantity"), F.max("l_extendedprice"))
        .write.format("noop").mode("overwrite").save()
    )
    (
        spark.range(CPUS).repartition(CPUS)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    t0 = time.time()
    (
        spark.read.parquet(f"{SF1}/lineitem.parquet")
        .groupBy("l_partkey")
        .agg(F.sum("l_quantity"), F.avg("l_extendedprice"))
        .write.format("noop").mode("overwrite").save()
    )
    canary = round(time.time() - t0, 3)

    base = {}
    base_path = REPO / "tools" / "bench_full_sf0.1.json"
    if base_path.exists():
        base = json.loads(base_path.read_text()).get("queries", {})

    only = (
        set(sys.argv[sys.argv.index("--only") + 1 :])
        if "--only" in sys.argv
        else set()
    )
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            q.spark_fn(spark, SF1).write.format("noop").mode(
                "overwrite"
            ).save()
            timings[name] = round(time.time() - t0, 3)
            print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — time the rest regardless
            errors[name] = f"{type(e).__name__}: {e}"[:300]
            print(f"# {name}: ERROR {errors[name]}", file=sys.stderr)
        finally:
            release_caches()
            spark.catalog.clearCache()

    path = REPO / "tools" / "bench_full_sf1.json"
    if only and path.exists():
        # targeted refresh: merge into the committed artifact; refreshed
        # entries REPLACE priors so a change's new wall is recorded even
        # when slower (as the sf10 run did, tools/bench_full_sf10.json)
        prior = json.loads(path.read_text())
        merged = dict(prior.get("queries", {}))
        merged.update(timings)
        timings = merged
        errors = {
            **{k: v for k, v in prior.get("errors", {}).items()
               if k not in only},
            **errors,
        }

    from tools.check_correctness import corpus_fingerprint

    slopes = {
        n: round(t / base[n], 2)
        for n, t in timings.items()
        if base.get(n, 0) > 0
    }
    outliers = {
        n: {"sf1_sec": timings[n], "sf01_sec": base[n], "slope": s}
        for n, s in sorted(slopes.items(), key=lambda kv: -kv[1])
        if s > SLOPE_BAR
    }
    out = {
        "note": (
            "engine walls for the FULL suite at genuine-10x sf1 "
            "(fresh-sample corpus incl. relational tables; see "
            "tools/gen_sf1.py). slope = sf1_wall / committed sf0.1 wall; "
            f"bar = {SLOPE_BAR}x (10x data + overhead). Slopes well "
            "under 10x mean the query's sf0.1 wall is dominated by "
            "Spark's fixed per-job floor, not data."
        ),
        "sf1_dir": SF1,
        "corpus_fingerprint": corpus_fingerprint(SF1),
        "cpus": CPUS,
        "canary_groupby_sec": canary,
        "suite_seconds": round(sum(timings.values()), 3),
        "n_queries": len(timings),
        "errors": errors,
        "slope_bar": SLOPE_BAR,
        "outliers_over_bar": outliers,
        "slopes": dict(sorted(slopes.items(), key=lambda kv: -kv[1])),
        "queries": timings,
    }
    path.write_text(json.dumps(out, indent=1) + "\n")
    shutil.rmtree(art_dir, ignore_errors=True)
    print(json.dumps({
        "suite_seconds": out["suite_seconds"],
        "n_queries": out["n_queries"],
        "errors": len(errors),
        "worst_slopes": dict(list(out["slopes"].items())[:8]),
        "outliers_over_bar": list(outliers),
        "artifact": str(path.relative_to(REPO)),
    }))


if __name__ == "__main__":
    main()
