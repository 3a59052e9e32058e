"""The ``analytics`` phase: the query surface, cold and then warm.

Set-up generates the corpus (``gen.tables``) into the run's temp root.
Timed: one cold pass over ``FAMILIES`` with the artifact store empty,
each query's rows collected; then ``WARM_PASSES`` passes in seeded
order, each query built and run into the ``noop`` sink, with
``release_caches()`` after each query (untimed, as in ``bench.py``).
Checked outside the timing: the cold pass's rows against each query's
DuckDB oracle twin (the scale twin where one is declared), by the
order-insensitive value hash of ``tools/check_correctness.py``; and,
after the warm passes, each query's rows collected once more through the
warm artifacts against the same oracle.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench import gen
from perfbench.layers import mean, ms, spark_scope_metrics
from perfbench.stats import family_sums, geomean, median
from tools.check_correctness import value_hash

# One query per family, each one the roadmap names for speed: q01's
# driver floor, q24's in-plan NTILE offsets, the q51 regression and the
# q100 cold residual.
FAMILIES = {
    "timeseries": ["q01"],
    "relational": ["q24"],
    "text": ["q51"],
    "vector": ["q100"],
}
WARM_PASSES = 3
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _install(tracer) -> None:
    import hoard_spark.artifacts as artifacts

    def note_build(fn, rec, args, kwargs):
        # the builder is the last positional argument or ``build=``
        args = list(args)
        build = kwargs.pop("build", None) or args.pop()

        def counted():
            rec["built"] = True
            return build()

        rec["built"] = False
        return fn(*args, build=counted, **kwargs)

    tracer.patch(artifacts, "get_or_build", "artifacts.get_or_build", note_build)
    tracer.patch(artifacts, "get_or_build_json", "artifacts.get_or_build", note_build)


def _key(cols, rows) -> tuple:
    """Row count, column names and value hash, as the correctness gate
    compares them (column names lower-cased)."""
    cols = [c.lower() for c in cols]
    return len(rows), sorted(cols), value_hash(rows, cols)


def _oracle_check(data_dir: str, runs: dict, registry, names, cores: int) -> tuple[int, list]:
    """Checks each ``runs[label][query]`` (``(columns, rows)``) against
    the query's oracle; an engine-only query's runs against its cold run.
    Returns the number of checks and the failures."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {cores}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    attempted, failures = 0, []
    for short, name in names.items():
        q = registry[name]
        sql = q.oracle_scale or q.oracle
        if sql is None:  # engine-only query: every run must agree with the cold one
            want, what = _key(*runs["cold"][short]), "the cold run"
        else:
            cur = con.execute(sql)
            want, what = _key([d[0] for d in cur.description], cur.fetchall()), "oracle"
        for label, got in runs.items():
            attempted += 1
            n, cols, h = _key(*got[short])
            if (n, cols) != want[:2]:
                failures.append(f"{short} {label}: {n} rows {cols} vs {what} {want[0]} {want[1]}")
            elif h != want[2]:
                failures.append(f"{short} {label}: value hash differs from {what}")
    con.close()
    return attempted, failures


def prepare(ctx) -> dict:
    from hoard_spark.queries import all_queries

    spark = ctx.spark
    if ctx.tracer is not None:
        _install(ctx.tracer)
    gen.write_tables(ctx.seed, str(ctx.tmp / "data"))
    registry = all_queries()
    names = {
        short: next(n for n in registry if n.split("_", 1)[0] == short)
        for fam in FAMILIES.values() for short in fam
    }
    for t in TABLES:  # first-read costs of the generated files
        spark.read.parquet(str(ctx.tmp / "data" / f"{t}.parquet")).count()
    # Python-worker warm-up: the vector queries run Arrow stages, and the
    # first of them would otherwise pay for forking one worker per core.
    (
        spark.range(ctx.cores).repartition(ctx.cores)
        .mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    return {"registry": registry, "names": names}


def measure(ctx, st: dict) -> dict:
    from hoard_spark.queries import release_caches

    spark, registry, names = ctx.spark, st["registry"], st["names"]
    data = str(ctx.tmp / "data")
    family_of = {short: fam for fam, members in FAMILIES.items() for short in members}
    rng = np.random.default_rng([ctx.seed, 8])
    release_walls: list[float] = []

    def release() -> None:
        t0 = time.perf_counter()
        release_caches()
        release_walls.append(time.perf_counter() - t0)

    cold_rows, cold_walls = {}, {}
    for short, name in names.items():
        with ctx.op("cold", family_of[short]) as rec:
            df = registry[name].spark_fn(spark, data)
            rows = [tuple(r) for r in df.collect()]
        cold_rows[short] = (df.columns, rows)
        cold_walls[short] = rec["wall"]
        release()
    cold_s = sum(cold_walls.values())

    # A traced run traces each query in every other pass, half of the
    # queries from the first; their untraced runs measure the overhead.
    index = {s: i for i, s in enumerate(names)}
    warm: dict[str, list[float]] = {s: [] for s in names}
    for p in range(WARM_PASSES):
        for short in rng.permutation(list(names)):
            traced = (index[short] + p) % 2 == 0
            with ctx.op("construct", family_of[short], traced) as c:
                df = registry[names[short]].spark_fn(spark, data)
            with ctx.op("execute", family_of[short], traced) as e:
                df.write.format("noop").mode("overwrite").save()
            c["key"] = e["key"] = short
            release()
            warm[short].append(c["wall"] + e["wall"])

    # Untimed: each query's rows once more through the warm artifacts, so
    # a warm path that returns wrong rows fails a check.
    warm_rows = {}
    for short, name in names.items():
        df = registry[name].spark_fn(spark, data)
        warm_rows[short] = (df.columns, [tuple(r) for r in df.collect()])
        release()
    runs = {"cold": cold_rows, "warm": warm_rows}
    attempted, failures = _oracle_check(data, runs, registry, names, ctx.cores)
    per_query_ms = {s: ms(median(v)) for s, v in warm.items()}
    named = {
        "cold_pass_s": {"value": cold_s, "unit": "s", "n": 1},
        "warm_geomean_ms": {"value": geomean(list(per_query_ms.values())), "unit": "ms", "n": WARM_PASSES},
        **{
            f"{f}_s": {"value": v / 1000, "unit": "s", "n": WARM_PASSES}
            for f, v in family_sums(per_query_ms, FAMILIES).items()
        },
        "per_query_warm_ms": per_query_ms,
        "per_query_cold_ms": {s: ms(w) for s, w in cold_walls.items()},
        "rows": {s: len(r) for s, (_, r) in cold_rows.items()},
    }
    layers = {}
    if ctx.tracer is not None:
        layers = _layers(ctx.tracer, ctx.cores, family_of, release_walls)
    return {
        "attempted": attempted,
        "failures": failures,
        "e2e": {"bulk_s": cold_s, "read_ms": named["warm_geomean_ms"]["value"]},
        "named": named,
        "layers": layers,
    }


def _layers(tracer, cores: int, family_of: dict, release_walls: list[float]) -> dict:
    spans, ops = tracer.spans, tracer.ops
    traced = [o for o in ops if o["traced"]]
    art = [s for s in spans if s["name"] == "artifacts.get_or_build"]
    # a builder may read another artifact: count build wall once, at the
    # outermost building call
    outer = [s for s in art if s.get("built") and spans[s["parent"]]["name"] != s["name"]]
    out = {
        "artifacts.builds": sum(1 for s in art if s.get("built")),
        "artifacts.hits": sum(1 for s in art if not s.get("built")),
        "artifacts.build_s": sum(s["end"] - s["start"] for s in outer),
        "cache.release_ms": ms(mean(release_walls)),
    }
    def family_sum(kind: str, fam: str, value) -> float:
        """Sum over the family's queries of the mean over each query's
        traced warm runs (a query is traced in one or two passes)."""
        return sum(
            mean(value(o) for o in traced if o["kind"] == kind and o["key"] == q)
            for q, f in family_of.items()
            if f == fam
        )

    for fam in set(family_of.values()):
        out[f"queries.{fam}.construct_ms"] = ms(family_sum("construct", fam, lambda o: o["wall"]))
        out[f"queries.{fam}.construct_jobs"] = family_sum("construct", fam, lambda o: o["spark"]["jobs"])
        out[f"queries.{fam}.execute_ms"] = ms(family_sum("execute", fam, lambda o: o["wall"]))
    # Spark counters per family: the mean per traced warm run times the
    # family's query count, i.e. the family's warm cost, not a per-query
    # average.
    for k, v in spark_scope_metrics([o for o in traced if o["kind"] == "execute"], cores).items():
        fam = k.split(".")[1]
        n = sum(1 for s in family_of.values() if s == fam)
        out[k] = v if k.endswith("executor_share") else v * n
    return out
