"""Capture .explain("formatted") for every declared query → plans/<tag>/.

Usage: python tools/capture_plans.py <tag> [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix via $PLAN_SUFFIX,
default "before"). The session is bench.py's ``suite_session``, so plan
shapes match what the bench executes (same AQE, broadcast threshold,
shuffle partitions). Queries whose *construction* fires jobs (q24's
offset collect, the ANN/cluster artifact builders on a cold store) run
those jobs here too — the captured plan is the terminal plan the noop
sink executes.

Dumps are normalized so two captures of one tree diff empty: exchange
``plan_id``s are a session-wide counter, and AQE numbers query stages
and ``codegen id``s in the order concurrent stages finish.
"""

from __future__ import annotations

import os
import re
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_UNSTABLE = (
    (re.compile(r"\[plan_id=\d+\]"), "[plan_id=N]"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id : N]"),
    # a query stage's id is its block's ``Arguments`` line
    (re.compile(r"(QueryStage\n(?:.+\n)*?Arguments: )\d+"), r"\g<1>N"),
)


def normalize(txt: str) -> str:
    for pattern, repl in _UNSTABLE:
        txt = pattern.sub(repl, txt)
    return txt


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    only = set(sys.argv[2:])
    suffix = os.environ.get("PLAN_SUFFIX", "before")
    out_dir = REPO / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)

    from bench import suite_session
    from hoard_spark.queries import all_queries, release_caches

    spark = suite_session("hoard-spark-capture-plans")

    jvm = spark.sparkContext._jvm
    for name, q in sorted(all_queries().items()):
        if only and name not in only:
            continue
        try:
            df = q.spark_fn(spark, SF_DIR)
            txt = jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            (out_dir / f"{name}_{suffix}.txt").write_text(normalize(txt))
            print(f"# {name}: ok", file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — capture the rest
            (out_dir / f"{name}_{suffix}.txt").write_text(
                f"ERROR {type(e).__name__}: {e}\n"
            )
            print(f"# {name}: ERROR {type(e).__name__}", file=sys.stderr)
        finally:
            release_caches()
            spark.catalog.clearCache()
    print(f"plans written to {out_dir}")


if __name__ == "__main__":
    main()
