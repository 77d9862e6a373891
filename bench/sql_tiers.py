"""query_database tiers: per-query latency of the driver SQL tier
(DuckDB over Arrow snapshots) and of the Spark tier, and what one
snapshot costs per table, on the `serve` benchmark's warehouse and its
two SQL shapes.

The warehouse is `run_pipeline` over the seed-0, 1000-file balanced
corpus (`perfbench/common.corpus`), built on first use under
`.perfbench/sql_tiers/` and resumed after that. In one fresh JVM the
script then

- copies each queried table into DuckDB `--repeats` times on fresh APIs
  (`snapshot ms`: the capped Arrow collect plus the DuckDB load), next to
  one Spark query of that table (`spark query ms`), so the
  second-query snapshot rule can be read off the ratio;
- times `--queries` calls of each shape per tier, after 3 warm-up calls,
  with the arguments rotating over the warehouse's languages / repos,
  and checks that both tiers returned equal envelopes.

    python bench/sql_tiers.py                   # 5 snapshot repeats, 40 calls
    python bench/sql_tiers.py --queries 100

Prints one JSON line and a markdown table. Run nothing else meanwhile.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

SHAPES = {  # the serve workload's SQL calls (perfbench/workload_serve.py)
    "lang": ("entities", "SELECT COUNT(*) AS n FROM entities WHERE lang = '{}'"),
    "repo": ("entity_mentions", "SELECT kind, COUNT(*) AS n FROM entity_mentions "
                                "WHERE repo = '{}' GROUP BY kind ORDER BY kind"),
}


def _ms(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return (time.perf_counter() - t0) * 1000


def _stats(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=10) if len(xs) > 1 else xs * 9
    return {"p50": round(statistics.median(xs), 2), "p90": round(q[8], 2), "n": len(xs)}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repeats", type=int, default=5)
    ap.add_argument("--queries", type=int, default=40)
    args = ap.parse_args()

    import common
    common.pin_environment()
    spark = common.start_session(trace=False)
    try:
        from datacapsule_spark.api import DatacapsuleAPI
        from datacapsule_spark.pipeline import run_pipeline

        out = run_pipeline(spark, spark.read.parquet(common.corpus(0, 1000)),
                           os.path.join(common.STATE, "sql_tiers", "warehouse"))
        tables = {t: out[t] for t, _ in SHAPES.values()}
        values = {"lang": [r["lang"] for r in out["entities"].select("lang").distinct()
                           .orderBy("lang").collect() if r["lang"] is not None],
                  "repo": [r["repo"] for r in out["entity_mentions"].select("repo").distinct()
                           .orderBy("repo").collect()]}

        def open_api(threshold=None):
            kw = {} if threshold is None else {"driver_threshold": threshold}
            api = DatacapsuleAPI(spark, out["nodes"], out["edges"], **kw)
            api.register_tables(tables)
            return api

        result = {"snapshot": {}, "query": {}}
        spark_api = open_api(0)
        for shape, (table, sql) in SHAPES.items():
            q = sql.format(values[shape][0])
            spark_api.query_database(q)  # warm
            spark_q, copy = [], []
            for _ in range(args.repeats):
                api = open_api()
                view = api._sql._views[table]
                spark_q.append(_ms(lambda: api.query_database(q)))  # first query: Spark
                copy.append(_ms(lambda: api._sql._copy(view)))
                assert view.state == "ready", table
            rows = out[table].count()
            result["snapshot"][table] = {"rows": rows, "snapshot_ms": _stats(copy),
                                         "spark_query_ms": _stats(spark_q)}

        driver_api = open_api()
        for shape, (table, sql) in SHAPES.items():
            for tier, api in (("driver", driver_api), ("spark", spark_api)):
                vals = values[shape]
                for i in range(3):
                    api.query_database(sql.format(vals[i % len(vals)]))
                times = []
                for i in range(args.queries):
                    q = sql.format(vals[i % len(vals)])
                    times.append(_ms(lambda: api.query_database(q)))
                result["query"].setdefault(shape, {})[tier] = _stats(times)
            for v in values[shape]:
                q = sql.format(v)
                assert driver_api.query_database(q) == spark_api.query_database(q), q
            assert driver_api._sql.prepare(spark.sql(sql.format(values[shape][0])))
        result["cores"] = common.cores()
    finally:
        common.stop_session(spark)

    print(json.dumps(result))
    print("\n| shape | table (rows) | driver tier ms p50 / p90 | Spark tier ms p50 / p90 "
          "| snapshot ms p50 | first Spark query ms p50 |")
    print("|---|---|---|---|---|---|")
    for shape, (table, _) in SHAPES.items():
        d, s = result["query"][shape]["driver"], result["query"][shape]["spark"]
        snap = result["snapshot"][table]
        print(f"| {shape} | {table} ({snap['rows']}) | {d['p50']} / {d['p90']} | "
              f"{s['p50']} / {s['p90']} | {snap['snapshot_ms']['p50']} | "
              f"{snap['spark_query_ms']['p50']} |")


if __name__ == "__main__":
    main()
