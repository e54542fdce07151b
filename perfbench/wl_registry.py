"""The registry part of ``registry_sf0.1``: one sweep over a fixed subset
of the query registry (``plans.analytics.QUERIES``) on sf0.1-shaped
tables generated from the seed (600,000 lineitem rows, 5,000
documents). A unit of the workload is this sweep followed by one cycle
of dashboard polls on the alerts API (``wl_alerts``).

Each query is timed as ``fn(spark, sf_dir)`` (driver-side plan build)
plus ``.count()`` (execution), the way ``bench.py`` times it. The sweep
starts from cleared session memos (cluster labels, gram frames, query
caches), so it never times an earlier sweep's memo hits, while reuse
between queries inside the sweep (z17 reusing q50's cluster labels)
counts. It is the first sweep of a fresh session (only the API's
warm-up poll runs before it), so first-run code generation and JIT are
part of it.

Each query's row count is checked against DuckDB running the query's
oracle SQL on the same files; q50 and z17, whose oracles take seconds
in DuckDB, return one row per document and are checked against the
document count.

The full registry (122 queries) takes about 70 s per warm sweep on four
cores, more than a benchmark run may last, so the sweep covers six
queries chosen to reach the relational core, windows, as-of joins,
near-duplicate clustering, sketches and cross-query memo reuse.
"""

from __future__ import annotations

import os

from datagen import write_registry_tables
from harness import median, nproc

SF = 0.1
QUERIES = [
    "q01_pricing_summary",      # relational core: scan, filter, aggregate, sort
    "q20_percent_rank",         # operators.windows
    "q44_asof_attribution",     # operators.asof
    "q50_dedup_clusters",       # operators.dedup + similarity (MinHash LSH clusters)
    "z02_heavy_hitters",        # operators.sketches
    "z17_leakage_safe_split",   # reuses q50's cluster labels within a sweep
]
TABLES = ["lineitem", "customer", "events", "documents"]  # the ones QUERIES read
PER_DOCUMENT = {"q50_dedup_clusters", "z17_leakage_safe_split"}


def inputs(ctx) -> None:
    ctx["sf_dir"] = os.path.join(ctx["work"], "sf0.1")
    ctx["rows"] = write_registry_tables(ctx["sf_dir"], ctx["seed"], SF)


def prepare(spark, ctx) -> dict:
    from sustainable_building_energy_benchmarking_pipeline_spark.session import load_tables

    load_tables(spark, ctx["sf_dir"], TABLES)  # file listing, footers, temp views
    return {"sf_dir": ctx["sf_dir"], "rows": ctx["rows"], "counts": {}}


def units(seconds: int) -> int:
    return 1


def _clear(spark) -> None:
    from sustainable_building_energy_benchmarking_pipeline_spark.operators import dedup
    from sustainable_building_energy_benchmarking_pipeline_spark.session import clear_query_cache

    dedup.clear_cluster_label_cache()
    dedup.clear_gram_frame_cache()
    clear_query_cache(spark)


def unit(spark, st, tracer, ops, i) -> None:
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import (
        QUERIES as REGISTRY,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.session import clear_query_cache

    _clear(spark)
    for name in QUERIES:
        def one(name=name):
            with tracer.span("registry.query", query=name):
                with tracer.span("plans.analytics.build", query=name):
                    df = REGISTRY[name].fn(spark, st["sf_dir"])
                with tracer.span("plans.analytics.exec", query=name):
                    return df.count()

        st["counts"][name] = ops.run(name, one)
        # release intermediates the query persisted (bench.py does the same)
        clear_query_cache(spark)


def _oracle_counts(sf_dir: str, n_docs: int) -> dict[str, int]:
    import duckdb

    from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import (
        QUERIES as REGISTRY,
    )

    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            con.execute(
                f"CREATE VIEW {f.split('.')[0]} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, f)}')"
            )
        return {
            name: (n_docs if name in PER_DOCUMENT else
                   con.execute(f"SELECT count(*) FROM ({REGISTRY[name].sql}) q").fetchone()[0])
            for name in QUERIES
        }
    finally:
        con.close()


def check(spark, st, records: dict) -> list[str]:
    want = _oracle_counts(st["sf_dir"], st["rows"]["documents"])
    records["row_counts"] = st["counts"]
    records["table_rows"] = st["rows"]
    return [
        f"{name}: {n} rows, DuckDB oracle has {want[name]}"
        for name, n in st["counts"].items() if n != want[name]
    ]


def per_layer(tracer, st) -> dict:
    m: dict[str, float] = {}

    def med(name, key="wall_s"):
        return median(tracer.per_unit(name, key))

    build = tracer.per_unit("plans.analytics.build")
    execs = tracer.per_unit("plans.analytics.exec")
    run = tracer.per_unit("plans.analytics.exec", "executor_run_s")
    m["plans.analytics.build_s"] = median(build)
    m["plans.analytics.exec_s"] = median(execs)
    m["plans.analytics.busy_cores"] = median([r / (w * nproc()) for r, w in zip(run, execs) if w])
    for key in ("jobs", "tasks", "spill_bytes"):
        m[f"plans.analytics.{key}"] = med("plans.analytics.exec", key) + med("plans.analytics.build", key)
    m["plans.analytics.shuffle_bytes"] = (
        med("plans.analytics.exec", "shuffle_write_bytes")
        + med("plans.analytics.build", "shuffle_write_bytes")
    )
    for sp in tracer.spans:
        if sp.name == "registry.query":
            key = f"registry.{sp.attrs['query']}.wall_s"
            m.setdefault(key, []).append(sp.end - sp.start)
    return {k: (median(v) if isinstance(v, list) else v) for k, v in m.items()}
