"""spark.sql as a first-class query surface: EVERY registry query must
be runnable as a SQL string through Spark — same engine, two
front-ends, one answer (mirrors the reference, which drives its store
exclusively through SQL strings, src/db.py:138-163).

Coverage split:
- SPARK_PORTABLE: the DuckDB oracle text is ANSI enough to run in
  Spark verbatim — the SAME string serves both engines.
- plans.sql_frontend.SPARK_SQL: Spark-dialect translation for oracles
  using DuckDB builtins (list lambdas, quantile_cont, ASOF JOIN, ...).
- q89_ivf_approx_topk is the single exclusion: approximate ANN whose
  result is recall-gated, not equality-checked, by design.
"""

from __future__ import annotations

import pytest

from tests.conftest import long_suite

from sustainable_building_energy_benchmarking_pipeline_spark.plans.analytics import QUERIES
from sustainable_building_energy_benchmarking_pipeline_spark.plans.sql_frontend import SPARK_SQL
from sustainable_building_energy_benchmarking_pipeline_spark.session import load_tables
from tests.oracle import normalize_result
from tests.test_plan_hygiene import _PER_ROW_FRAME_MSG, per_row_frames

SF_DIR = "/root/testdata/sf0.001"

# Oracle SQL that runs verbatim in Spark (ANSI-portable subset)
SPARK_PORTABLE = [
    "q01_pricing_summary", "q02_top_revenue_orders", "q03_segment_revenue",
    "q04_priority_exists", "q05_region_rollup",
    "q06_revenue_delta", "q07_case_bands", "q09_weighted_avg",
    "q10_grouping_sets", "q11_distinct_count", "q12_anti_join",
    "q13_semi_join", "q14_union_tag", "q15_topk_per_group",
    "q16_dedup_first", "q17_rolling_events", "q18_runs",
    "q20_percent_rank", "q21_sessionize", "q22_daily_counts",
    "q41_left_enrich", "q42_union_missing_columns",
    "q43_session_windows", "q45_rollup_revenue", "q46_pivot_event_types",
    "q47_oscillation_window", "q48_custom_sort", "q55_latest_state_upsert",
    "q58_unpivot_melt", "q67_fuzzy_name_match", "q68_value_histogram",
    "q71_funnel_stages", "q73_mode_event_type", "q74_ntile_buckets",
    "q75_numeric_correlation", "q79_cube_orders", "q82_intersect_except",
    "q85_zscore_normalize", "q87_wow_growth", "q92_agg_topk",
    "q93_dense_rank_ties", "q94_grouped_agg_udaf", "q95_value_range_frame",
    "z01_bloom_incremental_dedup", "z04_sharded_bloom_dedup",
]

EXCLUDED = {"q89_ivf_approx_topk"}  # approximate by design; recall-gated


def _sql_for(name: str) -> str:
    if name in SPARK_SQL:
        return SPARK_SQL[name]
    assert name in SPARK_PORTABLE, f"{name} has no Spark SQL surface"
    return QUERIES[name].sql


def test_every_query_has_sql_surface():
    missing = [
        n for n in QUERIES
        if n not in EXCLUDED and n not in SPARK_SQL and n not in SPARK_PORTABLE
    ]
    assert not missing, f"queries without a Spark SQL string: {missing}"


@pytest.fixture(scope="module", autouse=True)
def _views(spark):
    load_tables(spark, SF_DIR)


@pytest.mark.parametrize(
    "name", [n for n in sorted(QUERIES) if n not in EXCLUDED]
)
@long_suite
def test_sql_frontend_matches_dataframe(spark, name):
    spec = QUERIES[name]
    df_api = spec.fn(spark, SF_DIR)
    sql_api = spark.sql(_sql_for(name))
    a = normalize_result(df_api.columns, [tuple(r) for r in df_api.collect()])
    b = normalize_result(sql_api.columns, [tuple(r) for r in sql_api.collect()])
    assert a == b, f"{name}: SQL front-end diverges from DataFrame plan"


@pytest.mark.parametrize("name", sorted(SPARK_SQL))
def test_spark_sql_has_no_per_row_window_frame(spark, name):
    """Plan-hygiene gate for the Spark-dialect texts: planned (not run)
    over the sf0.001 views, none may hold a per-row recomputed frame."""
    plan = spark.sql(SPARK_SQL[name])._jdf.queryExecution().executedPlan().toString()
    hits = per_row_frames(plan)
    assert not hits, f"SPARK_SQL[{name!r}] {_PER_ROW_FRAME_MSG}: {hits}"


def test_q50_sql_raises_on_deep_chain(spark):
    """The unrolled 6-round propagation must fail LOUDLY (assert_true
    sentinel riding the output expressions — a detached check gets
    optimizer-pruned) when the near-dup graph's diameter exceeds the
    rounds, instead of returning intermediate labels as converged."""
    words = [f"w{j}" for j in range(60)]
    rows = [
        (i, " ".join(words[i * 2 : i * 2 + 10]), "en", "s", 30)
        for i in range(20)  # path graph: doc i ~ doc i+1 only, diameter 19
    ]
    chain = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    prior = spark.table("documents")
    chain.createOrReplaceTempView("documents")
    try:
        with pytest.raises(Exception, match="not converged within 6 rounds"):
            spark.sql(SPARK_SQL["q50_dedup_clusters"]).collect()
    finally:
        prior.createOrReplaceTempView("documents")
