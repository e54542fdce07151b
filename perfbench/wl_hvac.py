"""hvac_batch: the paper's batch side, stage by stage.

One unit is one E1 pipeline run into fresh directories:
generate (``generators.generate_hvac_data``) → write raw →
``plans.hvac.run_feature_pipeline`` → write features →
``plans.detection.run_rule_detection`` → ``IsolationForestDetector``
train and detect → write anomalies; followed by one re-run of the
building-benchmarking medallion into the run's Delta tables (see
``wl_medallion``).

The run first warms up with one untimed unit at a small scale (1 day ×
2 zones, 100 buildings): it pays the first-run JIT, code generation and
Python worker start-up of every stage, which otherwise make the first
run's time depend on how the host schedules the JIT threads, and it
creates the Delta tables, so every measured unit is an overwrite.

Each stage persists and counts its output inside its own span before
``sources.io`` writes it, so a layer's time and its write are measured
apart (the stages otherwise run lazily inside the write).
"""

from __future__ import annotations

import os

import wl_medallion
from harness import Ops, Tracer, median, nproc

# 6 days × 288 ticks × 10 zones = 17,280 raw rows: the shortest span in
# which the first episode of every injected fault type falls
DAYS = 6
ZONES = 10
WARM_UP = {"days": 1, "zones": 2, "buildings": 100}
# a warm unit takes about 20 s on a 4-core host
UNIT_SECONDS = 20
RULES = ["temp_drift", "clogged_filter", "compressor_failure", "oscillating_control"]
# rules whose predicate is checked row by row against the feature table
# (temp_drift is checked on its threshold; the run length is a window property)
PREDICATES = {
    "clogged_filter": "f.fan_speed_pct > 70 AND f.fan_rolling_mean_15min > 65",
    "compressor_failure": (
        "f.power_kw < 2.5 AND f.temp_error_c > 1.5 AND f.mode = 'cooling' "
        "AND f.power_rolling_mean_60min < 3.0"
    ),
    "temp_drift": "f.temp_error_c > 3.0",
}
NO_NULL_COLS = ["temp_zone_c_lag1", "power_kw_lag1", "fan_speed_pct_lag1",
                "temp_change_rate", "power_change_rate"]


def prepare(spark, ctx) -> dict:
    # the pipeline generates its own input; set-up only fixes the seed
    return {"seed": ctx["seed"], "work": ctx["work"], "runs": 0, "last": None,
            "days": DAYS, "zones": ZONES,
            "medallion": wl_medallion.new_state(ctx["seed"], os.path.join(ctx["work"], "delta"))}


def prologue(spark, st) -> None:
    """Warm-up: one untimed unit at the small scale."""
    ops = Ops()
    st.update(days=WARM_UP["days"], zones=WARM_UP["zones"])
    st["medallion"]["buildings"] = WARM_UP["buildings"]
    unit(spark, st, Tracer(spark, False, ""), ops, -1)
    if ops.failed:
        raise RuntimeError("warm-up run failed:\n" + "\n".join(ops.errors))
    st.update(days=DAYS, zones=ZONES)
    st["medallion"]["buildings"] = wl_medallion.N_BUILDINGS


def units(seconds: int) -> int:
    return max(1, round(seconds / UNIT_SECONDS))


def unit(spark, st, tracer, ops, i) -> None:
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
        IsolationForestDetector,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.detection import (
        run_rule_detection,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.hvac import (
        run_feature_pipeline,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.generators import (
        generate_hvac_data,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.io import (
        read_table,
        write_table,
    )

    st["runs"] += 1
    # a fresh derived seed per pipeline run, so no run can reuse an
    # earlier run's results; the sequence is fixed by the run's seed
    unit_seed = st["seed"] * 1000 + st["runs"]
    d = os.path.join(st["work"], f"run{st['runs']}")
    paths = {k: os.path.join(d, f"{k}.parquet") for k in ("raw", "features", "anomalies")}

    def stage(layer: str, build):
        """Build a stage's output under its layer span, materialized."""
        def go():
            with tracer.span(layer):
                df = build().persist()
                df.count()
            return df
        return ops.run(layer, go)

    def write(df, key: str) -> None:
        def go():
            with tracer.span("sources.io", table=key):
                write_table(df, paths[key])
        ops.run(f"write {key}", go)

    raw = stage("sources.generators",
                lambda: generate_hvac_data(spark, days=st["days"], n_zones=st["zones"], seed=unit_seed))
    write(raw, "raw")
    raw.unpersist()
    feats = stage("plans.hvac", lambda: run_feature_pipeline(read_table(spark, paths["raw"])))
    write(feats, "features")
    feats.unpersist()
    features = read_table(spark, paths["features"])
    rules = stage("plans.detection", lambda: run_rule_detection(features))

    def train():
        with tracer.span("ml.isolation_forest.train"):
            return IsolationForestDetector().train(features)
    det = ops.run("ml.isolation_forest.train", train)
    scored = stage("ml.isolation_forest.detect", lambda: det.detect(features))
    write(rules.unionByName(scored, allowMissingColumns=True), "anomalies")
    rules.unpersist()
    scored.unpersist()
    st["last"] = paths
    wl_medallion.rerun(spark, st["medallion"], tracer, ops)


def _rule_stats(spark, st) -> dict:
    """Flagged rows and labelled-fault share per rule (memoized)."""
    if "rule_stats" not in st:
        from pyspark.sql import functions as F

        rows = (
            spark.read.parquet(st["last"]["anomalies"])
            .groupBy("rule_name")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum((F.col("fault_type_label") != "none").cast("int")).alias("labelled"))
            .collect()
        )
        st["rule_stats"] = {r["rule_name"]: (r["n"], r["labelled"]) for r in rows}
    return st["rule_stats"]


def check(spark, st, records: dict) -> list[str]:
    from pyspark.sql import functions as F

    from sustainable_building_energy_benchmarking_pipeline_spark.sources.io import content_hash

    errors = []
    p = st["last"]
    raw_n = spark.read.parquet(p["raw"]).count()
    if raw_n != DAYS * 288 * ZONES:
        errors.append(f"raw has {raw_n} rows, expected {DAYS * 288 * ZONES}")
    feats = spark.read.parquet(p["features"])
    if len(feats.columns) != 28:
        errors.append(f"feature table has {len(feats.columns)} columns, expected 28")
    nulls = feats.select(
        *[F.sum(F.col(c).isNull().cast("int")).alias(c) for c in NO_NULL_COLS]
    ).first().asDict()
    if any(nulls.values()):
        errors.append(f"nulls in lag/diff columns: {nulls}")
    feats.createOrReplaceTempView("pb_features")
    spark.read.parquet(p["anomalies"]).createOrReplaceTempView("pb_anomalies")
    # per checked rule: anomalies whose feature row breaks the predicate,
    # and anomalies with no feature row at all
    per_rule = " UNION ALL ".join(
        f"SELECT '{rule}' AS rule, "
        f"count_if(f.zone_id IS NOT NULL AND NOT ({pred})) AS bad, "
        f"count_if(f.zone_id IS NULL) AS unmatched "
        f"FROM pb_anomalies a LEFT JOIN pb_features f "
        f"ON a.zone_id = f.zone_id AND a.timestamp = f.timestamp "
        f"WHERE a.rule_name = '{rule}'"
        for rule, pred in PREDICATES.items()
    )
    for r in spark.sql(per_rule).collect():
        if r["bad"] or r["unmatched"]:
            errors.append(f"{r['rule']}: {r['bad']} rows violate the rule, "
                          f"{r['unmatched']} have no feature row")
    records["features_content_hash"] = content_hash(feats)
    records["flagged_rows_per_rule"] = {k: v[0] for k, v in sorted(_rule_stats(spark, st).items())}
    return errors + wl_medallion.check(st["medallion"], records)


def per_layer(tracer, st) -> dict:
    from pyspark.sql import functions as F

    spark = tracer.spark
    m: dict[str, float] = {}

    def med(name, key="wall_s"):
        return median(tracer.per_unit(name, key))

    def busy(name):
        walls = tracer.per_unit(name)
        run = tracer.per_unit(name, "executor_run_s")
        return median([r / (w * nproc()) for r, w in zip(run, walls) if w > 0])

    m["sources.generators.wall_s"] = med("sources.generators")
    m["sources.generators.busy_cores"] = busy("sources.generators")
    m["plans.hvac.wall_s"] = med("plans.hvac")
    m["plans.hvac.cpu_s"] = med("plans.hvac", "executor_cpu_s")
    m["plans.hvac.tasks"] = med("plans.hvac", "tasks")
    m["plans.hvac.stages"] = med("plans.hvac", "stages")
    m["plans.hvac.busy_cores"] = busy("plans.hvac")
    m["plans.hvac.shuffle_write_bytes"] = med("plans.hvac", "shuffle_write_bytes")
    m["plans.hvac.spill_bytes"] = med("plans.hvac", "spill_bytes")
    m["plans.detection.wall_s"] = med("plans.detection")
    m["plans.detection.jobs"] = med("plans.detection", "jobs")
    stats = _rule_stats(spark, st)
    m["plans.detection.flagged_rows"] = sum(stats.get(r, (0, 0))[0] for r in RULES)
    for r in RULES:
        n, labelled = stats.get(r, (0, 0))
        m[f"plans.detection.{r}.flagged_rows"] = n
        m[f"plans.detection.{r}.labelled_fault_share"] = labelled / n if n else 0.0
    m["ml.isolation_forest.train_s"] = med("ml.isolation_forest.train")
    m["ml.isolation_forest.train_rows"] = (
        spark.read.parquet(st["last"]["features"]).filter(F.col("fault_type") == "none").count()
    )
    m["ml.isolation_forest.score_s"] = med("ml.isolation_forest.detect")
    m["ml.isolation_forest.score_busy_cores"] = busy("ml.isolation_forest.detect")
    m["ml.isolation_forest.flagged_rows"] = stats.get("isolation_forest", (0, 0))[0]
    m["sources.io.write_s"] = med("sources.io")
    m["sources.io.bytes_written"] = med("sources.io", "output_bytes")
    m.update(wl_medallion.per_layer(tracer, st["medallion"]))
    return m
