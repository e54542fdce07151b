"""Spark-native synthetic data generators (SURVEY §2.1 S5, §2.8 F7/F18/F19).

Replicates the reference generators' distributions
(``generate_sample_data.py:15-45``, ``src/generate_hvac_data.py:13-225``)
with a crucial scale difference: randomness is **hash-based and
partition-invariant** — ``xxhash64(key, salt)`` → uniform → Box-Muller —
instead of ``F.rand(seed)`` (whose values depend on partition layout) or a
driver-side RNG. The same (key, salt) always produces the same value on
any cluster at any parallelism, so generated tables are reproducible and
the generator scales linearly with no driver bottleneck: the 86,400-row
reference workload and a 52.6M-row year×100-zones×1-min workload
(HVAC_README.md:554-557) run the same plan.

Distribution parity, not bit parity: the reference's numpy RNG stream
cannot (and need not) be reproduced; tests assert the reference's own
invariants (FIXTURES.md: shapes, domains, return>supply, |temp−setpoint|<2).
"""

from __future__ import annotations

import math
import random
from datetime import datetime, timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TWO_63 = float(2**63)

BUILDING_TYPES = ["office", "residential", "retail", "industrial", "educational"]
FAULT_TYPES = ["clogged_filter", "compressor_failure", "temp_drift", "oscillating_control"]


def _u(salt: str, *cols) -> F.Column:
    """Deterministic uniform [0,1) from a hash of (cols, salt)."""
    h = F.xxhash64(*cols, F.lit(salt))
    return (h.cast("double") / F.lit(TWO_63 * 2)) + F.lit(0.5)


def _randn(salt: str, *cols) -> F.Column:
    """Deterministic standard normal via Box-Muller on two hash uniforms."""
    u1 = _u(salt + ":u1", *cols)
    u2 = _u(salt + ":u2", *cols)
    # 1-u1 ∈ (0,1] keeps the log finite
    return F.sqrt(-2.0 * F.log(1.0 - u1)) * F.cos(2.0 * math.pi * u2)


# ---------------------------------------------------------------------------
# Buildings (generate_sample_data.py:15-45)
# ---------------------------------------------------------------------------

def generate_buildings(spark: SparkSession, n: int = 100, seed: int = 42) -> DataFrame:
    """Synthetic building portfolio with the reference's distributions:
    B%03d ids, 5 uniform types, area U(500,10000), year randint(1970,2023),
    energy U(10000,500000), occupancy randint(10,500), hvac Bern(0.5),
    solar Bern(0.3)."""
    salt = f"buildings:{seed}"
    i = F.col("id")
    type_idx = F.floor(_u(salt + ":type", i) * len(BUILDING_TYPES)).cast("int")
    type_expr = F.array(*[F.lit(t) for t in BUILDING_TYPES])[type_idx]
    return (
        spark.range(1, n + 1)
        .select(
            F.format_string("B%03d", i.cast("int")).alias("building_id"),
            type_expr.alias("building_type"),
            F.round(_u(salt + ":area", i) * 9500 + 500, 2).alias("area"),
            (F.floor(_u(salt + ":year", i) * 54) + 1970).cast("int").alias("year_built"),
            F.round(_u(salt + ":energy", i) * 490000 + 10000, 2).alias("energy_consumption"),
            (F.floor(_u(salt + ":occ", i) * 491) + 10).cast("int").alias("occupancy"),
            (_u(salt + ":hvac", i) < 0.5).alias("has_hvac"),
            (_u(salt + ":solar", i) < 0.3).alias("has_solar"),
        )
    )


# ---------------------------------------------------------------------------
# HVAC base profile (src/generate_hvac_data.py:13-89)
# ---------------------------------------------------------------------------

def generate_hvac_base(
    spark: SparkSession,
    start: str = "2024-01-01",
    days: int = 30,
    freq_minutes: int = 5,
    n_zones: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Dense 5-min sensor grid × zones, fully distributed.

    Grid = F.sequence + explode (F7); zones broadcast-joined; all noise
    hash-keyed by (zone, ts). Matches the reference profile: business-hour
    (8-18h, weekend ×0.6) day_factor drives temp/power/fan; return air ≈
    temp + N(1.0, 0.3); inclusive end bound like pd.date_range.
    """
    salt = f"hvac:{seed}"
    start_dt = datetime.fromisoformat(start)
    # last tick at start + days − freq: the reference generates
    # "2024-01-01 00:00".."2024-01-30 23:55" inclusive = days × 288 ticks
    end_dt = start_dt + timedelta(days=days) - timedelta(minutes=freq_minutes)

    zones = spark.range(n_zones).select(
        F.format_string("Z%d", (F.col("id") + 1).cast("int")).alias("zone_id"),
        F.round(22.0 + _randn(salt + ":zoff", F.col("id")) * 0.5, 2).alias("setpoint_c"),
    )
    grid = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(start_dt).cast("timestamp"),
                F.lit(end_dt).cast("timestamp"),
                F.expr(f"INTERVAL {freq_minutes} MINUTES"),
            )
        ).alias("timestamp")
    )
    # repartition the exploded grid so downstream generation parallelizes
    grid = grid.repartition(max(spark.sparkContext.defaultParallelism, 8))

    df = grid.crossJoin(F.broadcast(zones))
    ts, z = F.col("timestamp"), F.col("zone_id")
    hour_frac = F.hour(ts) + F.minute(ts) / 60.0
    business = (hour_frac >= 8) & (hour_frac <= 18)
    weekend = F.weekday(ts) >= 5
    day_factor = F.when(business, 1.5).otherwise(0.5) * F.when(weekend, 0.6).otherwise(1.0)
    mode = F.when(business, "cooling").otherwise("off")

    def n(tag: str) -> F.Column:
        return _randn(f"{salt}:{tag}", z, ts)

    temp = F.col("setpoint_c") + n("temp") * 0.3 + (day_factor - 1.0) * 1.0
    return (
        df.withColumn("ahu_id", F.lit("AHU1"))
        .withColumn("mode", mode)
        .withColumn("temp_zone_c", F.round(temp, 2))
        .withColumn("rh_zone_pct", F.round(F.least(F.greatest(45 + n("rh") * 5, F.lit(30.0)), F.lit(60.0)), 2))
        .withColumn(
            "supply_air_temp_c",
            F.round(F.when(business, 14.0).otherwise(18.0) + n("supply") * 0.5, 2),
        )
        .withColumn("return_air_temp_c", F.round(F.col("temp_zone_c") + 1.0 + n("ret") * 0.3, 2))
        .withColumn("power_kw", F.round(F.greatest(F.lit(0.0), 5.0 * day_factor + n("power") * 0.3), 2))
        .withColumn(
            "fan_speed_pct",
            F.round(F.least(F.greatest(40.0 * day_factor + n("fan") * 5, F.lit(10.0)), F.lit(90.0)), 2),
        )
        .withColumn("fault_type", F.lit("none"))
        .select(
            "timestamp", "zone_id", "ahu_id", "temp_zone_c", "rh_zone_pct",
            "supply_air_temp_c", "return_air_temp_c", "power_kw",
            "fan_speed_pct", "setpoint_c", "mode", "fault_type",
        )
    )


# ---------------------------------------------------------------------------
# Fault injection (src/generate_hvac_data.py:92-225)
# ---------------------------------------------------------------------------

def fault_episodes(
    start: str = "2024-01-01",
    n_zones: int = 10,
    n_episodes_per_fault: int = 4,
    seed: int = 42,
) -> list[dict]:
    """Deterministic fault-episode schedule (driver-side metadata only —
    a handful of literals, not data). Mirrors the reference's layout:
    episodes spread across the month, per-fault day offsets/hours."""
    rng = random.Random(seed)
    zones = [f"Z{i + 1}" for i in range(n_zones)]
    start_dt = datetime.fromisoformat(start)
    spec = [
        ("clogged_filter", 5, 9, 8),
        ("compressor_failure", 3, 10, 6),
        ("temp_drift", 4, 11, 10),
        ("oscillating_control", 2, 8, 6),
    ]
    episodes = []
    for fault, day0, hour0, dur_h in spec:
        for ep in range(n_episodes_per_fault):
            s = start_dt + timedelta(days=day0 + ep * 6, hours=hour0)
            episodes.append(
                {
                    "fault": fault,
                    "zone": rng.choice(zones),
                    "start": s,
                    "end": s + timedelta(hours=dur_h),
                    "drift": 3.5 + rng.uniform(0, 1.5),  # temp_drift amount
                }
            )
    return episodes


def inject_faults(df: DataFrame, episodes: list[dict]) -> DataFrame:
    """Masked conditional updates (P17): each episode modifies its
    (zone, time-window) slice. Progression ramps use the time fraction
    through the window — the continuous form of the reference's
    ``np.linspace(0, 1, n_points)`` over a regular grid. Oscillation is
    2·sin over 0..4π of the window (F18).

    ONE projection: every mask reads only ``timestamp``/``zone_id``/
    ``mode``, which no episode changes, so each updated column is its
    base value plus one ``when(mask, delta).otherwise(0.0)`` term per
    episode, summed in episode order (fault-type order, then list
    order) — the same double additions a chain of per-episode updates
    performs, since an unmasked ``x + 0.0`` is ``x``. ``power_kw`` is
    (base + clogged-filter terms) × compressor factors, in that order;
    ``fault_type`` is a CASE in which the latest episode wins. Building
    one projection instead of ~60 chained ``withColumn`` calls keeps the
    driver from re-analysing a growing plan per call.
    """
    # every Column op is a driver round trip: shared sub-expressions are
    # built once
    ts, z = F.col("timestamp"), F.col("zone_id")
    ts_s, cooling, zero = ts.cast("double"), F.col("mode") == "cooling", F.lit(0.0)

    terms: dict[str, list[F.Column]] = {
        c: [] for c in ("temp_zone_c", "supply_air_temp_c", "return_air_temp_c",
                        "power_kw", "fan_speed_pct")
    }
    power_factors, labels = [], []
    for ep in [e for f in FAULT_TYPES for e in episodes if e["fault"] == f]:
        fault, start = ep["fault"], F.lit(ep["start"])
        m = (z == ep["zone"]) & (ts >= start) & (ts <= F.lit(ep["end"]))
        if fault == "compressor_failure":
            m = m & cooling
        labels.append((m, fault))
        if fault == "temp_drift":
            deltas = {"temp_zone_c": F.lit(ep["drift"])}
        else:
            # time fraction through the episode window
            span = (ep["end"] - ep["start"]).total_seconds()
            p = (ts_s - start.cast("timestamp").cast("double")) / span
            if fault == "clogged_filter":
                deltas = {"fan_speed_pct": p * 20, "power_kw": p * 2, "return_air_temp_c": p * 1.5}
            elif fault == "compressor_failure":
                power_factors.append(F.when(m, 0.3).otherwise(1.0))
                deltas = {"supply_air_temp_c": F.lit(5.0), "temp_zone_c": p * 4}
            else:
                osc = 2.0 * F.sin(p * 4 * math.pi)
                deltas = {"temp_zone_c": osc, "fan_speed_pct": osc * 5}
        for c, d in deltas.items():
            terms[c].append(F.when(m, d).otherwise(zero))

    def total(c: str) -> F.Column:
        x = F.col(c)
        for t in terms[c]:
            x = x + t
        return x

    power = total("power_kw")
    for f in power_factors:
        power = power * f
    fault_type = F.col("fault_type")
    if labels:
        case = F.when(*labels[-1])
        for m, fault in reversed(labels[:-1]):
            case = case.when(m, fault)
        fault_type = case.otherwise(fault_type)

    # final bounds + rounding (src/generate_hvac_data.py:215-222)
    numeric = {
        "temp_zone_c": F.least(F.greatest(total("temp_zone_c"), F.lit(15.0)), F.lit(35.0)),
        "rh_zone_pct": F.col("rh_zone_pct"),
        "supply_air_temp_c": F.least(F.greatest(total("supply_air_temp_c"), F.lit(10.0)), F.lit(25.0)),
        "return_air_temp_c": total("return_air_temp_c"),
        "power_kw": F.greatest(power, F.lit(0.0)),
        "fan_speed_pct": F.least(F.greatest(total("fan_speed_pct"), F.lit(0.0)), F.lit(100.0)),
        "setpoint_c": F.col("setpoint_c"),
    }
    return df.withColumns(
        {**{c: F.round(x, 2) for c, x in numeric.items()}, "fault_type": fault_type}
    )


def generate_hvac_data(
    spark: SparkSession,
    start: str = "2024-01-01",
    days: int = 30,
    n_zones: int = 10,
    seed: int = 42,
    with_faults: bool = True,
) -> DataFrame:
    """Full generator: base profile + fault episodes (the `make sample-data`
    stage 1, src/generate_hvac_data.py:228-295)."""
    base = generate_hvac_base(spark, start=start, days=days, n_zones=n_zones, seed=seed)
    if not with_faults:
        return base
    return inject_faults(base, fault_episodes(start=start, n_zones=n_zones, seed=seed))
