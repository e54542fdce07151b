"""The dashboard client of ``registry_sf0.1``: one client polling the
alerts API in a closed loop (each request waits for the previous reply).

The server is ``api.create_app(spark, anomalies).test_client()`` in this
process, over an anomalies parquet of 100,000 rows generated from the
seed (not the detector's output, so detector changes cannot move these
numbers). A poll is GET /alerts, GET /alerts/summary, GET /health; one
unit is one cycle of ``POLLS`` polls. The mix is fixed (see
``_poll_requests``) and only filter values come from the seed, so every
seed asks for about the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd

from datagen import ANOMALY_DAYS, ANOMALY_START, RULES, SEVERITIES, anomalies_frame
from harness import Ops, Tracer, median, percentile

N_ROWS = 100_000
LIMITS = [50, 500, 5000]
FILTERS = [None, "zone_id", "severity", "rule_name"]
WINDOW_HOURS = [24, 72, 168]
POLLS = 6  # one cycle of the mix: each limit twice, each filter kind at least once
ROUTES = {"/alerts": "alerts", "/alerts/summary": "alerts_summary", "/health": "health"}
ALERT_KEYS = {"timestamp", "zone_id", "ahu_id", "metric", "score", "rule_name",
              "severity", "fault_type_label"}


def inputs(ctx) -> None:
    ctx["df"] = anomalies_frame(ctx["seed"], N_ROWS)
    ctx["path"] = os.path.join(ctx["work"], "anomalies.parquet")
    ctx["df"].to_parquet(ctx["path"], index=False)


def prepare(spark, ctx) -> dict:
    from sustainable_building_energy_benchmarking_pipeline_spark.api import create_app
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.io import read_table

    client = create_app(spark, read_table(spark, ctx["path"])).test_client()
    return {
        "df": ctx["df"], "client": client, "rng": np.random.default_rng(ctx["seed"]),
        "responses": [], "latency_ms": {r: [] for r in ROUTES.values()},
        "patched": False,
    }


def prologue(spark, st) -> None:
    """Warm-up: one untimed poll, whose latencies and replies are not
    kept."""
    ops = Ops()
    _poll(spark, st, Tracer(spark, False, ""), ops, 0)
    if ops.failed:
        raise RuntimeError("warm-up polls failed:\n" + "\n".join(ops.errors))
    st["responses"].clear()
    for lat in st["latency_ms"].values():
        lat.clear()


def _window(rng, hours: int) -> tuple[str, str]:
    start = np.datetime64(ANOMALY_START) + np.timedelta64(int(rng.integers(0, ANOMALY_DAYS - 7)), "D")
    end = start + np.timedelta64(hours, "h")
    iso = "%Y-%m-%dT%H:%M:%S"
    return (pd.Timestamp(start).strftime(iso), pd.Timestamp(end).strftime(iso))


def _poll_requests(rng, i: int) -> list[tuple[str, dict]]:
    """Poll ``i`` of the mix. Its shape is fixed by ``i``: a cycle of
    ``POLLS`` polls takes the ``limit`` values in turn, and the filter
    kinds, and gives each window length once to /alerts and once to
    /alerts/summary, which take turns at carrying it. Only the filter
    values and window start come from the seed."""
    params: dict = {"limit": LIMITS[i % len(LIMITS)]}
    kind = FILTERS[i % len(FILTERS)]
    if kind == "zone_id":
        params[kind] = f"Z{int(rng.integers(1, 11))}"
    elif kind == "severity":
        params[kind] = str(rng.choice(SEVERITIES))
    elif kind == "rule_name":
        params[kind] = str(rng.choice(RULES))
    window = _window(rng, WINDOW_HOURS[(i // 2) % len(WINDOW_HOURS)])
    summary: dict = {}
    target = params if i % 2 else summary
    target["start"], target["end"] = window
    return [("/alerts", params), ("/alerts/summary", summary), ("/health", {})]


def _patch_serving(tracer) -> None:
    """Wrap the serving calls the routes make in layer spans (the routes
    look them up on the module at call time)."""
    from sustainable_building_energy_benchmarking_pipeline_spark.plans import serving

    for name in ("query_anomalies", "format_alerts", "anomaly_summary"):
        fn = getattr(serving, name)

        def wrapped(*a, _fn=fn, _name=name, **kw):
            with tracer.span(f"plans.serving.{_name}"):
                return _fn(*a, **kw)

        setattr(serving, name, wrapped)


def unit(spark, st, tracer, ops, i) -> None:
    """One cycle of the poll mix."""
    for j in range(POLLS):
        _poll(spark, st, tracer, ops, i * POLLS + j)


def _poll(spark, st, tracer, ops, i) -> None:
    import time

    if tracer.enabled and not st["patched"]:
        _patch_serving(tracer)
        st["patched"] = True
    client = st["client"]
    for route, params in _poll_requests(st["rng"], i):
        name = ROUTES[route]

        def call():
            with tracer.span(f"api.{name}"):
                return client.get(route, query_string=params)

        t0 = time.perf_counter()
        resp = ops.run(route, call)
        st["latency_ms"][name].append((time.perf_counter() - t0) * 1000.0)
        st["responses"].append((route, params, resp.status_code, resp.get_data()))


def _expected(df: pd.DataFrame, params: dict) -> pd.DataFrame:
    m = pd.Series(True, index=df.index)
    if "start" in params:
        ts = df["timestamp"]
        m &= (ts >= pd.Timestamp(params["start"], tz="UTC")) & (ts <= pd.Timestamp(params["end"], tz="UTC"))
    for k in ("zone_id", "severity", "rule_name"):
        if k in params:
            m &= df[k] == params[k]
    return df[m]


def _check_alerts(df, params, body) -> str | None:
    rows = body.get("anomalies")
    if not isinstance(rows, list) or body.get("count") != len(rows):
        return "count does not match the rows returned"
    want = _expected(df, params)
    if len(rows) != min(params["limit"], len(want)):
        return f"{len(rows)} rows, expected {min(params['limit'], len(want))}"
    stamps = [dt.datetime.fromisoformat(r["timestamp"]) for r in rows]
    if any(a < b for a, b in zip(stamps, stamps[1:])):
        return "rows are not in timestamp-descending order"
    for r in rows:
        if set(r) != ALERT_KEYS:
            return f"row keys {sorted(r)}"
        for k in ("zone_id", "severity", "rule_name"):
            if k in params and r[k] != params[k]:
                return f"row {k}={r[k]!r} does not match filter {params[k]!r}"
    if stamps:
        lo = pd.Timestamp(params.get("start", "1970-01-01")).to_pydatetime()
        hi = pd.Timestamp(params.get("end", "2100-01-01")).to_pydatetime()
        newest = want["timestamp"].max().tz_convert(None).to_pydatetime()
        if stamps[0].replace(tzinfo=None) != newest:
            return "first row is not the newest match"
        if not all(lo <= s.replace(tzinfo=None) <= hi for s in stamps):
            return "row outside the time window"
    return None


def _check_summary(df, params, body) -> str | None:
    if set(body) != {"total", "by_severity", "by_rule", "by_zone"}:
        return f"keys {sorted(body)}"
    want = _expected(df, params)
    if body["total"] != len(want):
        return f"total {body['total']}, direct count {len(want)}"
    by_rule = {r["rule_name"]: r["count"] for r in body["by_rule"]}
    if by_rule != want["rule_name"].value_counts().to_dict():
        return "by_rule does not match the direct count"
    return None


def check(spark, st, records: dict) -> list[str]:
    import json

    errors = []
    df = st["df"]
    for route, params, status, data in st["responses"]:
        if status != 200:
            errors.append(f"{route} {params}: HTTP {status}")
            continue
        body = json.loads(data)
        if route == "/alerts":
            why = _check_alerts(df, params, body)
        elif route == "/alerts/summary":
            why = _check_summary(df, params, body)
        else:
            why = None if body.get("status") == "healthy" and body.get("engine") == "connected" else str(body)
        if why:
            errors.append(f"{route} {params}: {why}")
    records["requests"] = len(st["responses"])
    records["rows"] = len(df)
    return errors


def per_layer(tracer, st) -> dict:
    m: dict[str, float] = {}
    spans = tracer.spans
    for route, name in ROUTES.items():
        lat = st["latency_ms"][name]
        m[f"api.{name}.p50_ms"] = percentile(lat, 50)
        m[f"api.{name}.p90_ms"] = percentile(lat, 90)
        reqs = [s for s in spans if s.name == f"api.{name}"]
        m[f"api.{name}.jobs_per_request"] = median([tracer.subtree(s, "jobs") for s in reqs])
        web = []
        for s in reqs:
            serving = [c for c in spans if c.parent == s.sid and c.name.startswith("plans.serving.")]
            inner = (sum(c.end - c.start for c in serving) if serving
                     else s.counters["job_wall_s"])
            web.append((s.end - s.start - inner) * 1000.0)
        m[f"api.{name}.web_ms"] = median(web)
    alerts = [s for s in spans if s.name == "api.alerts"]
    m["plans.serving.query_anomalies_ms"] = median([
        sum(c.end - c.start for c in spans if c.parent == s.sid and c.name.startswith("plans.serving."))
        * 1000.0 for s in alerts
    ])
    m["plans.serving.anomaly_summary_ms"] = median(
        [(s.end - s.start) * 1000.0 for s in spans if s.name == "plans.serving.anomaly_summary"]
    )
    return m
