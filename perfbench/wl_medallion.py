"""The building-benchmarking medallion with Delta writes, log replay and
the JSON export: the second half of every ``hvac_batch`` unit.

One re-run: ``generate_buildings`` → ``plans.benchmarking.run_medallion``
→ ``deltalog.write_delta(mode="overwrite")`` for silver and the three
gold tables → ``read_delta`` of silver → ``plans.export.
assemble_export_document`` + ``validate_export_document``.

Each benchmark run writes into fresh table directories; its warm-up
re-run creates the tables. After the first commit the tables get
``delta.checkpointInterval`` = 1 (a metadata-only commit), so every later
commit writes an auto-checkpoint and the snapshot read replays from it;
the default of 10 commits would take ten re-runs, more than a run can
afford. Nothing is vacuumed, so on-disk bytes per live byte grow with
each re-run.
"""

from __future__ import annotations

import glob
import os

from harness import median

N_BUILDINGS = 2_000
CHECKPOINT_INTERVAL = "1"
CURRENT_YEAR = 2025  # fixed so silver's building_age is reproducible
TABLES = ["silver", "portfolio_by_type", "performance_distribution", "top_efficient"]


def new_state(seed: int, root: str) -> dict:
    return {"seed": seed, "root": root, "buildings": N_BUILDINGS, "version": -1,
            "silver_rows": None}


def rerun(spark, st, tracer, ops) -> None:
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.benchmarking import (
        run_medallion,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.plans.export import (
        assemble_export_document,
        validate_export_document,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deltalog import (
        read_delta,
        set_table_properties,
        write_delta,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.generators import (
        generate_buildings,
    )

    paths = {t: os.path.join(st["root"], t) for t in TABLES}

    def medallion():
        with tracer.span("plans.benchmarking"):
            bronze = generate_buildings(spark, n=st["buildings"], seed=st["seed"])
            layers = run_medallion(bronze, current_year=CURRENT_YEAR)
            layers["silver"] = layers["silver"].persist()
            return layers, layers["silver"].count()

    layers, silver_n = ops.run("plans.benchmarking", medallion)
    want = st["version"] + 1
    for t in TABLES:
        def commit(t=t):
            with tracer.span("sources.deltalog.commit", table=t):
                return write_delta(layers[t], paths[t], mode="overwrite")

        v = ops.run(f"commit {t}", commit)
        if v != want:
            ops.fail(f"commit {t}", f"version {v}, expected {want}")
    layers["silver"].unpersist()
    if want == 0:
        for t in TABLES:
            v = ops.run(f"set properties {t}", set_table_properties, paths[t],
                        {"delta.checkpointInterval": CHECKPOINT_INTERVAL})
            if v != 1:
                ops.fail(f"set properties {t}", f"version {v}, expected 1")
        want = 1
    st["version"] = want

    def snapshot():
        with tracer.span("sources.deltalog.read"):
            df = read_delta(spark, paths["silver"])
            return df, df.count()

    snap, snap_n = ops.run("read silver", snapshot)
    if snap_n != silver_n:
        ops.fail("read silver", f"snapshot has {snap_n} rows, silver had {silver_n}")

    def export():
        with tracer.span("plans.export.assemble"):
            doc = assemble_export_document(snap)
        with tracer.span("plans.export.validate"):
            return doc, validate_export_document(doc)

    doc, problems = ops.run("export", export)
    if problems or len(doc["buildings"]) != silver_n:
        ops.fail("export", f"{len(doc['buildings'])} buildings, problems: {problems[:3]}")
    st["silver_rows"] = silver_n


def _checkpoints(root: str) -> list[str]:
    return glob.glob(os.path.join(root, "*", "_delta_log", "*.checkpoint*.parquet"))


def check(st, records: dict) -> list[str]:
    cps = _checkpoints(st["root"])
    records["delta_version"] = st["version"]
    records["delta_checkpoints"] = len(cps)
    records["silver_rows"] = st["silver_rows"]
    if st["version"] >= int(CHECKPOINT_INTERVAL) and len(cps) < len(TABLES):
        return [f"{len(cps)} checkpoints at version {st['version']}, expected one per table"]
    return []


def _dir_bytes(d: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(d) for f in fs)


def per_layer(tracer, st) -> dict:
    from sustainable_building_energy_benchmarking_pipeline_spark.sources.deltalog import (
        read_delta,
    )

    root = st["root"]
    live = 0
    for t in TABLES:
        files = read_delta(tracer.spark, os.path.join(root, t)).inputFiles()
        live += sum(os.path.getsize(f.replace("file://", "")) for f in files)
    data_bytes = sum(_dir_bytes(os.path.join(root, t)) for t in TABLES)
    return {
        "plans.benchmarking.wall_s": median(tracer.per_unit("plans.benchmarking")),
        "plans.export.assemble_s": median(tracer.per_unit("plans.export.assemble")),
        "sources.deltalog.commit_s": median(tracer.per_unit("sources.deltalog.commit")),
        "sources.deltalog.commits": median(tracer.per_unit("sources.deltalog.commit", "spans")),
        "sources.deltalog.checkpoints": len(_checkpoints(root)),
        "sources.deltalog.snapshot_read_s": median(tracer.per_unit("sources.deltalog.read")),
        "sources.deltalog.log_bytes": sum(_dir_bytes(os.path.join(root, t, "_delta_log")) for t in TABLES),
        "sources.deltalog.disk_bytes_per_live_byte": data_bytes / live if live else 0.0,
    }
