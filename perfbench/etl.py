"""etl_ingest: the paper's batch pipeline, raw zone to curated output.

One op is one ingest: the calls ``whale-spark process <whale> <start>
<end>`` makes, ``run_pipeline`` -> ``write_curated_parquet`` ->
``write_error_json``, with ocean polygons passed to ``run_pipeline`` for
the spatial join. Each sink re-runs the cleaning lineage, and most of
each run is planning and code generation, so an ingest costs about a
minute whatever its size; a run makes exactly one, in a fresh process.

Two more CLI steps re-run the lineage and are left out, because a run
cannot afford them (on a 4-core host, seed 1): without start/end dates
``run_pipeline`` scans the cleaned lineage for them (13-17 s), and the
``pipeline``/``db`` commands' ``build_star_schema`` over the lineage and
``load_star_schema`` re-run it three more times (48.6 s).
"""

from __future__ import annotations

import os
import time

import gen
from stats import metric

#: start/end dates every file of the zone matches; passing them skips the
#: bounds scan of the cleaned lineage
BOUNDS = ("1900-01-01", "2030-12-31")

N_RECORDS = 2000
N_FILES = 8


def ingest(bench, zone_dir: str, polys, out_dir: str) -> dict:
    """One ingest op; returns the paths it wrote."""
    from whale_sightings_spark.operators.spatial import oceans_from_wkt
    from whale_sightings_spark.plans.pipeline import PipelineContext, run_pipeline
    from whale_sightings_spark.sources.files import write_curated_parquet, write_error_json

    spark, tr = bench.spark, bench.tracer
    paths = {k: os.path.join(out_dir, k) for k in ("curated", "errors")}
    with tr.span("operators.oceans_from_wkt"):
        oceans = oceans_from_wkt(spark, [(n, gen.polygon_wkt(r)) for n, r in polys])
    ctx = PipelineContext(whale=gen.WHALE, startdate=BOUNDS[0], enddate=BOUNDS[1], data_dir=zone_dir)
    with tr.span("plans.run_pipeline"):
        res = run_pipeline(spark, ctx, oceans)
    if tr.enabled:
        with tr.span("spark.plan"):
            res.cleaned._jdf.queryExecution().executedPlan()
    with tr.span("sources.write_curated_parquet"):
        write_curated_parquet(res.cleaned, paths["curated"])
    with tr.span("sources.write_error_json"):
        write_error_json(res.unrepaired_errors, paths["errors"])
    return paths


def check(zone: gen.RawZone, paths: dict) -> tuple[list[str], dict]:
    """Compare the ingest's outputs with the generator's figures:
    survivors and their water bodies in the curated zone, and unrepaired
    errors in the export. With the generator's valid/repairable/
    unrepairable split these give valid + errors = input
    and repaired + unrepaired = errors. Reads the files directly, so the
    check adds no Spark work. Returns (failures, counts)."""
    import pyarrow.parquet as pq

    water = pq.read_table(paths["curated"], columns=["waterBody"]).column("waterBody").to_pylist()
    by_water: dict = {}
    for wb in water:
        by_water[wb] = by_water.get(wb, 0) + 1
    n_errors = 0
    for name in os.listdir(paths["errors"]):
        if name.endswith(".json"):
            with open(os.path.join(paths["errors"], name)) as f:
                n_errors += sum(1 for line in f if line.strip())
    counts = {
        "curated": len(water),
        "unrepaired": n_errors,
        "in_water": sum(n for wb, n in by_water.items() if wb is not None),
    }
    want = {"curated": zone.survivors, "unrepaired": zone.unrepaired_rows}
    fails = [f"{k}: got {counts[k]}, want {v}" for k, v in want.items() if counts[k] != v]
    if by_water != zone.water_bodies:
        fails.append(f"water bodies: got {by_water}, want {zone.water_bodies}")
    return fails, counts


def check_validation(bench, zone: gen.RawZone) -> list[str]:
    """The validation split's counts against the generator's (traced runs
    only: it costs two more actions over the raw zone)."""
    from whale_sightings_spark.operators.validate import validate_occurrences
    from whale_sightings_spark.sources.files import match_raw_files, read_raw_occurrences

    raw = read_raw_occurrences(bench.spark, match_raw_files(zone.data_dir, gen.WHALE, None, None))
    valid, errors = validate_occurrences(raw)
    got = (valid.count(), errors.count())
    want = (zone.valid_rows, zone.error_rows)
    if got == want:
        return []
    msg = f"valid/errors: got {got}, want {want}"
    bench.say(f"check FAILED: {msg}")
    return [msg]


def dirty_probe(bench, root: str, seed: int, polys) -> str | None:
    """Ingest a small zone holding both input classes that abort the
    pipeline; returns the error class it failed with, None if it passed."""
    zone_dir = os.path.join(root, "dirty")
    gen.raw_zone(zone_dir, seed, 0, polys, n_files=1, dirty=True)
    with bench.tracer.span("bench.dirty_ingest"):
        try:
            ingest(bench, zone_dir, polys, os.path.join(root, "out-dirty"))
        except Exception as e:  # noqa: BLE001 - a failing probe is the finding
            return getattr(e, "getCondition", lambda: None)() or type(e).__name__
        finally:
            bench.between_ops()
    return None


def run(bench, process_age) -> dict:
    args, tr = bench.args, bench.tracer
    with tr.span("session.get_spark"):
        bench.start_session()
    setup_s = process_age()
    if tr.enabled:
        import whale_sightings_spark.plans.pipeline as pipeline

        tr.wrap_imports(pipeline)

    root = os.path.join(bench.work, "etl")
    polys = gen.ocean_polygons(args.seed)
    zone = gen.raw_zone(os.path.join(root, "raw"), args.seed, N_RECORDS, polys, N_FILES)
    bench.say(f"etl_ingest: {zone.raw_rows} records in {zone.n_files} files "
              f"({zone.raw_bytes} bytes), {len(polys)} polygons x {len(polys[0][1]) - 1} vertices; "
              f"expect {zone.survivors} survivors, {zone.repaired_rows} repaired, "
              f"{zone.unrepaired_rows} unrepaired")

    gc0 = bench.jvm_gc_ms()
    t0 = time.perf_counter()
    failed = 0
    try:
        with tr.span("bench.ingest"):
            paths = ingest(bench, zone.data_dir, polys, os.path.join(root, "out"))
    except Exception as e:  # noqa: BLE001 - counted, reported, run continues
        failed, paths = 1, None
        bench.say(f"ingest FAILED: {type(e).__name__}: {str(e)[:300]}")
    op_s = time.perf_counter() - t0
    gc_ms = bench.jvm_gc_ms() - gc0
    bench.between_ops()

    fails, counts = (["ingest raised"], {}) if paths is None else check(zone, paths)
    for f in fails:
        bench.say(f"check FAILED: {f}")
    bench.say(f"ingest: {op_s:.3f}s, {zone.raw_rows / op_s:.2f} raw records/s; counts {counts}")

    result = {"correct": not fails, "attempted": 1, "failed": failed}
    result["end_to_end"] = {
        "setup_s": metric(setup_s, "s"),
        "cold_s": metric(op_s, "s"),
    }
    if not tr.enabled:
        return result

    fails += check_validation(bench, zone)
    result["correct"] = not fails
    dirty = dirty_probe(bench, root, args.seed, polys)
    bench.say(f"dirty ingest (known defects): {'failed with ' + dirty if dirty else 'passed'}")
    from spans import per_layer, stage_seconds

    layer = per_layer(
        tr, setup_s=setup_s, op_s=op_s, gc_ms=gc_ms,
        build=("plans.run_pipeline",),
        execs=("sources.write_curated_parquet", "sources.write_error_json"),
        op_spans=("bench.ingest",),
    )
    pipeline_span = next((s for s in tr.spans if s["name"] == "plans.run_pipeline"), None)
    layer.update({
        "plans.pipeline_jobs": metric(sum(
            s.get("jobs", 0) for s in tr.spans
            if pipeline_span and pipeline_span["start"] <= s["start"] and s["end"] <= pipeline_span["end"]), "count"),
        "sources.raw_read_amplification": metric(
            layer["spark.input_bytes"]["value"] / zone.raw_bytes, "1"),
        "operators.dirty_ingest_failures": metric(int(dirty is not None), "count"),
    })
    bench.say(f"trace ingest stages (s): {stage_seconds(tr, 'bench.ingest')}")
    result["per_layer"] = layer
    return result

