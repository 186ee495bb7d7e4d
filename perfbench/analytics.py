"""analytics: registered queries and a stream replay over one seeded dataset.

Set-up ends when the session is ready and warmed as ``bench.py`` warms
it (see ``warm_up``). A pass runs every query of ``QUERIES`` once, in an
order the seed sets, collecting its rows as a user would. An op is one
query execution: plan build plus collect. The first pass is the cold
one, and its wall time is ``cold_s``. Warm passes follow until
``--seconds`` have passed, and at least ``MIN_WARM_PASSES``; then the
events table is replayed through the tumbling-window stream operator,
one micro-batch per file. The run prints the median and tail latency of
the warm ops and the rows per ``triggerExecution`` second of the median
micro-batch after the first (a micro-batch takes several times as long
as a query, so the two are not pooled). All outputs are checked.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import checks
import gen
from stats import metric, tail

#: 1.0 = 600k lineitem rows
SCALE = 0.02
#: relational queries from the survey set (none builds or reads a
#: persisted artifact); each takes a few hundred ms, most of it planning
#: and scheduling
QUERIES = (
    "q02_join_filter", "q04_minmax_bounds", "q06_union_distinct",
    "q37_rollup", "q39_quantiles", "q45_full_outer_recon",
)
#: the replayed stream operator: windowed counts with a watermark, in
#: complete output mode
STREAM = "tumbling"
REPLAY_FILES = 6
MIN_WARM_PASSES = 5


def _stream_pass(bench, zone: str, tag: str, keep: dict | None) -> list[dict]:
    """Replay ``zone`` through the stream operator; one progress dict per
    micro-batch that read input."""
    from whale_sightings_spark.streaming import events

    tr = bench.tracer
    with tr.span("streaming.build"):
        sdf = events.streaming_tumbling_counts(bench.spark, zone)
    with tr.span("streaming.run") as rec:
        q = events.run_stream_to_memory(sdf, f"{STREAM}_{tag}", "complete")
    try:
        if rec is not None:
            tr.add_group(rec, str(q.runId))
        if keep is not None:
            keep[STREAM] = bench.spark.sql(f"SELECT * FROM {STREAM}_{tag}").collect()
        return [p for p in q.recentProgress if p["numInputRows"] > 0]
    finally:
        q.stop()


def _query_pass(bench, order, tables: str, keep: dict | None) -> list[tuple[str, float]]:
    from whale_sightings_spark.plans.queries import queries

    fns = queries()
    tr = bench.tracer
    ops = []
    for name in order:
        t0 = time.perf_counter()
        with tr.span("plans.build"):
            df = fns[name](bench.spark, tables)
        if tr.enabled:
            with tr.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        with tr.span("spark.exec"):
            rows = df.collect()
        ops.append((name, time.perf_counter() - t0))
        if keep is not None:
            keep[name] = (df.columns, [tuple(r) for r in rows])
        bench.between_ops()
    return ops


def _check(bench, con, zone: str, results: dict) -> list[str]:
    from whale_sightings_spark.plans.queries import oracle_sql
    from whale_sightings_spark.streaming.events import tumbling_window_counts

    fails = []
    sql = oracle_sql()
    for name in QUERIES:
        cols, rows = results[name]
        why = checks.oracle_mismatch(con, sql[name], cols, rows)
        if why:
            fails.append(f"{name}: {why}")
    batch = bench.spark.read.parquet(zone)
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    got = {key(r): (r["n"], r["sum_value"]) for r in results[STREAM]}
    want = {key(r): (r["n"], r["sum_value"]) for r in tumbling_window_counts(batch).collect()}
    if got != want:
        fails.append(f"tumbling stream != batch ({len(got)} vs {len(want)} windows)")
    return fails


def q40_probe(bench) -> str | None:
    """Run q40 on an input built to show a known defect, outside every
    timing; returns how it differs from its DuckDB twin, None if it
    agrees. q40 orders its one-hour RANGE frame by whole epoch seconds,
    so events 3600.8 s apart fall inside it."""
    from whale_sightings_spark.plans.queries import oracle_sql, queries

    name, d = "q40_moving_avg", os.path.join(bench.work, "probe-q40")
    gen.boundary_events(d)
    with bench.tracer.span("bench.q40_probe"):
        df = queries()[name](bench.spark, d)
        rows = [tuple(r) for r in df.collect()]
    con = checks.duck_views(d, ("events",))
    try:
        return checks.oracle_mismatch(con, oracle_sql()[name], df.columns, rows)
    finally:
        con.close()


def warm_up(spark, tables: str) -> None:
    """What ``bench.py`` runs before timing: one query to the noop sink,
    for first-touch JIT and parquet footers. Its second warm-up, of the
    Python workers, is left out: no query here runs Python code."""
    from whale_sightings_spark.plans.queries import queries

    queries()["q01_filter_project"](spark, tables).write.format("noop").mode("overwrite").save()


def run(bench, process_age) -> dict:
    args, tr = bench.args, bench.tracer
    with tr.span("session.get_spark"):
        spark = bench.start_session()
    session_s = process_age()

    t_prep = time.perf_counter()
    tables = os.path.join(bench.work, "tables")
    n_rows = gen.analytic_tables(tables, args.seed, SCALE)
    zone = gen.event_replay(tables, os.path.join(bench.work, "replay"), REPLAY_FILES)
    order = list(QUERIES)
    random.Random(args.seed).shuffle(order)
    prep_s = time.perf_counter() - t_prep
    with tr.span("bench.warm_up"):
        warm_up(spark, tables)
    setup_s = process_age() - prep_s
    bench.say(f"analytics: scale {SCALE} ({n_rows['lineitem']} lineitem, {n_rows['events']} events "
              f"in {REPLAY_FILES} replay files); {len(QUERIES)} queries per pass, "
              f"order {order}")

    gc0 = bench.jvm_gc_ms()
    t0 = time.perf_counter()
    results: dict = {}
    with tr.span("bench.pass"):
        cold_ops = _query_pass(bench, order, tables, None)
    cold_s = time.perf_counter() - t0
    passes = []
    while len(passes) < MIN_WARM_PASSES or time.perf_counter() - t0 - cold_s < args.seconds:
        with tr.span("bench.pass"):
            passes.append(_query_pass(bench, order, tables, results if not passes else None))
    t_stream = time.perf_counter()
    with tr.span("bench.stream"):
        batches = _stream_pass(bench, zone, "replay", results)
    gc_ms = bench.jvm_gc_ms() - gc0
    t_check = time.perf_counter()

    con = checks.duck_views(tables, n_rows)
    fails = _check(bench, con, zone, results)
    con.close()
    for f in fails:
        bench.say(f"check FAILED: {f}")
    bench.say(f"phases (s): inputs {prep_s:.1f}, warm-up {setup_s - session_s:.1f}, cold {cold_s:.1f}, "
              f"warm queries {t_stream - t0 - cold_s:.1f}, stream {t_check - t_stream:.1f}, "
              f"checks {time.perf_counter() - t_check:.1f}")

    ops = [s for p in passes for _, s in p]
    tail_s, tail_pct, beyond = tail(ops)
    triggers = [b["durationMs"]["triggerExecution"] for b in batches]
    batch_rows_per_s = statistics.median(
        b["numInputRows"] / (b["durationMs"]["triggerExecution"] / 1000.0) for b in batches[1:])
    per_query = {n: round(statistics.median(s for p in passes for q, s in p if q == n), 3)
                 for n in QUERIES}
    bench.say(f"cold pass {cold_s:.3f}s; {len(passes)} warm query passes "
              f"{[round(sum(s for _, s in p), 3) for p in passes]}s")
    # printed, not bounded metrics: over ten seeds on a shared 4-core host
    # the interquartile range of these was 0.17-0.34 of the median, past
    # the largest bound a metric may have; cold_s, mostly planning and
    # code generation, stayed within 0.15
    bench.say(f"warm ops: op_p50_s {statistics.median(ops):.4f} s, op_tail_s {tail_s:.4f} s "
              f"(p{tail_pct:.2f} of {len(ops)} warm ops, {beyond} beyond it); stream "
              f"{batch_rows_per_s:.1f} rows/s in the median micro-batch after the first")
    bench.say(f"warm median per query (s): {per_query}; micro-batch trigger ms: {triggers}")

    n_ops = len(cold_ops) + len(ops) + len(batches)
    result = {"correct": not fails, "attempted": n_ops, "failed": 0}
    result["end_to_end"] = {
        "setup_s": metric(setup_s, "s"),
        "cold_s": metric(cold_s, "s"),
    }
    if not tr.enabled:
        return result

    q40 = q40_probe(bench)
    bench.say(f"q40 boundary probe (known defect): {'differs from its oracle: ' + q40 if q40 else 'agrees'}")
    from spans import per_layer

    layer = per_layer(tr, setup_s=session_s, op_s=cold_s, gc_ms=gc_ms,
                      build=("plans.build",), execs=("spark.exec", "streaming.run"),
                      op_spans=("bench.pass", "bench.stream"))
    layer["plans.oracle_probe_mismatches"]["value"] = int(q40 is not None)
    state = batches[-1].get("stateOperators", [])
    layer["streaming.state_rows"]["value"] = sum(s.get("numRowsTotal", 0) for s in state)
    layer["streaming.state_bytes"]["value"] = sum(s.get("memoryUsedBytes", 0) for s in state)
    med = {k: statistics.median(b["durationMs"].get(k, 0) for b in batches[1:])
           for k in ("triggerExecution", "addBatch", "queryPlanning", "walCommit")}
    bench.say(f"trace streaming.{STREAM} median ms: trigger={med['triggerExecution']} "
              f"add_batch={med['addBatch']} planning={med['queryPlanning']} "
              f"wal_commit={med['walCommit']}; state rows {layer['streaming.state_rows']['value']}, "
              f"bytes {layer['streaming.state_bytes']['value']}")
    result["per_layer"] = layer
    return result
