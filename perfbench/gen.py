"""Seeded input generators for the benchmark.

Everything the program reads during a run is made here from ``--seed``;
the program receives only the generated files. Each generator also
returns the figures its output must produce, computed in plain Python
without calling the program, so the output checks are independent.
"""

from __future__ import annotations

import json
import math
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WHALE = "beluga_whale"
SCIENTIFIC = "Delphinapterus leucas"
SPECIES_ID = 137115

# Accepted eventDate shapes (the validation channel parses them) and the
# error-routed shapes the repair step turns into all-nonzero date parts,
# as classified by the reference pipeline's rules.
_VALID_DATE_FMTS = (
    lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d}",
    lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d} 1{d % 10}:2{m % 10}:00",
    lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d}T0{d % 10}:1{m % 10}:00Z",
    lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d} 00:00:00+00",
    lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d}T02:00",
)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_REPAIRABLE_FMTS = (
    lambda y, m, d: f"{y:04d}-{m:02d}",
    lambda y, m, d: f"{y:04d}",
    lambda y, m, d: f"{y:04d}-{m:02d}-{d:02d}/{y + 3:04d}-{m:02d}-{d:02d}",
    lambda y, m, d: f"{y:04d}/{y + 4:04d}",
    lambda y, m, d: f"{y:04d}-{y + 10:04d}",
    lambda y, m, d: f"{_MONTHS[m - 1]} {y:04d}",
    lambda y, m, d: f"{y:04d} {_MONTHS[m - 1]}",
)
_UNREPAIRABLE_DATES = ("unknown", "n.d.", "spring 1950", "??")

OCEAN_NAMES = (
    "Arctic Ocean", "North Atlantic Ocean", "South Atlantic Ocean",
    "North Pacific Ocean", "South Pacific Ocean", "Indian Ocean",
    "Southern Ocean", "Baltic Sea", "Mediterranean Region",
)


@dataclass
class RawZone:
    """A raw zone on disk plus the counts the pipeline must produce."""

    data_dir: str
    n_files: int
    raw_rows: int
    valid_rows: int
    error_rows: int
    repaired_rows: int
    unrepaired_rows: int
    survivors: int
    water_bodies: dict = field(default_factory=dict)  # name -> survivors in it
    raw_bytes: int = 0


def ocean_polygons(seed: int, n_vertices: int = 256) -> list[tuple[str, list[tuple[float, float]]]]:
    """Nine disjoint 256-gons on a 3x3 grid of cells, radius and centre
    jittered by the seed; every cell keeps a ring of open water."""
    rng = random.Random(seed * 7919 + 1)
    polys = []
    for i, name in enumerate(OCEAN_NAMES):
        cx = -150.0 + 100.0 * (i % 3) + rng.uniform(-5, 5)
        cy = -50.0 + 50.0 * (i // 3) + rng.uniform(-3, 3)
        r = rng.uniform(17.0, 21.0)
        ring = []
        for j in range(n_vertices):
            a = 2 * math.pi * j / n_vertices
            # a slightly wavy outline so the polygon is not a circle
            rr = r * (1.0 + 0.04 * math.sin(5 * a + i))
            ring.append((round(cx + rr * math.cos(a), 6), round(cy + rr * math.sin(a), 6)))
        ring.append(ring[0])
        polys.append((name, ring))
    return polys


def polygon_wkt(ring: list[tuple[float, float]]) -> str:
    return "POLYGON ((" + ", ".join(f"{x} {y}" for x, y in ring) + "))"


def _inside(x: float, y: float, ring: list[tuple[float, float]]) -> bool:
    """Even-odd ray cast, the reference check for the spatial join."""
    inside = False
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        if (y1 > y) != (y2 > y) and x < x1 + (y - y1) * (x2 - x1) / (y2 - y1):
            inside = not inside
    return inside


def _near_edge(x: float, y: float, ring: list[tuple[float, float]], eps: float) -> bool:
    for (x1, y1), (x2, y2) in zip(ring, ring[1:]):
        dx, dy = x2 - x1, y2 - y1
        t = max(0.0, min(1.0, ((x - x1) * dx + (y - y1) * dy) / (dx * dx + dy * dy)))
        if math.hypot(x - x1 - t * dx, y - y1 - t * dy) < eps:
            return True
    return False


def _water_body(x: float, y: float, polys) -> str | None | bool:
    """The polygon holding (x, y); False when the point sits so close to
    an edge that two correct point-in-polygon tests could disagree."""
    for name, ring in polys:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        if min(xs) - 0.01 <= x <= max(xs) + 0.01 and min(ys) - 0.01 <= y <= max(ys) + 0.01:
            if _near_edge(x, y, ring, 1e-3):
                return False
            if _inside(x, y, ring):
                return name
    return None


def raw_zone(root: str, seed: int, n_records: int, polys, n_files: int = 8,
             dirty: bool = False) -> RawZone:
    """Write an OBIS-shaped raw zone for one whale under ``root``.

    Mix: about 20 % duplicates on (eventDate, lat, lon) with other
    columns changed; messy dates (five accepted shapes, seven repairable
    shapes, a few unparseable strings); about 5 % null occurrenceIDs and
    30 % null vernacularNames; 40 % of records without individualCount.

    ``dirty`` instead writes six records of the two input classes that
    abort the pipeline: a parseable eventDate with individualCount
    ``"x"``, and a parseable eventDate without decimalLatitude.
    """
    rng = random.Random(seed)
    whale_dir = os.path.join(root, WHALE)
    os.makedirs(whale_dir, exist_ok=True)
    records: list[dict] = []
    n_valid = n_repairable = n_unrepairable = 0
    water: dict = {}
    used_points: set = set()

    def point() -> tuple[float, float, str | None]:
        while True:
            x = round(rng.uniform(-179.0, 179.0), 7)
            y = round(rng.uniform(-79.0, 79.0), 7)
            if (x, y) in used_points:
                continue
            wb = _water_body(x, y, polys)
            if wb is not False:
                used_points.add((x, y))
                return x, y, wb

    def base(i: int, event_date: str) -> tuple[dict, str | None]:
        x, y, wb = point()
        rec = {
            "occurrenceID": None if rng.random() < 0.05 else f"urn:bench:{seed}:{i}",
            "eventDate": event_date,
            "verbatimEventDate": event_date,
            "decimalLatitude": y,
            "decimalLongitude": x,
            "waterBody": rng.choice(("Wrong Sea", None, "Gulf of Alaska")),
            "species": SCIENTIFIC,
            "speciesid": SPECIES_ID,
            "vernacularName": None if rng.random() < 0.3 else "White whale",
            "basisOfRecord": rng.choice(("HumanObservation", "PreservedSpecimen")),
            "bibliographicCitation": f"survey {rng.randint(1, 500)}",
            "extraField": "ignored by the schema",
        }
        if rng.random() >= 0.4:
            rec["individualCount"] = rng.randint(1, 50)
        return rec, wb

    if dirty:
        for i in range(6):
            rec, _ = base(i, _VALID_DATE_FMTS[i % len(_VALID_DATE_FMTS)](1950 + i, 1 + i, 1 + i))
            if i % 2 == 0:
                rec["individualCount"] = "x"
            else:
                rec.pop("decimalLatitude")
            records.append(rec)
        n_repairable = len(records)
    else:
        keyed: list[tuple[dict, str | None, bool]] = []  # (record, water body, repairable)
        for i in range(n_records):
            y, m, d = rng.randint(1900, 2020), rng.randint(1, 12), rng.randint(1, 28)
            if keyed and rng.random() < 0.2:
                # duplicate an earlier surviving record: same raw eventDate
                # string and coordinates, different other columns
                src, _, repairable = keyed[rng.randrange(len(keyed))]
                rec = dict(src)
                rec["occurrenceID"] = f"urn:bench:{seed}:dup{i}"
                rec["basisOfRecord"] = "MachineObservation"
                rec["bibliographicCitation"] = f"resurvey {i}"
                records.append(rec)
                if repairable:
                    n_repairable += 1
                else:
                    n_valid += 1
                continue
            r = rng.random()
            if r < 0.80:
                rec, wb = base(i, rng.choice(_VALID_DATE_FMTS)(y, m, d))
                n_valid += 1
                keyed.append((rec, wb, False))
            elif r < 0.95:
                rec, wb = base(i, rng.choice(_REPAIRABLE_FMTS)(y, m, d))
                n_repairable += 1
                keyed.append((rec, wb, True))
            else:
                rec, wb = base(i, rng.choice(_UNREPAIRABLE_DATES))
                n_unrepairable += 1
            records.append(rec)
        for _, wb, _ in keyed:
            water[wb] = water.get(wb, 0) + 1

    per = -(-len(records) // n_files)
    raw_bytes = 0
    for k in range(n_files):
        chunk = records[k * per:(k + 1) * per]
        start, end = 1900 + 15 * k, 1914 + 15 * k
        path = os.path.join(whale_dir, f"{start}-01-01--{end}-12-31.json")
        with open(path, "w") as f:
            json.dump({"results": chunk}, f, indent=4)
        raw_bytes += os.path.getsize(path)
    survivors = sum(water.values())
    return RawZone(
        data_dir=root,
        n_files=n_files,
        raw_rows=len(records),
        valid_rows=n_valid,
        error_rows=n_repairable + n_unrepairable,
        repaired_rows=n_repairable,
        unrepaired_rows=n_unrepairable,
        survivors=survivors,
        water_bodies=water,
        raw_bytes=raw_bytes,
    )


# ---------------------------------------------------------------------------
# analytic tables: the TPC-H-like tables the analytics queries read, and events
# ---------------------------------------------------------------------------


def analytic_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write nation, customer, supplier, orders, lineitem and events at
    ``scale`` (1.0 = 600k lineitem rows) as parquet under ``out_dir``,
    shaped like the repository's testdata tables (TESTDATA.md). Returns row counts by table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(15000 * scale))
    n_supp = max(10, int(1000 * scale))
    n_ord = max(200, int(150000 * scale))
    n_line = max(800, int(600000 * scale))
    n_ev = max(1000, int(1000000 * scale))
    n_users = max(20, int(15000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    day0 = np.datetime64("1995-01-01", "us")
    odates = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odates, pa.timestamp("us")),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, l_order[1:] != l_order[:-1]]
    grp_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    qty = rng.integers(1, 51, n_line).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, max(50, int(20000 * scale)), n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array((np.arange(n_line) - grp_start) % 7 + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(day0 + rng.integers(1, 2500, n_line).astype("timedelta64[D]"),
                               pa.timestamp("us")),
    })
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86400 * 1_000_000, n_ev)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    for name, tb in tables.items():
        pq.write_table(tb, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tb.num_rows for name, tb in tables.items()}


def event_replay(tables_dir: str, out_dir: str, n_files: int) -> str:
    """Split the events table into ``n_files`` time-ordered parquet files,
    the stream replay zone (one micro-batch per file). A file stream
    consumes files by modification time, so the files get increasing
    mtimes in event-time order; ``ts`` is written as a UTC instant, the
    TIMESTAMP type the stream schema declares.

    This stands in for ``streaming.events.stage_event_replay``, whose
    Spark jobs cost about 10 s of a fresh JVM, more than a run can spare.
    It must keep that function's contract: every file holds a contiguous
    event-time range and the files' mtimes follow event time. It splits at
    equal row counts where ``stage_event_replay`` splits at approximate
    quantiles of ``ts``; for the replay the two differ only in where a
    batch boundary falls."""
    events = pq.read_table(os.path.join(tables_dir, "events.parquet")).sort_by("ts")
    events = events.set_column(
        events.schema.get_field_index("ts"), "ts", events.column("ts").cast(pa.timestamp("us", tz="UTC")))
    os.makedirs(out_dir, exist_ok=True)
    per = -(-events.num_rows // n_files)
    t0 = 1_700_000_000
    for i in range(n_files):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(events.slice(i * per, per), path)
        os.utime(path, (t0 + i, t0 + i))
    return out_dir


def boundary_events(out_dir: str) -> None:
    """An events table whose pairs sit 3600.8 s apart with sub-second
    parts that put them 3600 s apart once truncated to whole seconds:
    a one-hour RANGE frame must exclude the earlier event."""
    os.makedirs(out_dir, exist_ok=True)
    t0 = np.datetime64("2024-01-01T00:00:00.100000", "us")
    ts = [t0, t0 + np.timedelta64(3600_800_000, "us"),
          t0 + np.timedelta64(86_400_000_000, "us"), t0 + np.timedelta64(90_000_800_000, "us")]
    pq.write_table(pa.table({
        "event_id": pa.array([0, 1, 2, 3], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([0, 0, 10, 10], pa.int64()),
        "event_type": ["view", "click", "view", "purchase"],
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": ['{"k": 1}'] * 4,
    }), os.path.join(out_dir, "events.parquet"))
