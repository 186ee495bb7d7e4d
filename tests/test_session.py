"""Session defaults that must fit the host they run on, and the one
lineage barrier."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from whale_sightings_spark import session
from whale_sightings_spark.session import barrier

PACKAGE = pathlib.Path(session.__file__).parent


def test_driver_heap_fits_physical_ram(spark):
    """Without an override, the driver heap is sized from the host: a
    heap above physical RAM lets the JVM grow until the kernel kills
    it on a host without swap."""
    if os.environ.get("SPARK_GRAFT_DRIVER_MEM"):
        pytest.skip("SPARK_GRAFT_DRIVER_MEM overrides the derived heap")
    mem = spark.sparkContext.getConf().get("spark.driver.memory")
    heap = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(mem)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= ram, (mem, ram)


def test_local_checkpoint_is_called_only_by_barrier():
    """Every lineage barrier goes through `session.barrier`, so its
    form, storage level and fault-tolerance rule live in one place."""
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        owners = {}
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    owners.setdefault(node, fn.name)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("localCheckpoint", "StorageLevel")
                and not (path.name == "session.py" and owners.get(node) == "barrier")
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
            if isinstance(node, ast.ImportFrom) and any(
                a.name == "StorageLevel" for a in node.names
            ):
                found.append(f"{path.relative_to(PACKAGE)}:{node.lineno}")
    assert not found, found


def test_barrier_form_follows_the_plan(spark, monkeypatch):
    """Lazy over a deterministic shuffle or join, looking through
    Project/Filter/Generate; eager over narrow lineage or a
    nondeterministic plan; always the default storage level."""
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF

    calls = []
    real = ClassicDF.localCheckpoint

    def record(self, *args, **kwargs):
        calls.append((args, kwargs))
        return real(self, *args, **kwargs)

    monkeypatch.setattr(ClassicDF, "localCheckpoint", record)

    def eager(df):
        calls.clear()
        out = barrier(df)
        assert sorted(out.collect()) == sorted(df.collect())
        ((args, kwargs),) = calls
        assert not args and set(kwargs) == {"eager"}
        return kwargs["eager"]

    df = spark.range(64).withColumn("g", F.col("id") % 4)
    agg = df.groupBy("g").count()
    assert not eager(agg.filter("count > 0").select("g"))
    assert not eager(df.repartition("g"))
    assert not eager(df.join(agg, "g"))
    assert not eager(agg.select(F.explode(F.array("g", "count"))))
    assert eager(df.select(F.explode(F.array("id", "g"))))
    assert eager(df.select("id"))
    assert eager(agg.withColumn("rid", F.monotonically_increasing_id()))
