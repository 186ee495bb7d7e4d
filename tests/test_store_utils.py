"""The artifact-store lifecycle in `plans/store_utils.py`: dead-builder
staging reap, the build-if-absent key and eviction, torn-remain and
race handling at publish, the compaction sentinel, and the memoized
table reads."""
from __future__ import annotations

import errno
import os

import pytest

from whale_sightings_spark.plans import store_utils as SU
from whale_sightings_spark.plans.store_utils import reap_dead_staging


# ---------------------------------------------------------------------------
# lifecycle on a stub family: `write` only creates the marker tables, so
# these run without Spark
# ---------------------------------------------------------------------------


def _marker(d):
    return os.path.join(d, "t")


def _touch_marker(table):
    os.makedirs(table)
    open(os.path.join(table, "_SUCCESS"), "w").close()


def _stub(tmp_path, monkeypatch, family="ivfpq", marker=_marker, tables=()):
    """(build, builds): ``build()`` resolves a stub ``family`` store over
    a one-file sf dir cached under ``tmp_path/cache/sf_x``; ``builds``
    lists every staging dir written."""
    sf = tmp_path / "sf_x"
    sf.mkdir()
    (sf / "src.parquet").write_bytes(b"x" * 64)
    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "cache"))
    builds = []

    def write(staging):
        builds.append(staging)
        for table in (marker, *tables):
            _touch_marker(table(staging))

    def build():
        return SU.artifact_dir(str(sf), "src.parquet", family, 3, marker, write)

    return build, builds


def _complete(d):
    return os.path.exists(os.path.join(_marker(d), "_SUCCESS"))


def test_eviction_is_scoped_to_the_family_and_version_prefix(
    tmp_path, monkeypatch
):
    """`ivfpq` is a prefix of `ivfpq_hist<split>`: a rebuild of the
    full index must evict only its own stale leaves."""
    build, _ = _stub(tmp_path, monkeypatch)
    sf_root = tmp_path / "cache" / "sf_x"
    for leaf in ("ivfpq_v3_old", "ivfpq_hist400_v3_x", "bpe_full_v1_x"):
        os.makedirs(sf_root / leaf / "t")
    art = build()
    assert _complete(art)
    assert sorted(os.listdir(sf_root)) == sorted(
        [os.path.basename(art), "ivfpq_hist400_v3_x", "bpe_full_v1_x"]
    )


def test_torn_remain_is_cleared_and_published(tmp_path, monkeypatch):
    build, _ = _stub(tmp_path, monkeypatch)
    sig = SU.stat_sig(str(tmp_path / "sf_x" / "src.parquet"))
    torn = str(tmp_path / "cache" / "sf_x" / f"ivfpq_v3_{sig}")
    os.makedirs(os.path.join(torn, "t"))
    open(os.path.join(torn, "junk.parquet"), "w").close()
    assert build() == torn
    assert _complete(torn)
    assert os.listdir(os.path.dirname(torn)) == [os.path.basename(torn)]
    assert not os.path.exists(os.path.join(torn, "junk.parquet"))


def test_sentinel_forces_a_rebuild_and_is_gone_after(tmp_path, monkeypatch):
    build, builds = _stub(tmp_path, monkeypatch)
    art = build()
    assert build() == art and len(builds) == 1  # warm: no rebuild
    open(SU.compacting_sentinel(art), "w").close()
    assert build() == art
    assert len(builds) == 2
    assert not os.path.exists(SU.compacting_sentinel(art))
    assert _complete(art)


def test_racing_builders_completed_store_wins(tmp_path, monkeypatch):
    def theirs(staging):
        # the final dir a racing builder publishes while ours builds
        return staging.rpartition(".tmp.")[0]

    build, _ = _stub(tmp_path, monkeypatch, tables=(
        lambda d: _marker(theirs(d)),
        lambda d: os.path.join(theirs(d), "theirs"),
    ))
    art = build()
    assert _complete(art)
    assert os.path.isdir(os.path.join(art, "theirs"))
    assert os.listdir(os.path.dirname(art)) == [os.path.basename(art)]


def test_rename_failure_that_is_not_a_race_reraises(tmp_path, monkeypatch):
    build, _ = _stub(tmp_path, monkeypatch)

    def cross_device(src, dst):
        raise OSError(errno.EXDEV, "cross-device link", src)

    monkeypatch.setattr(SU.os, "rename", cross_device)
    with pytest.raises(OSError) as exc:
        build()
    assert exc.value.errno == errno.EXDEV
    # staging dropped, nothing published
    assert os.listdir(tmp_path / "cache" / "sf_x") == []


def test_failed_compaction_leaves_the_sentinel(tmp_path, monkeypatch):
    """A compaction that dies inside a swap (live table already moved
    aside, the new one missing) must leave the sentinel, so the next
    read rebuilds instead of serving a store without its table."""
    from whale_sightings_spark.operators import dedup as DD

    class _Frame:
        # every DataFrame call chains; the final parquet() writes nothing
        def __getattr__(self, name):
            return self

        def __call__(self, *args, **kwargs):
            return self

    class _Spark:
        read = _Frame()

    build, builds = _stub(
        tmp_path, monkeypatch, "clusters_text",
        DD.cluster_artifact_paths, (DD.cluster_pairs_path,),
    )
    art = build()
    with pytest.raises(OSError):
        DD.compact_cluster_artifact(_Spark(), art)
    assert os.path.exists(SU.compacting_sentinel(art))
    assert build() == art and len(builds) == 2
    assert not os.path.exists(SU.compacting_sentinel(art))


def test_same_size_rewrite_within_a_second_rekeys_the_store(
    tmp_path, monkeypatch
):
    """A same-size `documents.parquet` swapped in by `os.replace`
    within the same second must not serve the old corpus's NB model:
    the key carries mtime_ns and inode, not whole seconds."""
    from whale_sightings_spark.operators import classify as CL
    from whale_sightings_spark.plans import queries_classify as QC

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path / "cache"))
    monkeypatch.setattr(QC, "load_table", lambda spark, sf_dir, name: None)

    def fake_build(docs, staging):
        meta = CL.nb_artifact_paths(staging)[1]
        os.makedirs(meta)
        open(os.path.join(meta, "_SUCCESS"), "w").close()

    monkeypatch.setattr(CL, "build_nb_artifact", fake_build)
    sf = tmp_path / "sf_x"
    sf.mkdir()
    docs = sf / "documents.parquet"
    second = 1_792_289_507 * 10**9
    docs.write_bytes(b"a" * 65_515)
    os.utime(docs, ns=(second + 10**8, second + 10**8))
    art1 = QC._nb_artifact_dir(None, str(sf))
    repl = tmp_path / "new.parquet"
    repl.write_bytes(b"b" * 65_515)
    os.replace(repl, docs)
    os.utime(docs, ns=(second + 6 * 10**8, second + 6 * 10**8))
    art2 = QC._nb_artifact_dir(None, str(sf))
    assert art2 != art1
    assert os.path.exists(os.path.join(CL.nb_artifact_paths(art2)[1], "_SUCCESS"))
    assert not os.path.exists(art1)


def test_reap_removes_dead_pid_staging_only(tmp_path):
    live = tmp_path / f"ivfpq_v2_123.tmp.{os.getpid()}"
    dead = tmp_path / "ivfpq_v2_123.tmp.999999999"
    published = tmp_path / "ivfpq_v2_123"
    notpid = tmp_path / "shingle_v3_9.tmp.abc"
    for d in (live, dead, published, notpid):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    reaped = reap_dead_staging(str(tmp_path))
    assert reaped == [dead.name]
    assert live.is_dir() and published.is_dir() and notpid.is_dir()
    assert not dead.exists()


def test_reap_removes_pid_zero_staging(tmp_path):
    """`.tmp.0` names no builder: kill(0, 0) would signal our own
    process group and read as alive, so it must be reaped."""
    zero = tmp_path / "ivfpq_v2_123.tmp.0"
    zero.mkdir()
    (zero / "part-0.parquet").write_bytes(b"x")
    assert reap_dead_staging(str(tmp_path)) == [zero.name]
    assert not zero.exists()


def test_reap_missing_root_is_noop(tmp_path):
    assert reap_dead_staging(str(tmp_path / "absent")) == []


def test_failed_build_cleans_its_staging(spark, sf_dir, tmp_path, monkeypatch):
    """An in-process build failure must rmtree its own staging dir (the
    try/except guard on every builder), leaving the cache root free of
    `.tmp.` debris."""
    from whale_sightings_spark.operators import dedup as DD
    from whale_sightings_spark.plans import cluster_store as CS

    monkeypatch.setenv("SPARK_GRAFT_INDEX_DIR", str(tmp_path))

    def boom(pairs, artifact_dir, **kwargs):
        # simulate an OOM mid-build AFTER the staging dir exists
        os.makedirs(artifact_dir, exist_ok=True)
        raise RuntimeError("simulated build crash")

    monkeypatch.setattr(DD, "build_cluster_artifact", boom)
    try:
        CS.text_cluster_dir(spark, sf_dir)
    except RuntimeError:
        pass
    else:  # pragma: no cover
        raise AssertionError("build was expected to raise")
    sf_root = os.path.join(str(tmp_path), os.path.basename(sf_dir.rstrip("/")))
    leftovers = [
        d for d in os.listdir(sf_root) if ".tmp." in d
    ] if os.path.isdir(sf_root) else []
    assert leftovers == []


def test_derived_table_reaps_dead_staging_and_publishes(spark, tmp_path):
    """ADVICE r10: dead builders' derived_*.tmp.<pid> leftovers live
    INSIDE the artifact dir (the sf_root sweep never visits there) —
    `_derived_table` must reap them on rebuild, then publish via
    atomic rename with a _SUCCESS completeness marker."""
    from whale_sightings_spark.plans import cluster_store as CS

    art = tmp_path / "clusters_text_v5_x"
    art.mkdir()
    dead = art / "derived_foo.tmp.999999999"
    dead.mkdir()
    (dead / "junk.parquet").write_bytes(b"x")

    def build():
        return spark.createDataFrame([(1, 2.0)], "v long, pr double")

    df = CS._derived_table(spark, str(art), "foo", build)
    assert df.count() == 1
    assert not dead.exists()
    assert (art / "derived_foo" / "_SUCCESS").exists()
    # second call serves the published table without rebuilding
    mt0 = os.path.getmtime(art / "derived_foo" / "_SUCCESS")
    assert CS._derived_table(spark, str(art), "foo", build).count() == 1
    assert os.path.getmtime(art / "derived_foo" / "_SUCCESS") == mt0


def test_read_artifact_table_memoizes_and_rekeys(spark, tmp_path):
    """Round 11: repeated reads of a published table serve the SAME
    DataFrame object (the per-query fixed overhead is DataFrame
    construction, not the scan); any publish that moves _SUCCESS
    (append, compaction, rebuild) re-keys; a markerless dir is read
    uncached."""
    import time as _time

    from whale_sightings_spark.plans.store_utils import read_artifact_table

    p = str(tmp_path / "tbl")
    spark.createDataFrame([(1,)], "a long").write.parquet(p)
    d1 = read_artifact_table(spark, p, "a long")
    assert read_artifact_table(spark, p, "a long") is d1
    assert d1.count() == 1
    # append rewrites _SUCCESS -> re-key, new rows visible
    _time.sleep(0.01)
    spark.createDataFrame([(2,)], "a long").write.mode("append").parquet(p)
    d2 = read_artifact_table(spark, p, "a long")
    assert d2 is not d1
    assert d2.count() == 2
    # markerless dir: read uncached every time
    q = str(tmp_path / "bare")
    spark.createDataFrame([(3,)], "a long").write.parquet(q)
    os.remove(os.path.join(q, "_SUCCESS"))
    b1 = read_artifact_table(spark, q, "a long")
    assert read_artifact_table(spark, q, "a long") is not b1


def test_derived_table_generation_gate_rebuilds_on_source_change(
    spark, tmp_path
):
    """ADVICE r11: a derived table stamps the source table's _SUCCESS
    generation into `_GEN` at build time; the reader treats a
    generation mismatch as absent. This closes the append-races-
    builder window by generation instead of deletion order: a builder
    that read pre-append source and published AFTER the ingest sweep
    deleted derived tables carries a stale `_GEN` and is rebuilt on
    the next read, never served."""
    import time as _time

    from whale_sightings_spark.plans import cluster_store as CS

    art = tmp_path / "clusters_text_v5_y"
    art.mkdir()
    src = art / "pairs"
    spark.createDataFrame([(1, 2)], "doc_a long, doc_b long").write.parquet(
        str(src)
    )
    src_marker = str(src / "_SUCCESS")
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(len(calls),)], "n long")

    CS._derived_table(spark, str(art), "gen", build, src_marker=src_marker)
    assert calls == [1]
    assert (art / "derived_gen" / "_GEN").read_text().strip() != ""
    # unchanged source: served, not rebuilt
    CS._derived_table(spark, str(art), "gen", build, src_marker=src_marker)
    assert calls == [1]
    # source append moves its _SUCCESS -> stale by generation -> rebuild
    _time.sleep(0.01)
    spark.createDataFrame([(3, 4)], "doc_a long, doc_b long").write.mode(
        "append"
    ).parquet(str(src))
    df = CS._derived_table(
        spark, str(art), "gen", build, src_marker=src_marker
    )
    assert calls == [1, 1]
    assert df.collect()[0][0] == 2
    # a pre-round-12 table (no _GEN) reads as stale once and heals
    os.remove(art / "derived_gen" / "_GEN")
    CS._derived_table(spark, str(art), "gen", build, src_marker=src_marker)
    assert calls == [1, 1, 1]
    assert (art / "derived_gen" / "_GEN").exists()


def test_ingest_invalidation_skips_live_staging(spark, tmp_path):
    """ADVICE r11: the streaming ingest's derived-table sweep must
    delete only PUBLISHED derived_<name> dirs — a LIVE builder's
    derived_*.tmp.<pid> staging is never raced (the repo-wide .tmp.
    convention); dead builders' leftovers go through the pid-liveness
    reap."""
    import glob
    import shutil

    from whale_sightings_spark.plans.store_utils import reap_dead_staging

    art = tmp_path / "clusters_text_v5_z"
    art.mkdir()
    live = art / f"derived_pagerank.tmp.{os.getpid()}"
    dead = art / "derived_pagerank.tmp.999999999"
    published = art / "derived_pagerank"
    for d in (live, dead, published):
        d.mkdir()
        (d / "part-0.parquet").write_bytes(b"x")
    # the exact sweep the ingest path runs (streaming/events.py)
    reap_dead_staging(str(art))
    for d in glob.glob(os.path.join(str(art), "derived_*")):
        if ".tmp." in os.path.basename(d):
            continue
        shutil.rmtree(d, ignore_errors=True)
    assert live.is_dir()
    assert not dead.exists()
    assert not published.exists()


def test_load_table_memoizes_and_rekeys(spark, sf_dir, tmp_path):
    """Round 12 (optimization): base testdata tables serve the SAME
    lazy DataFrame object per (file stat signature, session) — the
    per-query fixed overhead was footer read + schema inference + the
    _fan_out directory walk, repeated ~265x per bench run. A rewritten
    (touched) table must re-key; the plan itself stays lazy, so every
    action still computes from the parquet input."""
    import shutil
    import time as _time

    from whale_sightings_spark import schemas as S

    d1 = S.load_table(spark, sf_dir, "nation")
    assert S.load_table(spark, sf_dir, "nation") is d1
    n = d1.count()
    assert n > 0
    # a table whose file signature moves is re-read, not served stale
    p = tmp_path / "nation.parquet"
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), p)
    m1 = S.load_table(spark, str(tmp_path), "nation")
    assert m1.count() == n
    _time.sleep(0.01)
    os.utime(p)
    m2 = S.load_table(spark, str(tmp_path), "nation")
    assert m2 is not m1
    # events keeps its nanos->micros cast through the memo
    e1 = S.load_table(spark, sf_dir, "events")
    assert S.load_table(spark, sf_dir, "events") is e1
    assert dict(e1.dtypes)["ts"] == "timestamp_ntz"
