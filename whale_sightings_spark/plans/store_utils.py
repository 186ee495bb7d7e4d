"""The one lifecycle of the persisted artifact stores under
`.index_cache/` (IVF-PQ index, BPE tokenizer, NB model, shingle index,
cluster labels+pairs and their derived tables, n-gram LM).

Layout: ``<root>/<sf name>/<family>_v<version>_<sig>/``, where
``<root>`` is ``SPARK_GRAFT_INDEX_DIR`` (default: the repo's
``.index_cache``) and ``<sig>`` is the :func:`stat_sig` of the source
table file, so a rewritten corpus re-keys every store built from it.

Crash contract:

- A store is COMPLETE when its marker table's ``_SUCCESS`` exists and
  no ``COMPACTING`` sentinel does. Anything else is rebuilt.
- A build writes into ``<final>.tmp.<pid>`` and publishes by one atomic
  rename. A failed build removes its staging dir; a hard kill leaves it
  for :func:`reap_dead_staging`, which removes only dead pids' dirs, so
  a live builder is never raced.
- A torn remain at ``<final>`` is cleared before the rename. When the
  rename fails, a racing builder's complete store wins; any other
  failure re-raises.
- Compaction writes the sentinel first and removes it only after its
  last :func:`swap_table`. A compaction that dies anywhere in between
  leaves the sentinel, and the next read rebuilds.
- Eviction on rebuild is scoped to ``<family>_v``, so one family never
  deletes another whose name it prefixes (``ivfpq`` vs
  ``ivfpq_hist<split>``), and never touches ``.tmp.`` staging.
- The warm path is ``os.stat`` calls only: no Spark job, no mkdir.
- A store that takes streaming ingest publishes each micro-batch as
  its own sub-store ``ingest/b<batch_id>`` through :func:`publish`;
  :func:`read_store_table` unions the published ones with the base.
"""
from __future__ import annotations

import glob
import os
import shutil


def stat_sig(path: str) -> str | None:
    """``mtime_ns_ino_size`` of ``path``, or None if it does not exist.
    Nanosecond mtime plus inode catches a same-size rewrite within one
    second, including an ``os.replace`` onto the path."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return f"{st.st_mtime_ns}_{st.st_ino}_{st.st_size}"


def _pid_alive(pid: int) -> bool:
    # kill(0, sig) signals our own process group, and a negative pid a
    # whole group: neither names a builder
    if pid <= 0:
        return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


def reap_dead_staging(sf_root: str) -> list[str]:
    """Remove `*.tmp.<pid>` dirs under ``sf_root`` whose builder pid is
    dead; returns the reaped names. Live pids, ours included, are left
    alone."""
    reaped: list[str] = []
    if not os.path.isdir(sf_root):
        return reaped
    for d in os.listdir(sf_root):
        head, sep, tail = d.rpartition(".tmp.")
        if not sep or not tail.isdigit():
            continue
        if _pid_alive(int(tail)):
            continue
        shutil.rmtree(os.path.join(sf_root, d), ignore_errors=True)
        reaped.append(d)
    return reaped


def publish(final: str, write, complete) -> None:
    """Build ``final`` via ``write(staging)`` and publish it by atomic
    rename; ``complete()`` tells whether ``final`` is a usable store."""
    staging = f"{final}.tmp.{os.getpid()}"
    try:
        write(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    if not complete():
        shutil.rmtree(final, ignore_errors=True)
    try:
        os.rename(staging, final)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not complete():
            raise


def compacting_sentinel(artifact_dir: str) -> str:
    return os.path.join(artifact_dir, "COMPACTING")


def artifact_dir(
    sf_dir: str, source_file: str, family: str, version, marker, write
) -> str:
    """Path of the complete ``family`` store built from
    ``sf_dir/source_file``, building it first if needed.
    ``marker(dir)`` is the table whose ``_SUCCESS`` marks a finished
    build; ``write(staging)`` builds the whole store into ``staging``."""
    root = os.environ.get(
        "SPARK_GRAFT_INDEX_DIR",
        os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__)))),
            ".index_cache",
        ),
    )
    sf_root = os.path.join(root, os.path.basename(os.path.normpath(sf_dir)))
    source = os.path.join(sf_dir, source_file)
    sig = stat_sig(source)
    if sig is None:
        raise FileNotFoundError(source)
    leaf = f"{family}_v{version}_{sig}"
    final = os.path.join(sf_root, leaf)

    def complete() -> bool:
        return os.path.exists(
            os.path.join(marker(final), "_SUCCESS")
        ) and not os.path.exists(compacting_sentinel(final))

    if not complete():
        reap_dead_staging(sf_root)
        if os.path.isdir(sf_root):
            for d in os.listdir(sf_root):
                if d != leaf and d.startswith(f"{family}_v") and ".tmp." not in d:
                    shutil.rmtree(os.path.join(sf_root, d), ignore_errors=True)
        publish(final, write, complete)
    return final


def ingest_batch_dirs(artifact_dir: str) -> list[str]:
    """Published per-batch ingest dirs (``ingest/b<id>``), oldest
    first; ``.tmp.`` staging of a torn batch is never listed."""
    root = os.path.join(artifact_dir, "ingest")
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, d)
        for d in sorted(os.listdir(root))
        if d.startswith("b") and d[1:].isdigit()
    ]


def parquet_files(*roots: str) -> int:
    return sum(
        len(glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True))
        for d in roots
    )


def swap_table(live: str, write) -> None:
    """Rewrite table dir ``live`` via ``write(staging)``, then swap the
    staging dir in. Not atomic: callers hold the compaction sentinel."""
    staging = live + "__compact"
    write(staging)
    old = live + "__old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(live, old)
    os.rename(staging, live)
    shutil.rmtree(old)


# ---------------------------------------------------------------------------
# Memoized artifact-table reads: a published table is immutable between
# publishes, and every mutation path (build, streaming append,
# compaction swap) rewrites its `_SUCCESS` marker, so the marker's
# stat signature keys the memo. DataFrame construction (schema
# inference, partition discovery) is the fixed per-query cost it saves.
# ---------------------------------------------------------------------------

_DF_MEMO: dict = {}


def read_artifact_table(spark, path: str, schema=None):
    """`spark.read[.schema(schema)].parquet(path)` memoized on the
    table's `_SUCCESS` :func:`stat_sig`. Tables without a marker
    (mid-build, foreign dirs) are read uncached. The owning session
    rides in the memo value, so a recycled `id()` after session
    teardown can never serve another session's plan."""
    sig = stat_sig(os.path.join(path, "_SUCCESS"))
    # the declared schema joins the key: two readers of one path with
    # different schemas (or inferred vs declared) must not share a plan
    key = (os.path.abspath(path), str(schema))
    if sig is not None:
        hit = _DF_MEMO.get(key)
        if hit is not None and hit[0] == sig and hit[2] is spark:
            return hit[1]
    reader = spark.read.schema(schema) if schema is not None else spark.read
    df = reader.parquet(path)
    if sig is not None:
        _DF_MEMO[key] = (sig, df, spark)
    return df


def read_store_table(spark, artifact_dir: str, key: str, schema):
    """Pinned-schema read of table ``key`` of a store that takes
    streaming ingest: the base table unioned with the same table of
    every published ingest batch (:func:`ingest_batch_dirs`). Each root
    is scanned on its own so bucket partition pruning survives the
    union."""
    df = read_artifact_table(spark, os.path.join(artifact_dir, key), schema)
    for b in ingest_batch_dirs(artifact_dir):
        t = os.path.join(b, key)
        if os.path.isdir(t):
            df = df.unionByName(read_artifact_table(spark, t, schema))
    return df
