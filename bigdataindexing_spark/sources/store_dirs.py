"""Session-scoped materialized-store directories.

Every session-materialized store (dedup signature stores, postings base,
HLL sketches, rollups, clustered / Z-ordered layouts) allocates through
:func:`session_store_dir`: a ``mkdtemp`` whose removal is registered
with ``atexit``, so process exit reclaims every lineitem-sized copy the
session materialized instead of orphaning them in /tmp (round-3 ADVICE).
Distinct sessions deliberately keep distinct directories — a
deterministic shared path would race between concurrent sessions (the
round driver and a probe REPL, or two notebook kernels). Per-session
dedupe is the in-memory ``(applicationId, sf_dir)`` cache each call
site already keeps. On a cluster these would be object-store prefixes
owned by a catalog with TTL policy; atexit is the local-mode analogue.

Multi-relation stores are written through :func:`write_parquet_concurrently`.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark import InheritableThread
from pyspark.sql import DataFrame

_CREATED: list[str] = []


def _cleanup() -> None:
    for d in _CREATED:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup)


def session_store_dir(kind: str) -> str:
    """A fresh store directory, removed automatically at process exit."""
    path = tempfile.mkdtemp(prefix=f"bdi_store_{kind}_")
    _CREATED.append(path)
    return path


def write_parquet_concurrently(writes: list[tuple[DataFrame, str]]) -> None:
    """Overwrite each ``(DataFrame, path)`` of ``writes`` as Parquet, all
    of them as concurrent Spark jobs; re-raise the first failure here.

    The one write path of every multi-relation store (shredded documents,
    ingest partials, the inverted index). No single relation's write
    saturates a local cluster, so overlapping the jobs reclaims idle
    cores. ``InheritableThread`` copies the caller's local properties
    into each writer, so every job stays in the caller's job group:
    attributable and cancellable with ``cancelJobGroup``."""
    errors: list[BaseException] = []

    def write(df: DataFrame, path: str) -> None:
        try:
            df.write.mode("overwrite").parquet(path)
        except BaseException as e:  # re-raised in the caller's thread below
            errors.append(e)

    threads = [InheritableThread(target=write, args=w, daemon=True) for w in writes]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


class SessionParquetStore:
    """The build-once/serve-many parquet store with the three standard
    access tiers — dir (parquet path), df (resolved-file-index
    DataFrame), view (temp view for single-SQL serves) — and the session
    hazards handled ONCE instead of per store (ADVICE-r4 class: cached
    DataFrames/views are session-bound; a sibling ``spark.newSession()``
    must re-read/re-register; the dir cache re-validates ``isdir`` so an
    externally-reclaimed store rebuilds instead of erroring).

    ``build(spark, sf_dir) -> DataFrame`` produces the store's content;
    it is written sorted by ``sort_cols`` into one file (stores here are
    bounded — signature tables, postings, sketch counters — so a single
    sorted file maximizes footer-stats pruning for probes).
    """

    def __init__(self, kind: str, build, sort_cols: tuple[str, ...] = ()):
        self.kind = kind
        self._build = build
        self._sort = sort_cols
        self._dirs: dict[tuple[str, str], str] = {}
        self._dfs: dict[tuple[str, str], object] = {}
        self._views: dict[tuple[str, str], str] = {}

    def dir(self, spark, sf_dir: str) -> str:
        import os

        key = (spark.sparkContext.applicationId, sf_dir)
        path = self._dirs.get(key)
        if path is None or not os.path.isdir(path):
            path = session_store_dir(self.kind)
            df = self._build(spark, sf_dir)
            if self._sort:
                df = df.repartition(1).sortWithinPartitions(*self._sort)
            df.write.mode("overwrite").parquet(path)
            self._dirs[key] = path
        return path

    def df(self, spark, sf_dir: str):
        key = (spark.sparkContext.applicationId, sf_dir)
        cached = self._dfs.get(key)
        # session-bound handle + the dir() call re-validates the backing
        # directory, so a stale/reclaimed store rebuilds here too
        if cached is None or cached.sparkSession is not spark:
            cached = spark.read.parquet(self.dir(spark, sf_dir))
            self._dfs[key] = cached
        return cached

    def view(self, spark, sf_dir: str) -> str:
        key = (spark.sparkContext.applicationId, sf_dir)
        name = self._views.get(key)
        if name is None:
            name = f"bdi_{self.kind}_{abs(hash(key)) % 10**8}"
            self.df(spark, sf_dir).createOrReplaceTempView(name)
            self._views[key] = name
        elif not spark.catalog.tableExists(name):  # sibling newSession()
            self.df(spark, sf_dir).createOrReplaceTempView(name)
        return name
