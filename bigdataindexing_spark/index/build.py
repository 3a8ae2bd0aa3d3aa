"""Inverted-index build (SURVEY.md §2.9 X5) — the reference's core purpose
(async Elasticsearch indexing, IndexingListener.java:115–125) re-expressed
as a batch DataFrame job producing Parquet index tables.

Two tables:
- ``postings(token, df, doc_ids)`` — one row per token with document
  frequency and the sorted posting list;
- ``term_rows(token, doc_id, tf)`` — the flat exploded form used for
  join-shaped term lookups (this is what search queries actually hit; the
  collect_list form is for export/serving).

Scale notes: the explode→groupBy is one fully-codegen'd shuffle keyed by
(token, doc) with map-side combine. (A zero-shuffle row-local
sort+run-length formulation via higher-order array functions was
measured 3.5x SLOWER at sf0.1 — Spark's higher-order functions are
CodegenFallback, i.e. interpreted per row — so the shuffle stays.)
The build then adds exactly ONE more shuffle, the repartition on token,
which the term_rows write and the postings aggregation both reuse.
Writes are ``sortWithinPartitions(token)`` so Parquet row-group
statistics give term-lookup skipping at serve time (the Spark-native
analogue of the reference's ES inverted index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.functions.text import tokens
from bigdataindexing_spark.sources.store_dirs import write_parquet_concurrently


def term_rows(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, doc_id, tf) — term frequency per document."""
    return (
        docs.select(id_col, F.explode(tokens(text_col)).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token", id_col)
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def postings_from_rows(rows: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(token, df, doc_ids) from precomputed flat rows — the single
    definition both the registered relation and write_index share, so the
    written parquet can never silently diverge from the served one."""
    return rows.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
    )


def postings(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(token, df, doc_ids) — posting lists, sorted for determinism.

    ONE shuffle, not two: df counts DISTINCT (token, doc) pairs, and the
    per-doc dedupe is row-local (``array_distinct`` before the explode),
    so the exchange carries one row per distinct pair — never the raw
    token stream — and no tf is computed only to be discarded
    (``term_rows`` remains the path for tf consumers). At 100 TB the
    shuffled volume is the postings themselves, the information-theoretic
    floor for this output."""
    return (
        docs.select(
            id_col,
            F.explode(F.array_distinct(tokens(text_col))).alias("token"),
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
    )


def write_index(docs: DataFrame, out_dir: str) -> None:
    """Materialize both index tables as two CONCURRENT, independent jobs.

    Each table is one self-contained scan→explode→shuffle→agg→sorted-write
    pipeline (term_rows shuffles raw (token, doc) occurrences for tf;
    postings row-locally dedupes with ``array_distinct`` first so its
    exchange carries one row per distinct pair — the information floor
    for that output). Running them as overlapping jobs beats every
    shared-intermediate formulation measured at sf0.1/local[32]
    (persist+sequential 0.80s, persist+count+concurrent 0.47s, this
    0.37s): neither job saturates the cluster alone, the overlap
    reclaims the idle cores, and dropping the shared cache removes the
    materialization barrier plus the cache-put/read overhead on the hot
    path. The trade is a second source scan + ~2x total shuffle bytes —
    the right side of the trade here and usually at scale too: columnar
    scans are the cheap stage, both jobs stay stateless (clean retries,
    no executor-memory pressure from caching a corpus-sized
    intermediate), and each output still lands token-clustered and
    sorted for row-group skipping. Deployments where the double shuffle
    dominates (very hot small clusters) can fall back to
    ``postings_from_rows`` over a persisted ``term_rows``.

    PRECONDITION: ``docs`` must be a deterministic, IMMUTABLE relation
    (static parquet snapshot, not a view over files being appended, nor
    a nondeterministic transform). The two jobs scan the source
    independently; single-snapshot consistency between term_rows and
    postings is only guaranteed when both scans observe identical input
    (ADVICE r5). For mutable or nondeterministic sources, use
    ``postings_from_rows`` over a persisted ``term_rows`` — the persist
    is the snapshot."""

    rows = (
        docs.select("doc_id", F.explode(tokens("text")).alias("token"))
        .filter(F.col("token") != "")
        .repartition("token")
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .sortWithinPartitions("token")
    )
    write_parquet_concurrently(
        [
            (rows, f"{out_dir}/term_rows.parquet"),
            (postings(docs).sortWithinPartitions("token"), f"{out_dir}/postings.parquet"),
        ]
    )
