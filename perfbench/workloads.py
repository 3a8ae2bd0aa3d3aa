"""The three workloads: doc_write, search_serve, analytics.

Each workload is a class with

- ``__init__(seed, sf_dir, work_dir)``: input generation (untimed);
- ``setup(spark, runner)``: store builds plus one warm-up cycle, through
  the runner with ``timed=False``;
- ``cycle(rng)``: the ``(layer, name, fn)`` ops of one cycle. A run times
  a fixed number of whole cycles, so every run executes the same mix of
  ops, in a seed-drawn order and with seed-drawn parameters;
- ``check(spark, results)``: untimed correctness of every collected
  result; returns the number of wrong results.

Engine calls go through ``ctx.call`` / ``ctx.collect`` so the traced run
can attribute them; the workloads touch only public functions.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

from gen import (
    ORGS,
    apply_patch,
    make_patch,
    plan_bodies,
)
from spans import dir_stats, module_layer


def _write_lines(path: str, lines: list[str]) -> int:
    os.makedirs(path, exist_ok=True)
    data = ("\n".join(lines) + "\n").encode()
    with open(os.path.join(path, "part-0.json"), "wb") as f:
        f.write(data)
    return len(data)


# Skew of the search keys: an assumed exponent, not one measured from
# traffic. Above 1, a few hot keys take most requests.
ZIPF_S = 1.1


def _zipf_index(rng: random.Random, n: int) -> int:
    """Index in [0, n) with P(i) proportional to 1 / (i + 1) ** ZIPF_S."""
    return rng.choices(range(n), weights=[1 / (i + 1) ** ZIPF_S for i in range(n)])[0]


def table_bytes(sf_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(sf_dir, n)) for n in os.listdir(sf_dir)
               if n.endswith(".parquet"))


def _doc_df(spark, docs: list[dict]):
    from pyspark.sql import functions as F

    from bigdataindexing_spark.documents.schema import PLAN_SCHEMA, local_strings_df

    return local_strings_df(spark, [json.dumps(d) for d in docs]).select(
        F.from_json("value", PLAN_SCHEMA).alias("doc")
    )


# --- doc_write -------------------------------------------------------------

class DocWrite:
    """Seeded write ops over plan documents: batch ingest, stream
    arrivals, patch batches, cascade-delete batches and an inverted-index
    build over the sf0.1 ``documents`` corpus.

    The op mix and batch sizes are assumptions, not measured traffic:
    every write op kind runs in each cycle, and the sizes are chosen so
    that one cycle fits the run's time budget."""

    cycle_s = 8.0  # one cycle's op time at HEAD, 4-core host
    BASE_DOCS = 4000
    INGEST_DOCS = 1000
    STREAM_DOCS = 500
    PATCH_DOCS = 100
    DELETE_DOCS = 50

    def __init__(self, seed: int, sf_dir: str, work_dir: str):
        self.rng = random.Random(seed)
        self.sf_dir = sf_dir
        self.work = work_dir
        self.n_seg = 0
        self.expected: dict[str, dict] = {}  # live docs of every segment
        self.main_ids: list[str] = []  # live docs of the patchable store
        self.segments: list[tuple[str, bool]] = []  # (store dir, streaming)
        self.quarantine_expected: dict[str, tuple[int, bool]] = {}
        self.json_bytes = 0
        self.docs_done = 0
        self.main_dir = ""
        bodies, valid = plan_bodies("b", self.BASE_DOCS, self.rng)
        self.base_in = os.path.join(self.work, "in-base")
        self.base_bytes = _write_lines(self.base_in, bodies)
        self.base_valid = valid
        self.base_invalid = len(bodies) - len(valid)

    def _new_dir(self, kind: str) -> str:
        self.n_seg += 1
        return os.path.join(self.work, f"{kind}-{self.n_seg}")

    # each op builder returns (layer, name, fn); inputs are generated here,
    # before the op's clock starts
    def op_ingest(self):
        from bigdataindexing_spark.sources import json_ingest

        bodies, valid = plan_bodies(f"i{self.n_seg}_", self.INGEST_DOCS, self.rng)
        in_dir = self._new_dir("in")
        nbytes = _write_lines(in_dir, bodies)
        out = self._new_dir("seg")

        def fn(ctx):
            ctx.call("sources.json_ingest", json_ingest.ingest_batch, ctx.runner.spark, in_dir, out)
            self._segment(out, False, valid, len(bodies) - len(valid), nbytes)

        return "sources.json_ingest", "ingest_batch", fn

    def op_stream(self):
        from bigdataindexing_spark.sources import json_ingest

        bodies, valid = plan_bodies(f"s{self.n_seg}_", self.STREAM_DOCS, self.rng)
        in_dir = self._new_dir("arrival")
        nbytes = _write_lines(in_dir, bodies)
        out = self._new_dir("stream")

        def fn(ctx):
            ctx.call("streaming", json_ingest.ingest_stream, ctx.runner.spark, in_dir, out)
            self._segment(out, True, valid, len(bodies) - len(valid), nbytes)

        return "streaming", "ingest_stream", fn

    def _segment(self, out, streaming, valid, n_invalid, nbytes):
        self.segments.append((out, streaming))
        self.quarantine_expected[out] = (n_invalid, streaming)
        self.expected.update(valid)
        self.json_bytes += nbytes
        self.docs_done += len(valid)

    def op_patch(self):
        from bigdataindexing_spark.documents import merge, shred

        targets = self.rng.sample(self.main_ids, min(self.PATCH_DOCS, len(self.main_ids)))
        patches = [make_patch(self.expected[t], self.n_seg, self.rng) for t in targets]
        out = self._new_dir("main")
        src = self.main_dir

        def fn(ctx):
            spark = ctx.runner.spark
            cur = ctx.call("documents.merge", shred.read_tables, spark, src)
            merged = ctx.call("documents.merge", merge.merge, cur, _doc_df(spark, patches))
            ctx.call("documents.merge", shred.write_tables, merged, out)
            for t, p in zip(targets, patches):
                apply_patch(self.expected[t], p)
            self._replace_main(src, out)
            self.docs_done += len(patches)

        return "documents.merge", "patch_batch", fn

    def op_delete(self):
        from bigdataindexing_spark.documents import delete, shred

        victims = self.rng.sample(self.main_ids, min(self.DELETE_DOCS, len(self.main_ids)))
        out = self._new_dir("main")
        src = self.main_dir

        def fn(ctx):
            spark = ctx.runner.spark
            cur = ctx.call("documents.delete", shred.read_tables, spark, src)
            pruned = ctx.call("documents.delete", delete.cascade_delete, cur, victims)
            ctx.call("documents.delete", shred.write_tables, pruned, out)
            for v in victims:
                del self.expected[v]
            gone = set(victims)
            self.main_ids = [i for i in self.main_ids if i not in gone]
            self._replace_main(src, out)
            self.docs_done += len(victims)

        return "documents.delete", "delete_batch", fn

    def _replace_main(self, old: str, new: str) -> None:
        self.segments = [(new, False) if d == old else (d, s) for d, s in self.segments]
        self.main_dir = new

    def op_index(self):
        from bigdataindexing_spark import tables
        from bigdataindexing_spark.index import build

        out = self._new_dir("index")

        def fn(ctx):
            docs = ctx.call("tables", tables.table, ctx.runner.spark, self.sf_dir, "documents")
            ctx.call("index.build", build.write_index, docs, out)
            self.index_dir = out

        return "index.build", "write_index", fn

    def setup(self, spark, runner):
        from bigdataindexing_spark.sources import json_ingest

        out = self._new_dir("seg")

        def base(ctx):
            ctx.call("sources.json_ingest", json_ingest.ingest_batch, spark, self.base_in, out)

        runner.op("sources.json_ingest", "ingest_base", base, timed=False)
        self.main_dir = out
        self.segments.append((out, False))
        self.quarantine_expected[out] = (self.base_invalid, False)
        self.expected.update(self.base_valid)
        self.main_ids = sorted(self.base_valid)
        self.json_bytes += self.base_bytes
        # warm up each other op kind once; the base ingest warmed ingest_batch
        for build in (self.op_stream, self.op_patch, self.op_delete, self.op_index):
            runner.op(*build(), timed=False)
        self.docs_done = 0

    def cycle(self, rng):
        # an assumed mix (see the class docstring)
        builders = [self.op_ingest, self.op_stream, self.op_stream, self.op_patch,
                    self.op_delete, self.op_index]
        rng.shuffle(builders)
        # a generator: each op's inputs are drawn when the loop reaches it,
        # so it sees the store its predecessors left behind
        for build in builders:
            yield build()

    def check(self, spark, results) -> int:
        """The union of every segment, reassembled, must equal the
        generator's documents after the same patches and deletes; each
        ingest's quarantine must hold exactly its invalid bodies; the
        index's document frequencies must match a Python count."""
        from pyspark.sql import functions as F

        from bigdataindexing_spark.documents.reassemble import reassemble
        from bigdataindexing_spark.documents.shred import ShreddedTables
        from bigdataindexing_spark.sources import json_ingest

        wrong = 0
        # every segment at once, read as json_ingest.read_store reads one
        union = ShreddedTables(**{
            name: spark.read.option("recursiveFileLookup", "true").parquet(
                *[f"{d}/{name}" if streaming else f"{d}/{name}.parquet"
                  for d, streaming in self.segments])
            for name in json_ingest.TABLE_NAMES
        })
        got = {
            oid: json.loads(doc)
            for oid, doc in reassemble(union).select("object_id", F.to_json("doc")).collect()
        }
        if got.keys() != self.expected.keys():
            wrong += 1
            print(f"doc_write: {len(got.keys() ^ self.expected.keys())} ids differ", file=sys.stderr)
        bad = [k for k in got.keys() & self.expected.keys() if got[k] != self.expected[k]]
        if bad:
            wrong += 1
            print(f"doc_write: {len(bad)} documents differ, e.g. {bad[:3]}", file=sys.stderr)
        qpaths = {
            (f"{d}/quarantine" if streaming else f"{d}/quarantine.parquet"): n
            for d, (n, streaming) in self.quarantine_expected.items()
        }
        files = (spark.read.option("recursiveFileLookup", "true").parquet(*qpaths)
                 .select(F.input_file_name()).collect())
        for qpath, n in qpaths.items():
            got_q = sum(1 for (f,) in files if f"{qpath}/" in f)
            if got_q != n:
                wrong += 1
                print(f"doc_write: {qpath} holds {got_q} bodies, expected {n}", file=sys.stderr)
        postings = spark.read.parquet(f"{self.index_dir}/postings.parquet")
        got_df = {r[0]: r[1] for r in postings.select("token", "df").collect()}
        if got_df != document_frequencies(self.sf_dir):
            wrong += 1
            print("doc_write: index document frequencies differ", file=sys.stderr)
        return wrong

    def store_bytes(self) -> int:
        return sum(dir_stats(d)[1] for d, _ in self.segments)

    def input_bytes(self) -> int:
        return self.json_bytes


def document_frequencies(sf_dir: str) -> dict[str, int]:
    """token -> number of documents containing it, over the ``documents``
    table, tokenized as ``functions.text.tokens`` does (lowercase, split
    on single spaces, empty tokens dropped)."""
    import pyarrow.parquet as pq

    df: dict[str, int] = {}
    for text in pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])["text"].to_pylist():
        for tok in set(text.lower().split(" ")) - {""}:
            df[tok] = df.get(tok, 0) + 1
    return df


# --- search_serve ----------------------------------------------------------

REGISTRY_SERVES = (
    "idx_bm25_serve",
    "idx_maxscore_topk",
    "idx_term_lookup",
    "idx_phrase_search",
    "idx_bm25_incremental_serve",
    "q01_exact_match",
    "q02_wildcard",
    "q03_range",
    "q07_nested_inner_hits",
    "q44_rollup_serve",
)


class SearchServe:
    """Zipf-skewed requests against a plan store built in setup (the
    reference's four search shapes) plus the registered serves.

    The mix, one request of each kind per cycle, is an assumption, not
    measured traffic."""

    cycle_s = 4.5
    STORE_DOCS = 5000

    def __init__(self, seed: int, sf_dir: str, work_dir: str):
        self.rng = random.Random(seed)
        self.sf_dir = sf_dir
        self.work = work_dir
        bodies, self.docs = plan_bodies("p", self.STORE_DOCS, self.rng)
        self.in_dir = os.path.join(work_dir, "in-plans")
        self.json_bytes = _write_lines(self.in_dir, bodies)
        self.store_dir = os.path.join(work_dir, "plan-store")
        self.index_dir = os.path.join(work_dir, "index")
        # hot keys: a seeded popularity order over the stored plans
        self.by_rank = sorted(self.docs)
        self.rng.shuffle(self.by_rank)

    def setup(self, spark, runner):
        from bigdataindexing_spark import tables
        from bigdataindexing_spark.index import build
        from bigdataindexing_spark.sources import json_ingest

        def ingest(ctx):
            ctx.call("sources.json_ingest", json_ingest.ingest_batch, spark, self.in_dir, self.store_dir)

        def index(ctx):
            docs = ctx.call("tables", tables.table, spark, self.sf_dir, "documents")
            ctx.call("index.build", build.write_index, docs, self.index_dir)

        runner.op("sources.json_ingest", "ingest_store", ingest, timed=False)
        runner.op("index.build", "write_index", index, timed=False)
        for layer, name, fn in self.cycle(self.rng):
            runner.op(layer, name, fn, timed=False)

    def _store(self, ctx):
        from bigdataindexing_spark.sources import json_ingest

        return ctx.call("sources.json_ingest", json_ingest.read_store, ctx.runner.spark, self.store_dir)

    # the reference's four search shapes, composed as documents/contracts.py
    # composes them, with seed-drawn parameters
    def req_get(self, rng):
        from pyspark.sql import functions as F

        from bigdataindexing_spark.documents.reassemble import reassemble

        oid = self.by_rank[_zipf_index(rng, len(self.by_rank))]

        def fn(ctx):
            docs = ctx.call("documents.reassemble", reassemble, self._store(ctx))
            df = docs.filter(F.col("object_id") == oid).select("object_id", F.to_json("doc"))
            return ("get", oid), ctx.collect("documents.reassemble", df)

        return "documents.reassemble", "get_by_id", fn

    def req_wildcard(self, rng):
        from pyspark.sql import functions as F

        from bigdataindexing_spark.documents.reassemble import reassemble

        prefix = ORGS[_zipf_index(rng, len(ORGS))][:rng.randrange(2, 5)]

        def fn(ctx):
            docs = ctx.call("documents.reassemble", reassemble, self._store(ctx))
            df = (docs.filter(F.col("doc").getField("_org").like(prefix + "%"))
                  .select("object_id").orderBy("object_id"))
            return ("wildcard", prefix), ctx.collect("documents.reassemble", df)

        return "documents.reassemble", "org_wildcard", fn

    def req_range(self, rng):
        from pyspark.sql import functions as F

        lo = 10 * _zipf_index(rng, 19)
        hi = lo + 10

        def fn(ctx):
            df = (self._store(ctx).member_cost_shares.filter(F.col("copay").between(lo, hi))
                  .select("object_id", "copay").orderBy("object_id"))
            return ("range", lo, hi), ctx.collect("sources.json_ingest", df)

        return "sources.json_ingest", "copay_range", fn

    def req_nested(self, rng):
        from pyspark.sql import functions as F

        t = 200 - 10 * _zipf_index(rng, 11)

        def fn(ctx):
            store = self._store(ctx)
            hits = store.member_cost_shares.filter(
                (F.col("object_id").startswith("mcs-s")) & (F.col("copay") >= t)
            ).select(F.col("object_id").alias("cs_id"), F.col("copay"))
            pscs = store.edges.filter(F.col("field") == "planserviceCostShares").select(
                F.col("parent_id").alias("ps_id"), F.col("child_id").alias("cs_id"))
            lps = store.edges.filter(F.col("field") == "linkedPlanServices").select(
                F.col("parent_id").alias("plan_id"), F.col("child_id").alias("ps_id"))
            df = (hits.join(pscs, "cs_id").join(lps, "ps_id")
                  .select("plan_id", F.col("ps_id").alias("inner_hit_ps"), "copay")
                  .orderBy("plan_id", "inner_hit_ps"))
            return ("nested", t), ctx.collect("sources.json_ingest", df)

        return "sources.json_ingest", "nested_inner_hits", fn

    def cycle(self, rng):
        reqs = [self.req_get(rng), self.req_wildcard(rng), self.req_range(rng),
                self.req_nested(rng)]
        reqs += [registry_op(self.sf_dir, n) for n in REGISTRY_SERVES]
        rng.shuffle(reqs)
        return reqs

    def expected(self, key) -> list:
        kind = key[0]
        docs = self.docs
        if kind == "get":
            return [(key[1], docs[key[1]])]
        if kind == "wildcard":
            return sorted((k,) for k, d in docs.items() if d["_org"].startswith(key[1]))
        if kind == "range":
            _, lo, hi = key
            out = []
            for d in docs.values():
                for cs in [d["planCostShares"]] + [p["planserviceCostShares"] for p in d["linkedPlanServices"]]:
                    if lo <= cs["copay"] <= hi:
                        out.append((cs["objectId"], cs["copay"]))
            return sorted(out)
        t = key[1]
        return sorted(
            (d["objectId"], p["objectId"], p["planserviceCostShares"]["copay"])
            for d in docs.values() for p in d["linkedPlanServices"]
            if p["planserviceCostShares"]["copay"] >= t
        )

    def check(self, spark, results) -> int:
        wrong = 0
        reg = [(n, rows) for n, rows in results if isinstance(n, str)]
        for key, rows in results:
            if isinstance(key, str):
                continue
            if key[0] == "get":
                got = [(r[0], json.loads(r[1])) for r in rows]
            else:
                got = [tuple(r) for r in rows]
            if got != self.expected(key):
                wrong += 1
                print(f"search_serve: wrong result for {key}", file=sys.stderr)
        return wrong + check_registry(spark, self.sf_dir, reg)

    def store_bytes(self) -> int:
        return dir_stats(self.store_dir)[1] + dir_stats(self.index_dir)[1]

    def input_bytes(self) -> int:
        return self.json_bytes + table_bytes(self.sf_dir)


# --- analytics -------------------------------------------------------------

# The registry's benched queries the analytics workload passes over: one
# or more per operator layer, the ROADMAP performance targets (q125, q80,
# q37, q35, dedup_ngram_jaccard_raw) and a Python-worker path
# (dedup_minhash_lsh). Queries that only repeat a covered layer are left
# out so that a run fits the benchmark's time budget. q118_pagerank builds
# its edge store on first use, so the warm-up pass pays that build in
# setup and the timed passes serve from the store.
ANALYTICS_QUERIES = (
    "q35_sql_tpch_q5", "q37_sql_having", "q80_sql_tpch_q21",
    "q125_dq_audit",
    "q117_scd2_pit_join",
    "q127_temperature_mix",
    "q129_bigram_logprob",
    "dedup_minhash_lsh", "dedup_ngram_jaccard_raw",
    "dedup_bloom_decontaminate",
    "q25_ann_bruteforce",
    "q118_pagerank",
    "src_layout_mor_read",
)


def registry_op(sf_dir: str, name: str):
    """One registered query: builder call, collect, release of the
    builder's pinned relations (what a long-lived session does)."""
    from bigdataindexing_spark import tables
    from bigdataindexing_spark.registry import all_specs

    builder = all_specs()[name].builder
    layer = module_layer(builder)

    def fn(ctx):
        df = ctx.call(layer, builder, ctx.runner.spark, sf_dir)
        rows = ctx.collect(layer, df)
        ctx.call("tables", tables.release_pinned)
        return name, (list(df.columns), rows)

    return layer, name, fn


def check_registry(spark, sf_dir: str, results) -> int:
    """Compare each distinct query's first result against the duckdb
    oracle (tests/oracle.py ``compare``), and every later result of the
    same query against the first. Returns the number of wrong results."""
    from tests.oracle import canon_rows, compare, make_duckdb

    from bigdataindexing_spark.registry import all_specs

    specs = all_specs()
    con = None
    first: dict[str, tuple[list, bool]] = {}  # name -> (canonical rows, matched oracle)
    wrong = 0
    for name, (cols, rows) in results:
        # in delivered order: ``compare`` requires the ordered match too
        canon = canon_rows(cols, [tuple(r) for r in rows], sort_rows=False)
        if name in first:
            same, matched = canon == first[name][0], first[name][1]
            if not same:
                print(f"{name}: result differs between runs", file=sys.stderr)
            wrong += not (same and matched)
            continue
        sql = specs[name].oracle_text()
        # named for the SQL and the row form cached: rows in delivered order
        cache = os.path.join(sf_dir, "_oracle", hashlib.sha256(sql.encode()).hexdigest() + ".ordered.json")
        if os.path.exists(cache):
            with open(cache) as f:
                ok = canon == [tuple(r) for r in json.load(f)]
        else:
            con = con or make_duckdb(sf_dir)
            res = compare(_Collected(cols, rows), con, sql)
            ok = res["match"]
            if ok:  # the tables are fixed, so a matching result is the oracle's
                os.makedirs(os.path.dirname(cache), exist_ok=True)
                with open(cache + ".tmp", "w") as f:
                    json.dump(canon, f)
                os.replace(cache + ".tmp", cache)
            else:
                print(f"{name}: oracle mismatch {res}", file=sys.stderr)
        first[name] = (canon, ok)
        if not ok:
            wrong += 1
            print(f"{name}: result differs from the oracle", file=sys.stderr)
    if con is not None:
        con.close()
    return wrong


class _Collected:
    """The rows a timed op already collected, shaped for ``compare``."""

    def __init__(self, cols, rows):
        self.columns = cols
        self._rows = rows

    def collect(self):
        return self._rows


class Analytics:
    """Passes over the benched registry queries, seed-shuffled per pass."""

    cycle_s = 8.5

    def __init__(self, seed: int, sf_dir: str, work_dir: str):
        self.rng = random.Random(seed)
        self.sf_dir = sf_dir

    def setup(self, spark, runner):
        for layer, name, fn in self.cycle(self.rng):
            runner.op(layer, name, fn, timed=False)

    def cycle(self, rng):
        names = list(ANALYTICS_QUERIES)
        rng.shuffle(names)
        return [registry_op(self.sf_dir, n) for n in names]

    def check(self, spark, results) -> int:
        return check_registry(spark, self.sf_dir, results)

    def store_bytes(self) -> int:
        return 0

    def input_bytes(self) -> int:
        return table_bytes(self.sf_dir)


WORKLOADS = {"doc_write": DocWrite, "search_serve": SearchServe, "analytics": Analytics}
