"""Shred (normalize) hierarchical plan documents into flat relations.

Spark-native equivalent of the reference's recursive Redis shredding
(PlanService.java:26–85): where the reference writes one KV pair per nested
object plus string-encoded relation keys, we produce one DataFrame per
objectType plus an ``edges`` relation — the adjacency list as a real table:

    plans(object_id, org, plan_type, creation_date)
    plan_services(object_id, org)
    services(object_id, org, name)
    member_cost_shares(object_id, org, deductible, copay)
    edges(parent_type, parent_id, field, ord, child_type, child_id)

Array order (the reference's ``Arrays.toString`` rendering,
PlanService.java:66) is carried as the explicit ``ord`` column from
``posexplode`` so reassembly is deterministic through any shuffle.

Scale notes: shredding is a handful of narrow projections + one
posexplode — no shuffle at all. Each relation is one ``spark.sql``
statement, so building the five costs a few driver round trips instead
of one per Column-API call. The five relations are written as
concurrent jobs (``store_dirs.write_parquet_concurrently``), so a store
write costs the longest relation's job, not the sum of five; each output
table can be written partitioned/bucketed by object_id. The store's
schema is fixed here (``STORE_SCHEMAS``), so opening a store reads with
declared schemas and launches no schema-inference job.
"""

from __future__ import annotations

from dataclasses import dataclass, fields

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.sources.store_dirs import write_parquet_concurrently


@dataclass
class ShreddedTables:
    plans: DataFrame
    plan_services: DataFrame
    services: DataFrame
    member_cost_shares: DataFrame
    edges: DataFrame

    def as_dict(self) -> dict[str, DataFrame]:
        return {f.name: getattr(self, f.name) for f in fields(self)}


# The schema (DDL) of every relation :func:`shred` produces, in
# ShreddedTables field order. Store readers declare it instead of
# inferring it from the Parquet footers (one Spark job per relation);
# tests/test_ingest.py pins it to what Spark infers from each layout.
STORE_SCHEMAS: dict[str, str] = {
    "plans": "object_id STRING, org STRING, plan_type STRING, creation_date STRING",
    "plan_services": "object_id STRING, org STRING",
    "services": "object_id STRING, org STRING, name STRING",
    "member_cost_shares": "object_id STRING, org STRING, deductible BIGINT, copay BIGINT",
    "edges": "parent_type STRING, parent_id STRING, field STRING, ord INT, "
    "child_type STRING, child_id STRING",
}


# ``linkedPlanServices`` elements with their ordinal
_LPS = """
SELECT * FROM (
  SELECT d.objectId AS plan_id, posexplode_outer(d.linkedPlanServices) AS (ord, ps)
  FROM {docs})
WHERE ps IS NOT NULL"""

# One statement per relation. Sparse patch documents may omit child
# objects entirely: a null object or child id is "field not present", not
# a row or an edge. The null filters sit above the projections, so the
# filtered columns come out non-nullable.
_SQL = {
    "plans": """
SELECT d.objectId AS object_id, d._org AS org, d.planType AS plan_type,
       d.creationDate AS creation_date
FROM {docs}""",
    "plan_services": """
SELECT * FROM (SELECT ps.objectId AS object_id, ps._org AS org FROM {lps})
WHERE object_id IS NOT NULL""",
    "services": """
SELECT * FROM (
  SELECT ps.linkedService.objectId AS object_id, ps.linkedService._org AS org,
         ps.linkedService.name AS name
  FROM {lps})
WHERE object_id IS NOT NULL""",
    "member_cost_shares": """
SELECT * FROM (
  SELECT cs.objectId AS object_id, cs._org AS org, cs.deductible AS deductible,
         cs.copay AS copay
  FROM (SELECT d.planCostShares AS cs FROM {docs}
        UNION ALL
        SELECT ps.planserviceCostShares AS cs FROM {lps}))
WHERE object_id IS NOT NULL""",
    "edges": """
SELECT * FROM (
  SELECT 'plan' AS parent_type, d.objectId AS parent_id, 'planCostShares' AS field,
         0 AS ord, 'membercostshare' AS child_type, d.planCostShares.objectId AS child_id
  FROM {docs}
  UNION ALL
  SELECT 'plan', plan_id, 'linkedPlanServices', ord, 'planservice', ps.objectId FROM {lps}
  UNION ALL
  SELECT 'planservice', ps.objectId, 'linkedService', 0, 'service', ps.linkedService.objectId
  FROM {lps}
  UNION ALL
  SELECT 'planservice', ps.objectId, 'planserviceCostShares', 0, 'membercostshare',
         ps.planserviceCostShares.objectId
  FROM {lps})
WHERE child_id IS NOT NULL""",
}


def shred(docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Normalize parsed plan docs (struct column) into per-type tables."""
    spark = docs.sparkSession
    docs = docs.select(F.col(doc_col).alias("d"))
    lps = spark.sql(_LPS, docs=docs)
    return ShreddedTables(
        **{name: spark.sql(text, docs=docs, lps=lps) for name, text in _SQL.items()}
    )


def write_tables(tables: ShreddedTables, out_dir: str) -> None:
    """Materialize the shredded store as Parquet (the Redis replacement),
    one concurrent job per relation."""
    write_parquet_concurrently(
        [(df, f"{out_dir}/{name}.parquet") for name, df in tables.as_dict().items()]
    )


def read_tables(spark, out_dir: str) -> ShreddedTables:
    """Open a store written by :func:`write_tables`; launches no job."""
    return ShreddedTables(
        **{
            name: spark.read.schema(schema).parquet(f"{out_dir}/{name}.parquet")
            for name, schema in STORE_SCHEMAS.items()
        }
    )
