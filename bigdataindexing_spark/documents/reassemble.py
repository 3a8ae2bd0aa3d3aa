"""Reassemble shredded relations back into nested plan documents.

Spark-native equivalent of the reference's recursive point-read
(PlanService.java:87–133): where the reference does a KEYS glob plus one
Redis GET per nested object (N+1 round-trips), we run one DataFrame DAG —
equi-joins against the ``edges`` relation, children aggregated with
``collect_list(struct(ord, ...))`` and re-ordered by the stored ordinal,
then re-nested with ``named_struct``. The DAG is one ``spark.sql``
statement, a few driver round trips to build where the Column API made
hundreds. It runs a fixed number of joins and one aggregation, however
many documents the store holds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from bigdataindexing_spark.documents.shred import ShreddedTables

# (object_id, doc). Field order matches PLAN_SCHEMA exactly, so
# ``to_json(doc)`` is a canonical rendering (schema order is struct order).
_SQL = """
WITH cs AS (
  SELECT object_id AS cs_id,
         named_struct('objectId', object_id, 'objectType', 'membercostshare', '_org', org,
                      'deductible', deductible, 'copay', copay) AS cs
  FROM {member_cost_shares}),
ps_doc AS (
  SELECT ps_id,
         named_struct('objectId', ps_id, 'objectType', 'planservice', '_org', org,
                      'linkedService', linkedService,
                      'planserviceCostShares', planserviceCostShares) AS ps_doc
  FROM (SELECT object_id AS ps_id, org FROM {plan_services})
  LEFT JOIN (SELECT parent_id AS ps_id, child_id AS svc_id FROM {edges}
             WHERE field = 'linkedService') USING (ps_id)
  LEFT JOIN (SELECT object_id AS svc_id,
                    named_struct('objectId', object_id, 'objectType', 'service',
                                 '_org', org, 'name', name) AS linkedService
             FROM {services}) USING (svc_id)
  LEFT JOIN (SELECT parent_id AS ps_id, child_id AS cs_id FROM {edges}
             WHERE field = 'planserviceCostShares') USING (ps_id)
  LEFT JOIN (SELECT cs_id, cs AS planserviceCostShares FROM cs) USING (cs_id)),
lps AS (
  -- children gathered per plan, re-ordered by the stored ordinal
  SELECT plan_id AS object_id,
         transform(array_sort(collect_list(struct(ord, ps_doc))), x -> x.ps_doc)
           AS linkedPlanServices
  FROM (SELECT parent_id AS plan_id, ord, child_id AS ps_id FROM {edges}
        WHERE field = 'linkedPlanServices')
  JOIN ps_doc USING (ps_id)
  GROUP BY plan_id)
SELECT object_id,
       named_struct(
         'objectId', object_id, 'objectType', 'plan', '_org', org,
         'planType', plan_type, 'creationDate', creation_date,
         'planCostShares', planCostShares,
         'linkedPlanServices', coalesce(linkedPlanServices, CAST(array() AS
           array<struct<objectId:string,objectType:string,_org:string,
                        linkedService:struct<objectId:string,objectType:string,
                                             _org:string,name:string>,
                        planserviceCostShares:struct<objectId:string,objectType:string,
                                                     _org:string,deductible:bigint,
                                                     copay:bigint>>>))) AS doc
FROM (SELECT object_id, org, plan_type, creation_date FROM {plans})
LEFT JOIN (SELECT parent_id AS plan_id, child_id AS cs_id FROM {edges}
           WHERE field = 'planCostShares' AND parent_type = 'plan') ON object_id = plan_id
LEFT JOIN (SELECT cs_id, cs AS planCostShares FROM cs) USING (cs_id)
LEFT JOIN lps USING (object_id)"""


def reassemble(t: ShreddedTables) -> DataFrame:
    """(object_id, doc) — one nested plan document per plans row."""
    return t.plans.sparkSession.sql(_SQL, **t.as_dict())
