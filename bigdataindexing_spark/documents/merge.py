"""Merge/patch semantics over the shredded store.

Spark-native equivalent of the reference's JSON merge
(PlanService.java:218–261) with the §4.2-6 bug fixed (a patch element whose
objectId is absent from the saved array must APPEND, never remove the last
element — contract pinned in tests/test_documents.py):

- scalar field: patch non-null overwrites, absent (null) keeps current
  (PlanService.java:254; "absent keys untouched" :228–229);
- nested object: field-wise merge by objectId; a different objectId
  repoints the relation edge to the new child (PlanService.java:231–239);
- array: upsert by element objectId — existing elements keep their stored
  order, patched fields merge, new ids append after the current maximum
  ordinal (PlanService.java:240–252, fixed semantics).

Everything is joins + coalesce: no cascade delete/rewrite of the whole
tree (the reference's updatePlan deletes and re-inserts everything,
PlanService.java:202–215 — write amplification we deliberately avoid for
PATCH). True PUT semantics — absent fields must vanish — is
:func:`replace`: cascade delete of the replaced roots + save.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdataindexing_spark.documents.delete import cascade_delete
from bigdataindexing_spark.documents.shred import ShreddedTables, shred


def replace(
    current: ShreddedTables, replacement_docs: DataFrame, doc_col: str = "doc"
) -> ShreddedTables:
    """Full-replace (PUT) semantics: cascade delete of the replaced roots,
    then save.

    The reference's ``updatePlan`` deletes the stored plan tree and saves
    the request body (PlanService.java:202–215); the defining consequence
    is that fields and children ABSENT from the replacement document
    VANISH — unlike :func:`merge`, which keeps them. The replacement's
    root ids (a request-sized batch) are collected and the delete closure
    is taken once, against the snapshot passed in; nothing is written
    before ``write_tables``, so readers still never see the half-deleted
    intermediate state the reference's two-step delete-then-reinsert
    exposes (§4.2-3).
    """
    roots = {
        i for (i,) in replacement_docs.select(F.col(doc_col).getField("objectId")).collect()
    }
    pruned = cascade_delete(current, sorted(roots - {None}))
    saved = shred(replacement_docs, doc_col).as_dict()
    return ShreddedTables(
        **{name: df.unionByName(saved[name]) for name, df in pruned.as_dict().items()}
    )


def _upsert(current: DataFrame, patch: DataFrame) -> DataFrame:
    """Row-level upsert by object_id with field-level coalesce (patch
    wins where set)."""
    fields = [x for x in current.columns if x != "object_id"]
    cols = "".join(f", coalesce(p.{x}, c.{x}) AS {x}" for x in fields)
    return current.sparkSession.sql(
        f"SELECT object_id{cols} FROM {{current}} c FULL OUTER JOIN {{patch}} p USING (object_id)",
        current=current,
        patch=patch,
    )


# Single-object fields: a patch edge replaces the current edge of the same
# (parent_type, parent_id, field). The array field: existing children keep
# their ordinal; new children append after the current max ordinal, in
# patch order. Only the patched parents' current array edges are read (a
# broadcast semi-join on the patch's parent ids); one GROUP BY over them
# and the patch's array edges yields each parent's max ordinal, current
# children and patch children.
_EDGES = """
WITH pat_single AS (SELECT * FROM {pat} WHERE field != 'linkedPlanServices'),
pat_arr AS (SELECT * FROM {pat} WHERE field = 'linkedPlanServices'),
per_parent AS (
  SELECT parent_id,
         max(CASE WHEN NOT is_new THEN ord END) AS max_ord,
         collect_set(CASE WHEN NOT is_new THEN child_id END) AS cur,
         array_sort(collect_list(CASE WHEN is_new THEN struct(ord, child_id) END)) AS new
  FROM (SELECT /*+ BROADCAST(k) */ parent_id, ord, child_id, false AS is_new
        FROM (SELECT * FROM {cur} WHERE field = 'linkedPlanServices')
        LEFT SEMI JOIN (SELECT parent_id FROM pat_arr) k USING (parent_id)
        UNION ALL
        SELECT parent_id, ord, child_id, true AS is_new FROM pat_arr)
  GROUP BY parent_id)
SELECT /*+ BROADCAST(k) */ *
FROM (SELECT * FROM {cur} WHERE field != 'linkedPlanServices')
LEFT ANTI JOIN (SELECT parent_type, parent_id, field FROM pat_single) k
  USING (parent_type, parent_id, field)
UNION ALL
SELECT * FROM pat_single
UNION ALL
SELECT * FROM {cur} WHERE field = 'linkedPlanServices'
UNION ALL
SELECT 'plan', parent_id, 'linkedPlanServices', coalesce(max_ord, -1) + i + 1, 'planservice',
       e.child_id
FROM per_parent
LATERAL VIEW posexplode(filter(new, x -> NOT array_contains(cur, x.child_id))) t AS i, e"""


def merge(current: ShreddedTables, patch_docs: DataFrame, doc_col: str = "doc") -> ShreddedTables:
    """Apply patch documents (parsed PLAN_SCHEMA structs, sparse fields)
    to the current shredded store; returns the merged store."""
    p = shred(patch_docs, doc_col)
    return ShreddedTables(
        plans=_upsert(current.plans, p.plans),
        plan_services=_upsert(current.plan_services, p.plan_services),
        services=_upsert(current.services, p.services),
        member_cost_shares=_upsert(current.member_cost_shares, p.member_cost_shares),
        edges=current.edges.sparkSession.sql(_EDGES, cur=current.edges, pat=p.edges),
    )
