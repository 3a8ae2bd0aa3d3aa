"""Cascade delete over the shredded store.

Spark-native equivalent of the reference's recursive delete
(PlanService.java:135–200). The victim closure is computed once, by
traversing the ``edges`` relation (fixed 3-level hierarchy ⇒ 2 hops, no
KEYS glob over the keyspace, PlanService.java:161): the roots are a
driver-side id list and a delete batch is request-sized, so each hop is
one ``edges`` scan filtered by the frontier held as a literal id set.
Every relation is then pruned by a literal-set filter — no join, and no
per-relation recomputation of the closure. Nothing is written before
``write_tables``, so readers never observe a half-deleted tree (the
reference's delete-then-reinsert update is not atomic, §4.2-3).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.utils import get_lit_sql_str

from bigdataindexing_spark.documents.shred import ShreddedTables

HOPS = 2  # plan → planservice, membercostshare → service, membercostshare


def _in(ids_by_type: dict[str, set[str]], id_col: str, type_col: str | None = None) -> Column:
    """(type, id) ∈ the literal id sets, FALSE (never NULL) for a NULL
    key, so ``~`` of it keeps every row a left-anti join keeps. Built as
    SQL text: one driver round trip however many ids, where
    ``Column.isin`` makes one per id."""
    terms = []
    for obj_type, ids in sorted(ids_by_type.items()):
        if ids:
            term = f"{id_col} IN ({', '.join(map(get_lit_sql_str, sorted(ids)))})"
            if type_col is not None:
                term = f"{type_col} = {get_lit_sql_str(obj_type)} AND {term}"
            terms.append(f"({term})")
    return F.expr(f"coalesce({' OR '.join(terms) or 'false'}, false)")


def cascade_delete(t: ShreddedTables, plan_ids: list[str]) -> ShreddedTables:
    """Remove the given plans and their full object closure."""
    frontier = {"plan": set(plan_ids)}
    victims = {"plan": set(plan_ids)}
    for _ in range(HOPS):
        rows = (
            t.edges.filter(_in(frontier, "parent_id", "parent_type"))
            .select("child_type", "child_id")
            .collect()
        )
        frontier = {}
        for child_type, child_id in rows:
            if child_type is not None and child_id is not None:
                frontier.setdefault(child_type, set()).add(child_id)
                victims.setdefault(child_type, set()).add(child_id)

    def prune(df, obj_type: str):
        return df.filter(~_in({obj_type: victims.get(obj_type, set())}, "object_id"))

    return ShreddedTables(
        plans=prune(t.plans, "plan"),
        plan_services=prune(t.plan_services, "planservice"),
        services=prune(t.services, "service"),
        member_cost_shares=prune(t.member_cost_shares, "membercostshare"),
        edges=t.edges.filter(~_in(victims, "parent_id", "parent_type")),
    )
