"""Seeded input generators for the benchmark.

Two kinds of input:

- ``write_tables``: the ten sf0.1-shaped Parquet tables the registry
  queries read (TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``), with the schemas and value domains of FIXTURES.md. They
  are a fixed scale point, generated from ``TABLE_SEED`` and cached in the
  checkout, so every workload seed runs against the same relations.
- ``plan_bodies`` / ``make_patch``: the per-seed plan documents
  (usecase.json shape) and patches the workloads ingest and apply, and
  ``apply_patch``, the merge contract over Python dicts that the
  doc_write check compares against.

Everything here is pure Python/numpy/pyarrow: the same seed gives
byte-identical files and lists.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SF = 0.1
EMBED_DIM = 64
EMBED_LABELS = 10
TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": int(150_000 * SF),
    "supplier": int(10_000 * SF),
    "part": int(200_000 * SF),
    "orders": int(1_500_000 * SF),
    "lineitem": int(6_000_000 * SF),
    "events": int(1_000_000 * SF),
    "documents": int(50_000 * SF),
    "embeddings": int(20_000 * SF),
}

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_EPOCH = dt.datetime(1970, 1, 1)


def _micros(d: dt.datetime) -> int:
    return int((d - _EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> pa.Array:
    """Midnight timestamps drawn uniformly from [lo, hi]."""
    span = (hi - lo).days
    us = _micros(lo) + rng.integers(0, span + 1, n) * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keys(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def build_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    rows = TABLE_ROWS
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    n = rows["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": _keys("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    })
    n = rows["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": _keys("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = rows["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": _pick(rng, names, n),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n),
        "p_type": _pick(rng, _PTYPES, n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) / 10, 1),
    })
    n = rows["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, rows["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _days(rng, n, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n),
    })
    n = rows["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, rows["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, rows["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, rows["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n), 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n),
        "l_linestatus": _pick(rng, ("F", "O"), n),
        "l_shipdate": _days(rng, n, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4)),
    })
    n = rows["events"]
    gaps = rng.exponential(25.9e6, n).astype(np.int64)  # ~30 days of events
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(_micros(dt.datetime(2024, 1, 1)) + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words texts over a 30-word vocabulary; ~5% are near
    duplicates (an earlier text plus a marker word) so the dedup
    operators have candidate pairs to find."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors clustered around one centre per label."""
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    label = rng.integers(0, EMBED_LABELS, n)
    vec = centres[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir: str) -> str:
    """Write the ten tables under ``out_dir/sf0.1-<TABLE_SEED>-<generator hash>``
    once; later calls reuse the directory. Returns the table directory."""
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    sf_dir = os.path.join(out_dir, f"sf{SF}-{TABLE_SEED}-{version}")
    done = os.path.join(sf_dir, "_COMPLETE")
    if os.path.exists(done):
        return sf_dir
    tmp = f"{sf_dir}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in build_tables().items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"),
                       compression="snappy", row_group_size=tbl.num_rows)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    os.replace(tmp, sf_dir)
    return sf_dir


# --- plan documents (usecase.json shape) ---------------------------------

ORGS = ("example.com", "acme.com", "globex.org", "initech.net", "umbrella.io")
_PLAN_TYPES = ("inNetwork", "outOfNetwork")
_DEDUCTIBLES = (0, 10, 1000, 2000)
SERVICE_NAMES = ("Yearly physical", "well baby", "Dental checkup", "X ray", "MRI scan")
# invalid kinds of FIXTURES.md: a missing required root field, a missing
# nested required field, a type violation, and a body that is not JSON
# share of generated bodies that are invalid; an assumed rate, not a
# measured one
INVALID_RATE = 0.02
INVALID_KINDS = ("missing_root", "missing_nested", "type_violation", "malformed")
_ROOT_REQUIRED = ("objectId", "objectType", "_org", "planType", "creationDate",
                  "planCostShares")


def _cost_share(oid: str, org: str, rng: random.Random) -> dict:
    return {
        "objectId": oid,
        "objectType": "membercostshare",
        "_org": org,
        "deductible": rng.choice(_DEDUCTIBLES),
        "copay": rng.randrange(0, 201),
    }


def _service(key: str, org: str, rng: random.Random) -> dict:
    """One linkedPlanServices element; ``key`` makes its ids unique."""
    return {
        "objectId": f"ps-{key}",
        "objectType": "planservice",
        "_org": org,
        "linkedService": {
            "objectId": f"svc-{key}",
            "objectType": "service",
            "_org": org,
            "name": rng.choice(SERVICE_NAMES),
        },
        "planserviceCostShares": _cost_share(f"mcs-s{key}", org, rng),
    }


def make_plan(key: str, rng: random.Random) -> dict:
    """One valid plan with 0-6 linked services; every id derives from
    ``key`` so ids are unique across the stream."""
    org = rng.choice(ORGS)
    return {
        "objectId": f"plan-{key}",
        "objectType": "plan",
        "_org": org,
        "planType": rng.choice(_PLAN_TYPES),
        "creationDate": f"{rng.randrange(1, 29):02d}-{rng.randrange(1, 13):02d}-20{rng.randrange(10, 27)}",
        "planCostShares": _cost_share(f"mcs-p{key}", org, rng),
        "linkedPlanServices": [_service(f"{key}-{j}", org, rng) for j in range(rng.randrange(0, 7))],
    }


def invalid_body(key: str, rng: random.Random) -> str:
    """A body that validation must quarantine, of a seed-drawn kind."""
    kind = rng.choice(INVALID_KINDS)
    doc = make_plan(key, rng)
    if kind == "missing_root":
        del doc[rng.choice(_ROOT_REQUIRED)]
    elif kind == "missing_nested":
        doc["linkedPlanServices"].insert(0, _service(f"{key}-x", doc["_org"], rng))
        del doc["linkedPlanServices"][0]["linkedService"]["name"]
    elif kind == "type_violation":
        doc["planCostShares"]["copay"] = "not-a-number"
    else:
        return json.dumps(doc)[:-7]
    return json.dumps(doc)


def plan_bodies(prefix: str, n: int, rng: random.Random):
    """(bodies, valid docs): ``n`` JSON bodies, about ``INVALID_RATE`` of
    them invalid. Valid docs are returned parsed, keyed by objectId."""
    bodies: list[str] = []
    valid: dict[str, dict] = {}
    for i in range(n):
        key = f"{prefix}{i}"
        if rng.random() < INVALID_RATE:
            bodies.append(invalid_body(key, rng))
        else:
            doc = make_plan(key, rng)
            valid[doc["objectId"]] = doc
            bodies.append(json.dumps(doc))
    return bodies, valid


def make_patch(doc: dict, serial: int, rng: random.Random) -> dict:
    """A sparse patch of one FIXTURES.md kind against a stored plan:
    scalar overwrite, nested object field merge, array element update, or
    array append (``serial`` keeps appended ids unique)."""
    oid = doc["objectId"]
    kind = rng.randrange(4)
    if kind == 0:
        return {"objectId": oid, "planType": rng.choice(_PLAN_TYPES)}
    if kind == 1:
        return {"objectId": oid, "planCostShares": {
            "objectId": doc["planCostShares"]["objectId"], "copay": rng.randrange(0, 201)}}
    if kind == 2 and doc["linkedPlanServices"]:
        ps = rng.choice(doc["linkedPlanServices"])
        return {"objectId": oid, "linkedPlanServices": [{
            "objectId": ps["objectId"],
            "planserviceCostShares": {
                "objectId": ps["planserviceCostShares"]["objectId"],
                "copay": rng.randrange(0, 201)},
        }]}
    return {"objectId": oid, "linkedPlanServices": [
        _service(f"{oid[len('plan-'):]}-u{serial}", doc["_org"], rng)]}


def apply_patch(doc: dict, patch: dict) -> None:
    """The merge contract (documents/merge.py) over a Python dict: scalar
    overwrite, nested field merge by objectId, array upsert with append."""
    for k, v in patch.items():
        if k == "linkedPlanServices":
            current = {el["objectId"]: el for el in doc[k]}
            for el in v:
                if el["objectId"] in current:
                    tgt = current[el["objectId"]]
                    for f, fv in el.items():
                        if isinstance(fv, dict):
                            tgt[f].update(fv)
                        else:
                            tgt[f] = fv
                else:
                    doc[k].append(el)
        elif isinstance(v, dict):
            doc[k].update(v)
        else:
            doc[k] = v
