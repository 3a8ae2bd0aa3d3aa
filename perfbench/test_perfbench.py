"""The benchmark's own tests: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
from workloads import WORKLOADS, DocWrite, SearchServe  # noqa: E402


def _read_all(path: str) -> dict[str, bytes]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for n in files:
            p = os.path.join(root, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = f.read()
    return out


def test_same_seed_gives_identical_tables(tmp_path):
    a = gen.write_tables(str(tmp_path / "a"))
    b = gen.write_tables(str(tmp_path / "b"))
    assert _read_all(a) == _read_all(b)
    assert sorted(n for n in os.listdir(a) if n.endswith(".parquet")) == sorted(
        f"{t}.parquet" for t in gen.TABLE_ROWS
    )


@pytest.mark.parametrize("cls", [DocWrite, SearchServe])
def test_same_seed_gives_identical_documents(tmp_path, cls):
    sf = str(tmp_path / "sf")
    runs = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        work = str(tmp_path / tag)
        cls(seed, sf, work)
        runs[tag] = _read_all(work)
    assert runs["a"] == runs["b"]
    assert runs["a"] != runs["c"]


def test_generated_documents_hold_the_declared_mix():
    bodies, valid = gen.plan_bodies("t", 2000, random.Random(3))
    invalid = len(bodies) - len(valid)
    assert 10 <= invalid <= 80  # about 2%
    sizes = {len(d["linkedPlanServices"]) for d in valid.values()}
    assert sizes == set(range(7))
    ids = [o["objectId"] for d in valid.values() for o in
           [d, d["planCostShares"]] + d["linkedPlanServices"]]
    assert len(ids) == len(set(ids))


def test_patches_follow_the_merge_contract():
    """apply_patch, the Python reference the doc_write check compares the
    engine's merge against: scalar overwrite, field merge, array append
    and array element update by objectId."""
    rng = random.Random(5)
    doc = gen.make_plan("k", rng)
    oid, before = doc["objectId"], json.loads(json.dumps(doc))
    gen.apply_patch(doc, {"objectId": oid, "planType": "zzz"})
    assert doc["planType"] == "zzz" and doc["planCostShares"] == before["planCostShares"]
    cs = doc["planCostShares"]
    gen.apply_patch(doc, {"objectId": oid, "planCostShares": {"objectId": cs["objectId"], "copay": 7}})
    assert cs["copay"] == 7 and cs["deductible"] == before["planCostShares"]["deductible"]
    n = len(doc["linkedPlanServices"])
    gen.apply_patch(doc, {"objectId": oid,
                          "linkedPlanServices": [gen._service("k-new", doc["_org"], rng)]})
    assert len(doc["linkedPlanServices"]) == n + 1
    ps = doc["linkedPlanServices"][-1]
    assert ps["objectId"] == "ps-k-new"
    gen.apply_patch(doc, {"objectId": oid, "linkedPlanServices": [{
        "objectId": ps["objectId"],
        "planserviceCostShares": {"objectId": ps["planserviceCostShares"]["objectId"], "copay": 9}}]})
    assert len(doc["linkedPlanServices"]) == n + 1
    assert ps["planserviceCostShares"]["copay"] == 9 and ps["linkedService"]["name"]


def test_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == spans.per_layer_names()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    e2e = {n for n, _ in run.END_TO_END}
    for name, _unit in spans.per_layer_names():
        for metric, workload in spans.target(name):
            assert metric in e2e and workload in WORKLOADS, name


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits nonzero without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert not p.stdout.strip()


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    tmp = str(tmp_path_factory.mktemp("spark"))
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    from bigdataindexing_spark.session import get_spark

    s = get_spark(cpus=2)
    yield s, tmp
    s.stop()


def test_traced_run_attributes_every_job(spark):
    """Per-layer jobs sum to the jobs Spark handed out during the loop,
    including write_index's jobs, which run on helper threads outside the
    op's job group."""
    from pyspark.sql import functions as F

    from bigdataindexing_spark.index import build

    s, tmp = spark
    runner = spans.Runner(s, True, tmp)
    docs = s.range(300).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a"), (F.col("id") % 7).cast("string")).alias("text"),
    )

    def index(ctx):
        ctx.call("index.build", build.write_index, docs, os.path.join(tmp, "idx"))

    def count(ctx):
        return ctx.collect("documents.reassemble", docs.groupBy("text").count())

    first = runner.next_job_id()
    runner.op("index.build", "write_index", index)
    runner.op("documents.reassemble", "count", count)
    total = runner.next_job_id() - first
    m = runner.layer_metrics({1, 2}, 0.0, 1.0, {})
    layer_jobs = sum(v for k, v in m.items() if k.endswith(".jobs") and k != "scheduler.jobs")
    assert layer_jobs == m["scheduler.jobs"] == total > 0
    assert m["index.build.jobs"] >= 2
    op1 = next(sp for sp in runner.spans if sp.kind == "op" and sp.op_id == 1)
    groups = {runner.jobs[j]["group"] for j in range(op1.job_lo, op1.job_hi)}
    assert groups != {"op-1"}, "write_index's thread jobs run outside the op's group"
    assert m["catalyst.optimization_ms"] >= 0 and m["documents.reassemble.build_ms"] == 0
