"""Table rewrites go through `io.publish_parquet`; stage manifests count rows
from parquet footers (`io.parquet_file_rows`).

- Every stage manifest of a `run_pipeline` build, of an unpartitioned and an
  empty stage, and after a CLI `node create` equals `_scan_lineage`: the
  earlier Spark aggregate over `input_file_name()`, kept as the oracle.
- A fresh `load_or_run` runs as many Spark jobs as the table write alone,
  and returns the frame a resumed one reads.
- A write that raises, or a rename that fails between publish's two
  renames, never costs the previous table; no manifest outlives the table
  it describes.
- The CLI's node and edge rewrites and `LshIndexStore.compact` write each
  table once.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime

import pytest
from pyspark.sql import DataFrame, DataFrameWriter
from pyspark.sql import functions as F

from cortex_spark import io
from cortex_spark.io import publish_parquet
from cortex_spark.pipeline.checkpoint import CheckpointStore

STAGES = {
    "nodes": "kind", "edges": "relation",
    "canonical_nodes": "kind", "canonical_edges": "relation",
}


def _scan_lineage(out: DataFrame, data_dir: str) -> list[dict]:
    """The earlier per-file lineage: parquet file → row count, by a Spark
    aggregate over the table."""

    def _local_path(uri: str) -> str:
        # input_file_name() yields file:/... or file:///... URIs
        if uri.startswith("file:"):
            uri = uri[len("file:") :]
            while uri.startswith("//"):
                uri = uri[1:]
        return uri

    return sorted(
        (
            {"file": os.path.relpath(_local_path(r["file"]), data_dir), "rows": r["rows"]}
            for r in out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        ),
        key=lambda e: e["file"],
    )


def _assert_manifest_matches_scan(spark, store: str, stage: str) -> dict:
    data_dir = os.path.join(store, stage, "data")
    man = CheckpointStore(store, spark).read_manifest(stage)
    want = _scan_lineage(spark.read.parquet(data_dir), data_dir)
    assert man["lineage"] == want, stage
    assert man["rows"] == man["metrics"]["rows"] == sum(e["rows"] for e in want)
    return man


def _run(capsys, *argv) -> dict:
    from cortex_spark.cli import main

    assert main(list(argv)) == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _rows(spark, path: str) -> list:
    return sorted(spark.read.parquet(path).drop("embedding").collect())


@pytest.fixture(scope="module")
def kg_store(spark, tmp_path_factory):
    from cortex_spark.corpus import synth_pages
    from cortex_spark.pipeline.run import PipelineConfig, run_pipeline

    out = str(tmp_path_factory.mktemp("publish") / "kg")
    run_pipeline(spark, synth_pages(spark, 40, seed=11, partitions=2), out,
                 PipelineConfig(embed_dim=32))
    return out


@pytest.fixture()
def store_copy(kg_store, tmp_path):
    """A private copy of the built store, for tests that mutate it."""
    out = str(tmp_path / "kg")
    shutil.copytree(kg_store, out)
    return out


def test_pipeline_manifests_match_the_scan(spark, kg_store):
    for stage, part in STAGES.items():
        man = _assert_manifest_matches_scan(spark, kg_store, stage)
        # partitioned tables: several files, each under its partition dir
        assert len(man["lineage"]) > 1
        assert all(e["file"].startswith(f"{part}=") for e in man["lineage"])


def test_unpartitioned_and_empty_stage_manifests(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "out"), spark)
    _, r = store.load_or_run("flat", "h", lambda: spark.range(0, 50, 1, 3))
    man = _assert_manifest_matches_scan(spark, store.root, "flat")
    assert r.rows == 50 and len(man["lineage"]) == 3
    assert all("/" not in e["file"] for e in man["lineage"])
    # an empty table still leaves a schema-only file; no entry lists it
    _, r = store.load_or_run("empty", "h", lambda: spark.range(0))
    assert any(f.endswith(".parquet") for f in os.listdir(f"{store.root}/empty/data"))
    assert r.rows == 0 and _assert_manifest_matches_scan(spark, store.root, "empty")["lineage"] == []


def test_refreshed_manifest_matches_the_scan(spark, store_copy, capsys):
    before = CheckpointStore(store_copy, spark).read_manifest("canonical_nodes")
    _run(capsys, "--store", store_copy, "node", "create",
         "--kind", "fact", "--title", "footer count", "--body", "one more")
    man = _assert_manifest_matches_scan(spark, store_copy, "canonical_nodes")
    assert man["rows"] == before["rows"] + 1
    assert man["config_hash"] == before["config_hash"]


def test_fresh_stage_runs_only_the_write(spark, tmp_path):
    """The manifest needs no Spark job: a fresh `load_or_run` runs as many
    jobs as writing its table to a plain path does."""
    sc = spark.sparkContext
    df = spark.range(0, 200, 1, 4).withColumn("kind", F.concat(F.lit("k"), F.col("id") % 3))

    def jobs(group: str, fn) -> int:
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    write = jobs("publish-plain-write", lambda: df.write.partitionBy("kind").parquet(
        str(tmp_path / "plain")))
    store = CheckpointStore(str(tmp_path / "out"), spark)
    stage = jobs("publish-load-or-run",
                 lambda: store.load_or_run("s", "h", lambda: df, partition_by=["kind"]))
    assert stage == write


def test_resumed_stage_runs_no_job(spark, tmp_path):
    """A resume reads the stage under the schema its manifest records: no
    schema-inference job."""
    sc = spark.sparkContext
    df = spark.range(0, 200, 1, 4).withColumn("kind", F.concat(F.lit("k"), F.col("id") % 3))
    store = CheckpointStore(str(tmp_path / "out"), spark)
    store.load_or_run("s", "h", lambda: df, partition_by=["kind"])
    sc.setJobGroup("publish-resume", "publish-resume")
    try:
        resumed, r = store.load_or_run("s", "h", lambda: df, partition_by=["kind"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert r.resumed
    assert sc.statusTracker().getJobIdsForGroup("publish-resume") == []
    assert resumed.schema["kind"].dataType.simpleString() == "string"


def test_manifest_without_schema_recomputes(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "out"), spark)
    store.load_or_run("s", "h", lambda: spark.range(3))
    man = store.read_manifest("s")
    del man["schema"]
    with open(store.manifest_path("s"), "w") as f:
        json.dump(man, f)
    _, r = store.load_or_run("s", "h", lambda: spark.range(5))
    assert not r.resumed and r.rows == 5


def test_fresh_stage_reads_back_as_a_resume_does(spark, tmp_path):
    """The frame a fresh stage returns has the schema and rows a resumed
    one reads, partition values that look numeric included."""
    store = CheckpointStore(str(tmp_path / "out"), spark)
    for part in ("kind", "digit"):
        df = spark.range(0, 30, 1, 2).select(
            "id", F.concat(F.lit("k"), F.col("id") % 3).alias("kind"),
            (F.col("id") % 2).cast("string").alias("digit"),
            F.create_map(F.lit("a"), F.col("id")).alias("m"),
        )
        fresh, r = store.load_or_run(part, "h", lambda: df, partition_by=[part])
        resumed, again = store.load_or_run(part, "h", lambda: df, partition_by=[part])
        assert not r.resumed and again.resumed
        assert fresh.schema == resumed.schema
        assert fresh.columns[-1] == part
        assert sorted(fresh.collect()) == sorted(resumed.collect())


class _Kill(Exception):
    pass


@pytest.fixture()
def kill_write(monkeypatch):
    """`kill_write(table, n)`: the n-th later `DataFrameWriter.parquet` call
    whose target starts with `table` (the table or a sibling copy of it)
    dies partway, as a killed overwrite does: its target is already cleared
    and holds nothing of the new table. Other calls write normally."""
    real = DataFrameWriter.parquet

    def arm(table: str, n: int):
        calls = []

        def parquet(self, path, *args, **kwargs):
            if str(path).startswith(table):
                calls.append(path)
                if len(calls) == n:
                    shutil.rmtree(path, ignore_errors=True)
                    raise _Kill(path)
            return real(self, path, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
        return calls

    return arm


@pytest.mark.parametrize("nth", [1, 2])
def test_killed_node_rewrite_keeps_the_table(spark, store_copy, kill_write, nth):
    nodes = f"{store_copy}/canonical_nodes/data"
    before = _rows(spark, nodes)
    victim = before[0]["node_id"]
    kill_write(nodes, nth)
    from cortex_spark.cli import main

    try:
        main(["--store", store_copy, "node", "delete", victim, "-y"])
    except _Kill:
        # the write died: the previous table is still there, whole
        assert _rows(spark, nodes) == before
    else:
        # the rewrite made fewer than `nth` writes and finished
        assert any(r["node_id"] == victim and r["deleted"] for r in _rows(spark, nodes))
    _assert_manifest_matches_scan(spark, store_copy, "canonical_nodes")


@pytest.mark.parametrize("nth", [1, 2])
def test_killed_compaction_keeps_the_index(spark, tmp_path, kill_write, nth):
    from cortex_spark.linker.index import LshIndexStore

    dim = 8
    rows = [(f"n{i}", [float((i * 7 + j) % 5) - 2.0 for j in range(dim)]) for i in range(30)]
    schema = "node_id string, embedding array<float>"
    idx = LshIndexStore(str(tmp_path / "lsh"), spark, dim=dim, n_planes=4, bands=2)
    idx.append(spark.createDataFrame(rows, schema))
    idx.append(spark.createDataFrame(rows[:10], schema))  # ten re-appended nodes
    before = _rows(spark, idx.data_dir)
    kill_write(idx.data_dir, nth)
    try:
        n = idx.compact()
    except _Kill:
        assert _rows(spark, idx.data_dir) == before
    else:
        after = _rows(spark, idx.data_dir)
        assert n == len(after) < len(before)
        assert {r["node_id"] for r in after} == {r["node_id"] for r in before}


def test_killed_stage_write_leaves_no_manifest(spark, tmp_path, kill_write, monkeypatch):
    store = CheckpointStore(str(tmp_path / "out"), spark)
    store.load_or_run("s", "h1", lambda: spark.range(3))
    kill_write(store.root, 1)
    with pytest.raises(_Kill):
        store.load_or_run("s", "h2", lambda: spark.range(5))
    assert store.read_manifest("s") is None
    monkeypatch.undo()

    # a kill after the table is published, before its manifest lands
    def killed_manifest(*args, **kwargs):
        raise _Kill("manifest")

    monkeypatch.setattr("cortex_spark.pipeline.checkpoint.write_json_atomic", killed_manifest)
    with pytest.raises(_Kill):
        store.load_or_run("s", "h1", lambda: spark.range(7))
    assert store.read_manifest("s") is None  # h1's 3 rows are not claimed
    monkeypatch.undo()
    _, r = store.load_or_run("s", "h1", lambda: spark.range(4))
    assert not r.resumed and r.rows == 4


@pytest.fixture()
def rename_dies_once(monkeypatch):
    """Once `armed` is set, the next `os.rename` of a `_tmp` table onto its
    live path fails: the kill lands between publish's two renames."""
    real = os.rename
    state = {"armed": False}

    def rename(src, dst):
        if state["armed"] and src.endswith("_tmp"):
            state["armed"] = False
            raise _Kill(src)
        return real(src, dst)

    monkeypatch.setattr(io.os, "rename", rename)
    return state


def test_next_publish_repairs_a_torn_swap(spark, tmp_path, rename_dies_once, monkeypatch):
    path = str(tmp_path / "t")
    publish_parquet(spark.range(3), path)
    rename_dies_once["armed"] = True
    with pytest.raises(_Kill):
        publish_parquet(spark.range(5), path)
    assert not os.path.exists(path) and os.path.isdir(f"{path}_old")
    # the next publish first puts the previous table back, so readers see
    # it while the new one is written
    seen = []
    real = DataFrameWriter.parquet

    def parquet(self, target, *args, **kwargs):
        seen.append(sorted(r["id"] for r in spark.read.parquet(path).collect()))
        return real(self, target, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    publish_parquet(spark.range(10, 12), path)
    assert seen == [[0, 1, 2]]
    assert sorted(r["id"] for r in spark.read.parquet(path).collect()) == [10, 11]
    assert sorted(os.listdir(tmp_path)) == ["t"]


def test_cli_rewrite_after_a_torn_swap(spark, store_copy, rename_dies_once, capsys):
    """A node delete dies between the renames; the next delete brings the
    previous table back and applies only itself."""
    nodes = f"{store_copy}/canonical_nodes/data"
    before = _rows(spark, nodes)
    a, b = before[0]["node_id"], before[1]["node_id"]
    from cortex_spark.cli import main

    rename_dies_once["armed"] = True
    with pytest.raises(_Kill):
        main(["--store", store_copy, "node", "delete", a, "-y"])
    assert not os.path.exists(nodes)
    _run(capsys, "--store", store_copy, "node", "delete", b, "-y")
    deleted = {r["node_id"] for r in _rows(spark, nodes) if r["deleted"]}
    assert b in deleted and a not in deleted
    assert len(_rows(spark, nodes)) == len(before)
    _assert_manifest_matches_scan(spark, store_copy, "canonical_nodes")


@pytest.fixture()
def writes(monkeypatch):
    """Every later `DataFrameWriter.parquet` target, in call order."""
    real = DataFrameWriter.parquet
    calls: list[str] = []

    def parquet(self, path, *args, **kwargs):
        calls.append(str(path))
        return real(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    return calls


def _bind_agent(spark, store: str) -> None:
    """An agent `kai` bound to a prompt `helper` by a `uses` edge."""
    from cortex_spark.prompt_graph import create_prompt
    from cortex_spark.schemas import EDGES, NODES

    nodes = spark.read.parquet(f"{store}/canonical_nodes/data")
    edges = spark.read.parquet(f"{store}/canonical_edges/data")
    now = datetime(2026, 1, 2)
    n2, _, pid = create_prompt(nodes, edges, "helper", {"role": "assistant"}, "tester", now)
    agent = spark.createDataFrame(
        [("agent-x", "agent", "kai", "", {}, [], None, "cli", None, "cli",
          0.5, 0, now, now, now, False)], NODES)
    n2.join(nodes.select("node_id"), "node_id", "left_anti").unionByName(agent).write.mode(
        "append").partitionBy("kind").parquet(f"{store}/canonical_nodes/data")
    spark.createDataFrame(
        [("agent-x-uses", "agent-x", pid, "uses", 1.0, ("manual", None, None), now, now)], EDGES
    ).write.mode("append").partitionBy("relation").parquet(f"{store}/canonical_edges/data")


def _table_writes(calls: list[str], table: str) -> int:
    return sum(os.path.abspath(c).startswith(os.path.abspath(table)) for c in calls)


def test_each_rewrite_writes_its_table_once(spark, store_copy, tmp_path, writes, capsys):
    from cortex_spark.linker.index import LshIndexStore

    nodes, edges = f"{store_copy}/canonical_nodes/data", f"{store_copy}/canonical_edges/data"
    victim = spark.read.parquet(nodes).select("node_id").first()[0]
    _run(capsys, "--store", store_copy, "node", "delete", victim, "-y")
    assert _table_writes(writes, nodes) == 1

    _bind_agent(spark, store_copy)
    writes.clear()
    # re-binding an existing binding rewrites its weight in the edge table
    out = _run(capsys, "--store", store_copy, "agent", "bind", "kai", "helper", "--weight", "0.3")
    assert out["weight"] == 0.3
    assert _table_writes(writes, edges) == 1
    w = spark.read.parquet(edges).filter(F.col("edge_id") == "agent-x-uses").first()["weight"]
    assert w == pytest.approx(0.3)

    idx = LshIndexStore(str(tmp_path / "lsh"), spark, dim=32)
    live = spark.read.parquet(nodes)
    idx.append(live)
    idx.append(live.limit(5))
    writes.clear()
    idx.compact()
    assert _table_writes(writes, idx.data_dir) == 1
