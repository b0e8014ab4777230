"""The store's JSON metadata is replaced atomically.

Stage manifests, the incremental cursor and the LSH index meta all go
through `write_json_atomic`. A write that dies partway (a kill, a full
disk) must leave the previous file intact and loadable, so that
`LshIndexStore.open`, `read_meta` and checkpoint resume keep working.
"""

from __future__ import annotations

import json
import os
from datetime import datetime

import pytest

from cortex_spark.io import write_json_atomic
from cortex_spark.linker.index import LshIndexStore
from cortex_spark.pipeline import incremental
from cortex_spark.pipeline.checkpoint import CheckpointStore


def _torn_dump(obj, fh, **kw):
    fh.write('{"torn": ')
    fh.flush()
    raise OSError("disk full")


@pytest.fixture()
def torn(monkeypatch):
    """Call to make every later json.dump write half a document and raise."""
    return lambda: monkeypatch.setattr(json, "dump", _torn_dump)


def test_helper_keeps_previous_file(tmp_path, torn):
    path = tmp_path / "meta.json"
    write_json_atomic(str(path), {"v": 1}, indent=1)
    torn()
    with pytest.raises(OSError, match="disk full"):
        write_json_atomic(str(path), {"v": 2}, indent=1)
    assert json.loads(path.read_text()) == {"v": 1}
    assert os.listdir(tmp_path) == ["meta.json"]  # no temp file left behind


def test_index_meta_survives_torn_write(tmp_path, torn):
    store = LshIndexStore(str(tmp_path / "lsh"), spark=None, dim=4)
    meta = {"rows_indexed": 3, "appends": [3], "params": {"dim": 4, "n_planes": 16, "bands": 8, "seed": 7}}
    store._write_meta(meta)
    torn()
    with pytest.raises(OSError):
        store._write_meta({**meta, "rows_indexed": 5})
    assert store.meta() == meta
    assert LshIndexStore.open(store.path, spark=None).dim == 4


def test_cycle_cursor_survives_torn_write(tmp_path, torn):
    path = str(tmp_path / "cycle" / "_meta.json")
    incremental._write_meta(path, datetime(2026, 5, 1), 1, "h", {"cycle": 1})
    torn()
    with pytest.raises(OSError):
        incremental._write_meta(path, datetime(2026, 5, 2), 2, "h", {"cycle": 2})
    assert incremental.read_meta(path)["cycle"] == 1


def test_stage_manifest_survives_torn_write(spark, tmp_path, torn):
    store = CheckpointStore(str(tmp_path / "out"), spark)
    _, first = store.load_or_run("nodes", "h1", lambda: spark.range(3))
    assert not first.resumed
    torn()
    with pytest.raises(OSError):
        store.refresh_manifest("nodes")
    assert store.read_manifest("nodes")["rows"] == 3
    _, again = store.load_or_run("nodes", "h1", lambda: spark.range(5))
    assert again.resumed and again.rows == 3
