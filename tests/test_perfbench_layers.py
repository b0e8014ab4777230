"""The layer tables of `perfbench/workloads.py` still match the code.

`perfbench/run.py --trace 1` replaces each layer's public function, named by
(module, attr), with a wrapper that labels its Spark jobs. A refactor that
renames such a function, or stops calling it through that module, breaks the
traced run without failing anything else. These tests resolve every entry
the way `perfbench/spans.py` `Tracer.wrap` does, and run one unit of each
workload at small sizes to check that every entry is called on its path.
"""

from __future__ import annotations

import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_workloads():
    spec = importlib.util.spec_from_file_location(
        "perfbench_workloads", os.path.join(ROOT, "perfbench", "workloads.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


workloads = _load_workloads()
ENTRIES = [
    (w.name, layer, module, attr)
    for w in workloads.WORKLOADS.values()
    for layer, module, attr in w.layers
]


def resolve(module: str, attr: str):
    """(owner, name) of `module.attr`, as Tracer.wrap walks it."""
    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for part in path:
        owner = getattr(owner, part)
    return owner, name


@pytest.mark.parametrize("workload,layer,module,attr", ENTRIES)
def test_layer_entry_resolves(spark, workload, layer, module, attr):
    # under the spark fixture: cortex_spark.briefing builds Columns at import
    owner, name = resolve(module, attr)
    assert callable(getattr(owner, name))


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_layer_entries_are_called_by_a_unit(spark, tmp_path, monkeypatch, name):
    # BASE_PAGES stays: below it the agent owns no pattern node, and the
    # briefing skips its pattern section, the path of the `graph` layer
    for const, value in (("BUILD_PAGES", 60), ("FRESH_PAGES", 4)):
        monkeypatch.setattr(workloads, const, value)
    wl = workloads.WORKLOADS[name]
    calls = {(module, attr): 0 for _, module, attr in wl.layers}
    for _, module, attr in wl.layers:
        owner, fn_name = resolve(module, attr)
        fn = getattr(owner, fn_name)

        def counted(*args, _key=(module, attr), _fn=fn, **kwargs):
            calls[_key] += 1
            return _fn(*args, **kwargs)

        monkeypatch.setattr(owner, fn_name, counted)

    unit = wl(spark, str(tmp_path), seed=0)
    unit.setup()
    unit.unit(0)
    unit.after_unit(0)
    assert [key for key, n in calls.items() if n == 0] == []
