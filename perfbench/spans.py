"""Layer spans for the traced run, recorded from outside the program.

`Tracer.wrap` replaces a layer's public function (a module attribute or a
class method) with a wrapper that

- labels the Spark jobs it starts with the job group of the current unit and
  that layer, restoring the caller's group on return, so a nested layer's
  jobs count for the nested layer only;
- forces a lazy DataFrame result at the call boundary (eager local
  checkpoint plus a count), so the layer's work runs inside its own group;
- adds the forced row count to the layer's `rows_out`.

The untraced run patches nothing. Forcing changes plans at the boundaries:
that cost is part of the tracing overhead the traced run reports.
"""

from __future__ import annotations

import importlib
from collections import defaultdict

from pyspark.sql import DataFrame

from eventlog import group_id


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.unit = -1
        self.stack: list[str] = []
        self.rows: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))

    def _set_group(self, layer: str) -> None:
        self.sc.setJobGroup(group_id(self.unit, layer), layer)

    def begin_unit(self, unit: int, residual: str) -> None:
        self.unit = unit
        self.stack = [residual]
        self._set_group(residual)

    def end_unit(self) -> None:
        self.stack = []
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _force(self, layer: str, value):
        if isinstance(value, DataFrame):
            value = value.localCheckpoint(eager=True)
            self.rows[self.unit][layer] += value.count()
            return value
        if isinstance(value, tuple):
            return tuple(self._force(layer, v) for v in value)
        return value

    def call(self, layer: str, fn, *args, **kwargs):
        """Run `fn` as one span of `layer` within the current unit."""
        if not self.stack:  # outside a unit (setup): no span
            return fn(*args, **kwargs)
        self.stack.append(layer)
        self._set_group(layer)
        try:
            return self._force(layer, fn(*args, **kwargs))
        finally:
            self.stack.pop()
            self._set_group(self.stack[-1])

    def wrap(self, layer: str, module: str, attr: str) -> None:
        """Route every call of `module.attr` (`attr` may be `Class.method`)
        through `call`."""
        owner = importlib.import_module(module)
        *path, name = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        fn = getattr(owner, name)
        tracer = self

        def traced(*args, **kwargs):
            return tracer.call(layer, fn, *args, **kwargs)

        setattr(owner, name, traced)
