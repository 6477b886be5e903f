"""Spans around the calls into each layer, kept in memory.

Only traced runs (``--trace 1``) create a Tracer; untraced runs patch
nothing. A span is a dict with ``id``, ``name``, ``start``, ``end``,
``parent`` (the enclosing span's id), ``op`` (the operation id) and,
for work replayed in the driver after the operation, ``replayed``.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
from contextlib import contextmanager

PACKAGE = "columnar_format_spark"


def _arrow_bytes(arrays) -> int:
    return sum(a.nbytes for a in arrays)


def _decoded(_args, _kwargs, result) -> dict:
    arrays = list(result.values())
    return {"rows": len(arrays[0]) if arrays else 0,
            "bytes": _arrow_bytes(arrays)}


def _encoded(args, kwargs, _result) -> dict:
    columns = args[2] if len(args) > 2 else kwargs["columns"]
    return {"bytes": sum(_arrow_bytes(chunks) for chunks in columns.values())}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._stack: list[dict] = []
        self._patched: list[tuple] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        if parent is None and self._stack:
            parent = self._stack[-1]["id"]
        sp = {"id": len(self.spans), "name": name, "start": time.perf_counter(),
              "end": None, "parent": parent, "op": self.op, **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()

    def _wrap(self, fn, name: str, measure=None):
        if inspect.isgeneratorfunction(fn):
            # materialize inside the span so it covers the work, not
            # just the creation of the generator
            @functools.wraps(fn)
            def traced_gen(*args, **kwargs):
                with self.span(name):
                    items = list(fn(*args, **kwargs))
                yield from items
            return traced_gen

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                result = fn(*args, **kwargs)
                if measure is not None:
                    sp.update(measure(args, kwargs, result))
                return result
        return traced

    def instrument(self, fn, name: str, measure=None) -> None:
        """Route every module-level reference the package holds to the
        function ``fn`` through a span called ``name``."""
        wrapper = self._wrap(fn, name, measure)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name == PACKAGE or mod_name.startswith(PACKAGE + "."):
                for attr, val in list(vars(mod).items()):
                    if val is fn:
                        self._patched.append((mod, attr, val))
                        setattr(mod, attr, wrapper)

    def instrument_method(self, cls, attr: str, name: str) -> None:
        fn = cls.__dict__[attr]
        self._patched.append((cls, attr, fn))
        setattr(cls, attr, self._wrap(fn, name))

    def restore(self) -> None:
        for owner, attr, val in reversed(self._patched):
            setattr(owner, attr, val)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def instrument_layers(tracer: Tracer) -> None:
    """Spans around the public functions of each COLF layer."""
    from columnar_format_spark.colf import bloom, datasource, format, maintenance

    tracer.instrument_method(datasource.ColfDataSource, "schema",
                             "datasource.schema")
    for attr in ("pushFilters", "partitions", "read"):
        tracer.instrument_method(datasource.ColfReader, attr,
                                 f"datasource.{attr}")
    for attr in ("write", "commit"):
        tracer.instrument_method(datasource.ColfWriter, attr,
                                 f"datasource.writer_{attr}")
    for fn in (datasource.head_snapshot, datasource.live_files,
               datasource.commit_snapshot, datasource.load_manifest,
               datasource.load_blooms, datasource.save_blooms):
        tracer.instrument(fn, f"datasource.{fn.__name__}")
    tracer.instrument(format.write_colf_arrow, "format.write_colf_arrow",
                      _encoded)
    tracer.instrument(format.read_columns_arrow, "format.read_columns_arrow",
                      _decoded)
    tracer.instrument(bloom.build, "bloom.build")
    tracer.instrument(bloom.might_contain, "bloom.might_contain")
    for fn in (maintenance.delete_where, maintenance.merge_into,
               maintenance.compact):
        tracer.instrument(fn, f"maintenance.{fn.__name__}")
