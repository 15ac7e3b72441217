"""Spans around calls into the program's layers, recorded from outside.

``Tracer.install()`` replaces the layers' public functions with wrappers
that record one span per call: layer, name, start, end, parent span, the
entry it belongs to, and the Spark jobs that ran during the call.  Module
attributes are patched wherever the same function object is bound (a
``from x import f`` copies the reference), so calls through either name are
seen.  ``Tracer.uninstall()`` puts every original object back.  Spans stay in
memory; ``metrics()`` folds them into per-layer numbers.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections.abc import Callable
from contextlib import contextmanager

PACKAGE = "tts_data_pipeline_spark"
OPERATOR_MODULES = tuple(
    f"{PACKAGE}.operators.{m}"
    for m in ("dedup", "similarity", "components", "pairgrid", "grouping", "qc", "asof", "skew")
)
READER_MODULE = f"{PACKAGE}.sources.readers"
WRITER_MODULE = f"{PACKAGE}.sinks.writers"
CACHEREG_MODULE = f"{PACKAGE}.cachereg"
SCAN_METHODS = ("parquet", "csv", "json", "text", "orc", "load", "table")
DRIVER_METHODS = ("collect", "toPandas", "count")


def public_functions(module_name: str) -> dict[str, Callable]:
    """Functions a module defines itself and does not mark private."""
    mod = importlib.import_module(module_name)
    return {
        name: fn
        for name, fn in vars(mod).items()
        if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == module_name
    }


class Tracer:
    def __init__(self, sc) -> None:
        self._tracker = sc.statusTracker()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.entry: str | None = None
        self._patches: list[tuple[object, str, object, bool]] = []
        self._cached_by: dict[str, str] = {}

    # -- spans ---------------------------------------------------------

    def _jobs(self) -> int:
        if self.entry is None:
            return 0
        return len(self._tracker.getJobIdsForGroup(self.entry))

    @contextmanager
    def span(self, layer: str, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "parent_layer": parent["layer"] if parent else None,
            "entry": self.entry,
            "layer": layer,
            "name": name,
            "jobs0": self._jobs(),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        sp["t0"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            sp["jobs"] = self._jobs() - sp.pop("jobs0")
            self._stack.pop()

    # -- patching ------------------------------------------------------

    def _wrap(self, layer: str, name: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, name):
                return fn(*args, **kwargs)

        return traced

    def _patch_bindings(self, original: Callable, replacement: Callable) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    setattr(mod, attr, replacement)
                    self._patches.append((mod, attr, original, True))

    def _patch_method(self, cls: type, attr: str, replacement: Callable) -> None:
        own = attr in cls.__dict__
        self._patches.append((cls, attr, cls.__dict__.get(attr), own))
        setattr(cls, attr, replacement)

    def install(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader

        layers = [("operators", m) for m in OPERATOR_MODULES]
        layers += [("sources", READER_MODULE), ("sinks", WRITER_MODULE)]
        for layer, module_name in layers:
            for name, fn in public_functions(module_name).items():
                if layer == "sources" and name == "spread":
                    continue  # a repartition helper, not a read
                self._patch_bindings(fn, self._wrap(layer, name, fn))
        cachereg = importlib.import_module(CACHEREG_MODULE)
        original = cachereg.cache_replacing
        self._patch_bindings(original, self._cache_wrapper(cachereg, original))
        for attr in SCAN_METHODS:
            fn = getattr(DataFrameReader, attr)
            self._patch_method(DataFrameReader, attr, self._wrap("sources", f"read.{attr}", fn))
        for attr in DRIVER_METHODS:
            fn = getattr(DataFrame, attr)
            self._patch_method(DataFrame, attr, self._driver_wrapper(attr, fn))

    def uninstall(self) -> None:
        for owner, attr, original, own in reversed(self._patches):
            if own:
                setattr(owner, attr, original)
            else:
                delattr(owner, attr)
        self._patches.clear()

    def _cache_wrapper(self, cachereg, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(key, df):
            prev = cachereg._CACHED.get(key)
            with tracer.span("cachereg", "cache_replacing") as sp:
                out = fn(key, df)
            sp["hit"] = prev is not None and out is prev[1]
            sp["hit_scope"] = (
                ("within" if tracer._cached_by.get(key) == tracer.entry else "cross")
                if sp["hit"]
                else None
            )
            if not sp["hit"]:
                tracer._cached_by[key] = tracer.entry
            return out

        return traced

    def _driver_wrapper(self, attr: str, fn: Callable) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def traced(df, *args, **kwargs):
            # only fetches made while an entry builds its DataFrame count
            stack = tracer._stack
            if not (stack and stack[0]["layer"] == "plans" and stack[0]["name"] == "build"):
                return fn(df, *args, **kwargs)
            with tracer.span("driver", attr) as sp:
                out = fn(df, *args, **kwargs)
                sp["rows"] = 1 if attr == "count" else len(out)
            return out

        return traced

    # -- metrics -------------------------------------------------------

    def metrics(self, entries: set[str]) -> dict[str, float]:
        spans = [s for s in self.spans if s["entry"] in entries]
        by_id = {s["id"]: s for s in spans}
        child_wall: dict[int, float] = {}
        for s in spans:
            if s["parent"] in by_id:
                child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + s["t1"] - s["t0"]

        def of(layer: str, top: bool = False) -> list[dict]:
            # top: outermost call of its layer (nested calls of the same
            # layer are part of it, so they are not counted again)
            return [
                s
                for s in spans
                if s["layer"] == layer and not (top and s["parent_layer"] == layer)
            ]

        def wall(ss: list[dict]) -> float:
            return sum(s["t1"] - s["t0"] for s in ss)

        plans = of("plans")
        build = [s for s in plans if s["name"] == "build"]
        action = [s for s in plans if s["name"] == "action"]
        cache = of("cachereg")
        hits = [s for s in cache if s["hit"]]
        reads, writes, ops = of("sources", True), of("sinks", True), of("operators")
        driver = of("driver", True)
        return {
            "sources.read_calls": len(reads),
            "sources.read_s": wall(reads),
            "sources.read_jobs": sum(s["jobs"] for s in reads),
            "plans.build_s": wall(build),
            "plans.build_jobs": sum(s["jobs"] for s in build),
            "plans.action_s": wall(action),
            "operators.calls": len(ops),
            "operators.self_s": sum(
                s["t1"] - s["t0"] - child_wall.get(s["id"], 0.0) for s in ops
            ),
            "operators.eager_jobs": sum(s["jobs"] for s in of("operators", True)),
            "cachereg.calls": len(cache),
            "cachereg.hits": len(hits),
            "cachereg.hits_within_entry": sum(s["hit_scope"] == "within" for s in hits),
            "cachereg.hits_cross_entry": sum(s["hit_scope"] == "cross" for s in hits),
            "cachereg.hit_ratio": len(hits) / len(cache) if cache else 0.0,
            "driver.collect_calls": len(driver),
            "driver.collect_rows": sum(s["rows"] for s in driver),
            "sinks.write_calls": len(writes),
            "sinks.write_s": wall(writes),
            "trace.spans": len(spans),
        }
