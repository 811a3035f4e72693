"""Spans around the benchmark's calls into each layer.

A span holds name, start, end, parent and the op it belongs to. Spans stay
in memory and are written once, at exit. In a traced run ``instrument``
replaces the public functions listed in ``TRACED`` with wrappers that open
a span per call, so calls the program makes internally (``read_xml``
planning its splits, ``write_avro`` probing for spark-avro) are seen too.
Untraced runs use ``NullTracer`` and patch nothing.
"""

from __future__ import annotations

import importlib
import json
import time
from contextlib import contextmanager, nullcontext

# (module, attribute) → span name; the layer is the name minus its last part
TRACED = (
    ("xml_hive_spark.session", "get_spark"),
    ("xml_hive_spark.sources.xml_datasource", "register"),
    ("xml_hive_spark.reader", "read_xml"),
    ("xml_hive_spark.reader", "plan_annotated_splits"),
    ("xml_hive_spark.xsd", "xsd_to_struct"),
    ("xml_hive_spark.infer", "infer_xml_schema"),
    ("xml_hive_spark.sources.xml_sink", "write_avro"),
    ("xml_hive_spark.sources.xml_sink", "avro_available"),
    ("xml_hive_spark.sources.avro_ocf", "write_avro_ocf"),
    ("xml_hive_spark.sources.avro_ocf", "read_avro_ocf"),
)


def span_name(module: str, attr: str) -> str:
    return module.removeprefix("xml_hive_spark.") + "." + attr


def layer_of(name: str) -> str:
    return name.rsplit(".", 1)[0]


class NullTracer:
    op = None

    def span(self, name: str):
        return nullcontext({})


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def instrument(self) -> None:
        for mod_name, attr in TRACED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            setattr(mod, attr, self._wrap(fn, span_name(mod_name, attr)))
            self._patches.append((mod, attr, fn))

    def restore(self) -> None:
        for mod, attr, fn in reversed(self._patches):
            setattr(mod, attr, fn)
        self._patches.clear()

    def _wrap(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, list):
                    rec["items"] = len(out)
                return out

        traced.__wrapped__ = fn
        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per layer not covered by a child span. Calls are
        synchronous, so children never overlap and their durations sum."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            layer = layer_of(s["name"])
            own = s["end"] - s["start"] - child[s["id"]]
            out[layer] = out.get(layer, 0.0) + own
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)
