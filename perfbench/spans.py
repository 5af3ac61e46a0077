"""Span-recording timers around the extraction layers' entry points.

The traced run wraps each layer's public entry point *where the caller
looks it up* (``interp.parse_content_stream``, ``extract.html_spans``, ...)
with a timer that records, per layer, self time (the span minus the time
its child spans cover), call count and a layer-specific work count. Spans
nest through an explicit stack, so a ``resolve_ref`` that runs inside
``Resolver.__init__`` is charged to ``resolve``, not to ``xref``.

``Tracer.patched()`` installs the wrappers and restores every original on
exit; nothing under ``pdf_spark/`` is edited.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import time


def _len(out) -> int:
    return len(out)


def _len_first(out) -> int:
    return len(out[0])


# (module, attribute path, layer, work counter over the return value).
# Names are patched in the module that calls them: ``interp`` and
# ``extract`` bind their helpers at import time, while ``Stream.decoded``
# imports ``filters.decode_stream`` lazily, so the filters module itself is
# the right place for that one.
LAYER_POINTS = (
    ("pdf_spark.core.extract", "extract_document", "doc", None),
    ("pdf_spark.core.extract", "gunzip_payload", "route", None),
    ("pdf_spark.core.extract", "looks_like_html", "route", None),
    ("pdf_spark.core.extract", "payload_kind", "route", None),
    ("pdf_spark.core.extract", "html_spans", "html", _len_first),
    ("pdf_spark.core.document", "Resolver.__init__", "xref", None),
    ("pdf_spark.core.document", "Resolver.resolve_ref", "resolve", None),
    ("pdf_spark.core.document", "Resolver.iter_pages", "resolve", None),
    ("pdf_spark.core.document", "Resolver.content_streams", "resolve", None),
    ("pdf_spark.core.filters", "decode_stream", "filters", _len),
    ("pdf_spark.core.interp", "parse_content_stream", "tokenize", _len),
    ("pdf_spark.core.interp", "Interpreter.__init__", "interp", None),
    ("pdf_spark.core.interp", "Interpreter.run_streams", "interp", _len),
    ("pdf_spark.core.interp", "load_font", "font_load", None),
    ("pdf_spark.core.fonts", "_load_font_uncached", "font_load", None),
    ("pdf_spark.core.extract", "_apply_page_rotation", "assemble", None),
    ("pdf_spark.core.extract", "_apply_vertical_order", "assemble", None),
    ("pdf_spark.core.extract", "_apply_struct_order", "assemble", None),
    ("pdf_spark.core.extract", "assign_columns", "assemble", None),
    ("pdf_spark.core.extract", "assemble_text", "assemble", None),
)

LAYERS = ("route", "xref", "resolve", "filters", "tokenize", "interp", "font_load", "assemble", "html")


class LayerStat:
    __slots__ = ("self_ns", "calls", "work")

    def __init__(self) -> None:
        self.self_ns = 0
        self.calls = 0
        self.work = 0


class Tracer:
    """Per-layer self time, calls and work counts for one traced replay."""

    def __init__(self) -> None:
        self.layers: dict[str, LayerStat] = {}
        self.calls: dict[str, int] = {}  # per patched point, "module:attr"
        self._stack: list[list[int]] = []

    def wrap(self, fn, layer: str, point: str, count=None):
        stat = self.layers.setdefault(layer, LayerStat())
        self.calls.setdefault(point, 0)
        stack = self._stack
        clock = time.perf_counter_ns

        def timed(call, *args, **kwargs):
            child = [0]
            stack.append(child)
            t0 = clock()
            try:
                return call(*args, **kwargs)
            finally:
                dur = clock() - t0
                stack.pop()
                stat.self_ns += dur - child[0]
                if stack:
                    stack[-1][0] += dur

        if inspect.isgeneratorfunction(fn):
            # a generator's work happens in each next(): one span per step
            @functools.wraps(fn)
            def traced_gen(*args, **kwargs):
                stat.calls += 1
                self.calls[point] += 1
                gen = fn(*args, **kwargs)
                while True:
                    try:
                        item = timed(next, gen)
                    except StopIteration:
                        return
                    yield item

            return traced_gen

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stat.calls += 1
            self.calls[point] += 1
            out = timed(fn, *args, **kwargs)
            if count is not None:
                stat.work += count(out)
            return out

        return traced

    @contextlib.contextmanager
    def patched(self):
        """Install the wrappers on every LAYER_POINTS entry; restore on exit."""
        saved = []
        try:
            for mod_name, path, layer, count in LAYER_POINTS:
                owner = importlib.import_module(mod_name)
                *parents, attr = path.split(".")
                for p in parents:
                    owner = getattr(owner, p)
                original = owner.__dict__[attr]
                saved.append((owner, attr, original))
                setattr(owner, attr, self.wrap(original, layer, f"{mod_name}:{path}", count))
            yield self
        finally:
            for owner, attr, original in reversed(saved):
                setattr(owner, attr, original)

    def self_ms(self, layer: str) -> float:
        stat = self.layers.get(layer)
        return stat.self_ns / 1e6 if stat else 0.0
