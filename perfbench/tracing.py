"""Spans recorded from outside the program.

The benchmark cannot instrument ``parqueryd_spark`` itself, so it wraps the
module attributes the program's callers look up (``core`` binds
``compile_where_terms`` at import, so the wrapper goes on
``parqueryd_spark.core.compile_where_terms``, not on the defining module)
and records one root span per benchmark op plus one child span per wrapped
call. Spans of one op share its ``op`` id; every Spark job an op launches is
tagged with the op's job group (``perfbench:op<id>``, and
``perfbench:op<id>:build`` while a DataFrame is being built) so engine
counters from the status store attribute back to spans.

Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, harness):
        self.h = harness
        self.ops: list[dict] = []
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._patched: list[tuple[object, str, object, object]] = []

    # -- spans ----------------------------------------------------------------

    @contextmanager
    def op(self, name: str, traced: bool, **attrs):
        """One benchmark op (the root span). Yields its record; ``wall_s``
        and ``ok`` are filled on exit (``ok`` False if the block raised —
        the exception propagates). ``traced`` False runs the op with every
        wrapper and job tag switched off (the untraced half of the
        overhead pairs)."""
        rec = {"op": len(self.ops), "name": name, "traced": traced, "ok": False, **attrs}
        self.ops.append(rec)
        group = f"perfbench:op{rec['op']}"
        rec["groups"] = [group, group + ":build"] if traced else []
        sc = self.h.spark.sparkContext
        if not traced:
            self._install(original=True)
        else:
            rec["storage_bytes_at_start"] = self.h.storage_bytes() - self.h.calib_storage_bytes
            sc.setJobGroup(group, name)
            self._stack.append(rec)
        t0 = time.perf_counter()
        try:
            yield rec
            rec["ok"] = True
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            if traced:
                self._stack.pop()
                sc._jsc.clearJobGroup()
            else:
                self._install(original=False)

    @contextmanager
    def span(self, name: str, layer: str, build: bool = False, **attrs):
        """A child span of the current op (no-op outside a traced op).
        ``build`` re-tags the block's jobs with the op's ``:build`` group."""
        if not self._stack:
            yield attrs
            return
        parent = self._stack[-1]
        op = parent["op"]
        rec = {
            "op": op,
            "span": len(self.spans),
            "parent": parent.get("span"),
            "name": name,
            "layer": layer,
            **attrs,
        }
        self.spans.append(rec)
        sc = self.h.spark.sparkContext
        if build:
            sc.setJobGroup(f"perfbench:op{op}:build", name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if build:
                sc.setJobGroup(f"perfbench:op{op}", name)

    # -- wrapping program functions ---------------------------------------------

    def wrap(self, owner, attr: str, name: str, layer: str, build: bool = False, count=None):
        """Replace ``owner.attr`` with a spanning wrapper until :meth:`unwrap`.
        ``count(args, kwargs, result) -> dict`` adds counters to the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            with tracer.span(name, layer, build=build) as rec:
                result = orig(*args, **kwargs)
                if count is not None and tracer._stack:
                    rec.update(count(args, kwargs, result))
                return result

        self._patched.append((owner, attr, orig, wrapper))
        setattr(owner, attr, wrapper)

    def _install(self, original: bool) -> None:
        for owner, attr, orig, wrapper in self._patched:
            setattr(owner, attr, orig if original else wrapper)

    def unwrap(self) -> None:
        self._install(original=True)
        self._patched.clear()

    # -- summaries ------------------------------------------------------------------

    def spans_named(self, *names: str) -> list[dict]:
        return [s for s in self.spans if s["name"] in names]

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the time its child spans cover, summed
        per layer (children of one op never overlap: one client thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - child[s["span"]]
        return {k: round(v, 6) for k, v in sorted(out.items())}

    def dump(self) -> dict:
        t_ref = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t_ref, 6), "end": round(s["end"] - t_ref, 6)}
            for s in self.spans
        ]
        return {"ops": self.ops, "spans": spans, "self_s_by_layer": self.self_time_by_layer()}


def resolved_counts(args, kwargs, result) -> dict:
    """Span counters for ``resolve_paths(paths, ...)``: shards named, found."""
    paths = args[0] if args else kwargs["paths"]
    return {"requested": 1 if isinstance(paths, str) else len(paths), "found": len(result)}
