"""In-memory spans around the engine's public functions.

:class:`Tracer` replaces a public function by a timing wrapper in every
loaded ``allora_indexer_spark`` module that binds it (so ``from x import f``
bindings are covered too) and puts the original back on :meth:`restore`.
Nothing in the engine changes; the wrappers live here.

A span records name, start, end, parent and trace id. Parents come from the
calling thread's open spans. A span opened on a pool thread inside
``warehouse.write_tables`` adopts the open ``write_tables`` span that holds
its table, so per-table writes nest under the write that submitted them.
Spans without a trace id are assigned one afterwards by :meth:`assign_traces`
from the trigger windows of the streaming progress reports.

:class:`ConflictCountingStorage` meters the manifest storage for the
``storage.*`` metrics; the tracer's own existence probes run inside
:meth:`ConflictCountingStorage.uncounted` so they do not inflate the counts.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import threading
import time

from allora_indexer_spark.plans.storage import (
    ManifestConflictError,
    OpCountingStorage,
)


class ConflictCountingStorage(OpCountingStorage):
    """OpCountingStorage that also counts publishes that lost the CAS, and
    leaves uncounted the reads a thread makes inside :meth:`uncounted`."""

    conflicts = 0
    # declared on the class so that OpCountingStorage.__setattr__ keeps the
    # instance's value here instead of passing it to the backend
    _quiet: threading.local | None = None

    def __init__(self, inner) -> None:
        super().__init__(inner)
        self._quiet = threading.local()

    @contextlib.contextmanager
    def uncounted(self):
        self._quiet.on = True
        try:
            yield
        finally:
            self._quiet.on = False

    def read_current(self, path):
        if getattr(self._quiet, "on", False):
            return self.inner.read_current(path)
        return super().read_current(path)

    def publish(self, path, manifest, *args, **kwargs):
        try:
            return super().publish(path, manifest, *args, **kwargs)
        except ManifestConflictError:
            with self._oplock:
                self.conflicts += 1
            raise


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._open_writes: dict[str, dict] = {}

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextlib.contextmanager
    def span(self, name: str, trace: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        if parent is None and "table" in attrs:
            with self._lock:
                parent = self._open_writes.get(attrs["table"])
        sp = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "trace": trace or (parent["trace"] if parent else None),
            "start": time.time(),
            **attrs,
        }
        stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(sp)

    # -- patching ---------------------------------------------------------
    def patch(self, module, attr: str, name: str, attrs_of=None, after=None,
              holds=None):
        """Wrap ``module.attr`` in a span named ``name`` everywhere it is
        bound. ``attrs_of(args, kwargs)`` adds span attributes before the
        call; ``after(span, result)`` records facts about the result;
        ``holds(args, kwargs)`` names the tables whose pool-thread spans
        adopt this span while it is open."""
        original = getattr(module, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs) as sp:
                held = list(holds(args, kwargs)) if holds else []
                with tracer._lock:
                    for t in held:
                        tracer._open_writes[t] = sp
                try:
                    result = original(*args, **kwargs)
                finally:
                    with tracer._lock:
                        for t in held:
                            tracer._open_writes.pop(t, None)
                if after is not None:
                    after(sp, result)
                return result

        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("allora_indexer_spark"):
                continue
            for k, v in list(vars(mod).items()):
                if v is original:
                    setattr(mod, k, wrapper)
                    self._patches.append((mod, k, original))
        return wrapper

    def restore(self) -> None:
        for mod, k, original in reversed(self._patches):
            setattr(mod, k, original)
        self._patches.clear()

    # -- analysis ---------------------------------------------------------
    def assign_traces(self, windows: list[tuple[str, float, float]]) -> None:
        """Give every span without a trace the id of the trigger window
        that contains its start, and add one root span per window
        (``stream.trigger``) as the parent of the window's top spans.
        ``windows`` holds (trace id, start, end) in epoch seconds."""
        roots = []
        for tid, lo, hi in windows:
            roots.append({
                "id": next(self._ids), "name": "stream.trigger",
                "parent": None, "trace": tid, "start": lo, "end": hi,
            })
        by_id = {s["id"]: s for s in self.spans}
        for s in sorted(self.spans, key=lambda s: s["id"]):
            if s["trace"] is not None:
                continue
            if s["parent"] is not None and by_id[s["parent"]]["trace"]:
                s["trace"] = by_id[s["parent"]]["trace"]
                continue
            for r in roots:
                if r["start"] <= s["start"] <= r["end"]:
                    s["trace"] = r["trace"]
                    if s["parent"] is None:
                        s["parent"] = r["id"]
                    break
        self.spans.extend(roots)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(kids.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> tuple[int, float]:
        """(calls, summed duration) of spans named ``name``."""
        spans = [s for s in self.spans if s["name"] == name]
        return len(spans), sum(s["end"] - s["start"] for s in spans)

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps({**s, "self_s": selfs[s["id"]]}, default=str) + "\n")
