"""Spans around the engine's layers, recorded from outside the engine.

Each traced layer is a name the engine looks up at call time, so the
tracer swaps in a timing wrapper where the caller finds it (for example
``executor.segment_topk``, not ``kernel.segment_topk``) and restores the
original afterwards. Spans stay in memory; :meth:`Tracer.dump` writes
them out once the run is over.
"""

from __future__ import annotations

import copy
import functools
import json
import time


class Tracer:
    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._saved: list[tuple] = []
        self.request: int | None = None

    # ---- spans --------------------------------------------------------
    def open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "request": self.request,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter() - self.t0, "end": None, **attrs})
        self._stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> None:
        self._stack.pop()
        sp = self.spans[sid]
        sp["end"] = time.perf_counter() - self.t0
        sp.update(attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    # ---- patching -----------------------------------------------------
    def _wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, _Traced(self, orig, name, after))

    def install(self, dataframe_cls) -> None:
        """Wrap every traced layer; :meth:`uninstall` restores them."""
        from cuely_spark.queryengine import executor, kernel

        reader = executor.IndexReader

        def read_attrs(args, res):
            # a read the dataset scan served: the pruned reader fell back
            return {"rows": res.num_rows, "bytes": res.nbytes,
                    "fallback": int(args[0]._local_pruned is False)}

        self._wrap(executor, "parse_query", "parser.parse")
        self._wrap(reader, "term_dfs", "executor.term_dfs")
        self._wrap(reader, "_local_postings", "executor.posting_read",
                   after=read_attrs)
        self._wrap(executor, "_concat_arrow_postings", "executor.concat")
        self._wrap(reader, "search_local", "executor.search_local")
        self._wrap(reader, "search", "executor.dist_plan")
        self._wrap(executor, "segment_topk", "kernel.topk")
        self._wrap(executor, "union_topk", "kernel.topk")
        self._wrap(kernel.TermPostings, "decode_blocks",
                   "kernel.decode_blocks",
                   after=lambda args, res: {"blocks": len(args[1])})
        self._wrap(kernel.TermPostings, "positions_flat",
                   "kernel.positions_flat")
        self._wrap(kernel, "phrase_tf", "kernel.phrase_tf")
        self._wrap(dataframe_cls, "collect", "spark.action")

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


class _Traced:
    """Timing stand-in for one function. Bound like a function when set
    on a class; pickles as the original, so a Spark task that captures
    it (the distributed kernel) runs the untraced engine code."""

    def __init__(self, tracer: Tracer, orig, name: str, after):
        self.tracer = tracer
        self.orig = orig
        self.name = name
        self.after = after

    def __call__(self, *args, **kwargs):
        sid = self.tracer.open(self.name)
        extra = {}
        try:
            res = self.orig(*args, **kwargs)
            if self.after is not None:
                extra = self.after(args, res)
            return res
        finally:
            self.tracer.close(sid, **extra)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return copy.copy, (self.orig,)


def self_ms(spans: list[dict], sid: int, children: dict) -> float:
    """A span's duration minus the part its direct children cover."""
    sp = spans[sid]
    dur = sp["end"] - sp["start"]
    for c in children.get(sid, ()):
        dur -= spans[c]["end"] - spans[c]["start"]
    return dur * 1e3


def layer_summary(spans: list[dict], requests: list[int]) -> dict:
    """Per-request means of every layer metric over the traced requests."""
    children: dict[int, list[int]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp["id"])
    tot: dict[str, float] = {}

    def add(key, v):
        tot[key] = tot.get(key, 0.0) + v

    local = set()
    for sp in spans:
        if sp["request"] not in requests:
            continue
        name = sp["name"]
        ms = (sp["end"] - sp["start"]) * 1e3
        if name == "parser.parse":
            add("parser.parse_ms", ms)
        elif name == "executor.term_dfs":
            add("executor.term_dfs_ms", ms)
            add("executor.term_dfs_calls", 1)
        elif name == "executor.posting_read":
            add("executor.posting_read_ms", ms)
            add("executor.posting_rows", sp["rows"])
            add("executor.posting_bytes", sp["bytes"])
            add("executor.reader_fallbacks", sp["fallback"])
        elif name == "executor.concat":
            add("executor.concat_ms", ms)
        elif name == "executor.search_local":
            local.add(sp["request"])
        elif name == "executor.dist_plan":
            add("executor.dist_plan_ms", ms)
        elif name == "kernel.topk":
            add("kernel.topk_ms", self_ms(spans, sp["id"], children))
        elif name == "kernel.decode_blocks":
            add("kernel.decode_blocks_ms", ms)
            add("kernel.blocks_decoded", sp["blocks"])
        elif name == "kernel.positions_flat":
            add("kernel.positions_ms", ms)
        elif name == "kernel.phrase_tf":
            add("kernel.phrase_verify_ms",
                self_ms(spans, sp["id"], children))
        elif name == "spark.action":
            add("spark.action_ms", ms)
        elif name == "request":
            for key in ("jobs", "stages", "tasks"):
                add(f"spark.{key}", sp.get(key, 0))
    n = max(1, len(requests))
    out = {k: v / n for k, v in tot.items()}
    out["executor.route_local_share"] = len(local) / n
    return out
