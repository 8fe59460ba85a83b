"""Span tracer for the traced run.

Spans are recorded from the benchmark's side only: ``install`` wraps the
public functions of each layer (module attributes, plus every other
loaded module that imported the same function by name) and
``DataFrame.localCheckpoint``. Each span sets a Spark job group of its
own on entry and restores its parent's on exit, so every job the program
starts is attributed to the innermost open span.

Spans are kept in memory (name, start, end, parent, run id) and written
out when the benchmark ends. A span's self time is its duration minus
the part of it that its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import sys
import time
from collections import defaultdict

from probes import group_counters

# (module, function, counters the traced run reports for it). The module
# path is relative to the magicxml_spark package; "module.function" is
# the layer name.
_TEXT = ("self_s", "exec_cpu_s")
TRACED = [
    ("sources.xml_source", "read_xml_records", ("self_s", "jobs", "slot_util")),
    ("sources.xml_source", "read_categories", ("self_s",)),
    ("operators.flatten", "flatten_offer_records", ("self_s",)),
    ("operators.category_path", "build_category_paths", ("self_s",)),
    ("sinks.csv_sink", "write_csv", ("self_s", "exec_cpu_s", "output_mb")),
    ("plans.convert", "xml_to_csv", ("self_s", "jobs", "slot_util")),
    ("operators.langid", "with_lang", _TEXT),
    ("operators.extraction", "justext_boilerplate", _TEXT),
    ("operators.curation", "gopher_quality", _TEXT),
    ("operators.curation", "fineweb_quality", _TEXT),
    ("operators.curation", "c4_span_dedup", _TEXT),
    ("operators.curation", "paragraph_curation", _TEXT),
    ("operators.dsir", "dsir_select", _TEXT),
    ("operators.sampling", "pack_sequences", _TEXT),
    ("operators.dedup", "lsh_candidate_pairs", ("self_s", "exec_cpu_s", "shuffle_w_mb")),
    ("analytics.clusters", "dedup_clusters", _TEXT),
    ("operators.similarity", "cosine_topk_blocked", ("self_s", "exec_cpu_s", "shuffle_w_mb")),
    ("operators.similarity", "embedding_cluster_dedup", ("self_s", "exec_cpu_s", "shuffle_w_mb")),
]
MATERIALIZE = "plans.materialize"
ACTION = "action"
PKG = "magicxml_spark."


class Span:
    __slots__ = ("sid", "name", "parent", "run", "start", "end", "group")

    def __init__(self, sid, name, parent, run, start):
        self.sid, self.name, self.parent, self.run = sid, name, parent, run
        self.start, self.end = start, None
        self.group = f"perfbench-span-{sid}"


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.run_id = 0
        self.counts: dict[str, int] = defaultdict(int)  # named event counters

    # -- spans --------------------------------------------------------------
    def open(self, name: str) -> Span:
        parent = self.stack[-1].sid if self.stack else None
        span = Span(len(self.spans), name, parent, self.run_id, time.perf_counter())
        self.spans.append(span)
        self.stack.append(span)
        self.spark.sparkContext.setJobGroup(span.group, name)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self.stack.pop()
        sc = self.spark.sparkContext
        if self.stack:
            sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn, fold_nested: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if fold_nested and self.stack and self.stack[-1].name == name:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installation -------------------------------------------------------
    def install(self, df_class) -> None:
        """Wrap every TRACED function wherever it is bound, plus
        ``df_class.localCheckpoint`` and ``gate_on_computed`` as one
        materialization layer, and the schema-registry lookups as
        hit/miss counters."""
        # import every module first, so each rebinding reaches them all
        mods = {name: importlib.import_module(PKG + name)
                for name in {m for m, _, _ in TRACED} | {"plans.gating", "sources.schema_registry"}}
        loaded = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for mod_name, attr, _ in TRACED:
            fn = getattr(mods[mod_name], attr)
            self._rebind(loaded, fn, self.wrap(f"{mod_name}.{attr}", fn))
        gate = mods["plans.gating"].gate_on_computed
        self._rebind(loaded, gate, self.wrap(MATERIALIZE, gate, fold_nested=True))
        df_class.localCheckpoint = self.wrap(MATERIALIZE, df_class.localCheckpoint, fold_nested=True)

        reg = mods["sources.schema_registry"]
        self._rebind(loaded, reg.meta_get, self._counted("schema_registry", reg.meta_get))
        reg.SchemaRegistry.get = self._counted("schema_registry", reg.SchemaRegistry.get)

    def _counted(self, key: str, fn):
        @functools.wraps(fn)
        def counted(*args, **kwargs):
            out = fn(*args, **kwargs)
            self.counts[f"{key}.calls"] += 1
            self.counts[f"{key}.hits"] += out is not None
            return out

        return counted

    @staticmethod
    def _rebind(modules, original, replacement) -> None:
        for mod in modules:
            for k, v in list(vars(mod).items()):
                if v is original:
                    setattr(mod, k, replacement)

    # -- reduction ----------------------------------------------------------
    def layer_totals(self, run_ids: set[int]) -> dict[str, dict[str, float]]:
        """Per layer name: calls, self_s, wall_s and the Spark counters of
        the jobs each span started itself, summed over the given runs."""
        spans = [s for s in self.spans if s.run in run_ids and s.end is not None]
        children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in spans:
            rec = out[s.name]
            dur = s.end - s.start
            rec["calls"] += 1
            rec["wall_s"] += dur
            rec["self_s"] += dur - _covered(s, children[s.sid])
            for k, v in group_counters(self.spark, s.group).items():
                rec[k] += v
        return {k: dict(v) for k, v in out.items()}

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "parent": s.parent, "run": s.run,
                    "start": s.start, "end": s.end,
                }) + "\n")


def _covered(span: Span, kids: list[Span]) -> float:
    """Length of the union of the children's intervals, clipped to the
    span (children of one synchronous parent do not overlap, but the
    union keeps the rule exact if they ever do)."""
    total, cur_lo, cur_hi = 0.0, None, None
    for k in sorted(kids, key=lambda k: k.start):
        lo, hi = max(k.start, span.start), min(k.end, span.end)
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
