"""Span tracing installed from outside the program.

``Tracer.install()`` replaces each public entry point listed in
``TARGETS`` with a wrapper that records a span (name, start, end,
parent, operation id) and per-call counts. The wrapper is bound at every
name a caller looks the function up by: a module that did
``from lucene_spark.codec.forutil import unpack_postings`` holds its own
reference, so every loaded ``lucene_spark`` module attribute that *is*
the original function is replaced, not only the defining one.
``uninstall()`` puts every original back.

Spans live in memory and are written out by ``dump()``. Self time of a
span is its duration minus the time its child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict

# (layer name, module, attribute path). A dotted attribute is a method.
TARGETS = (
    ("parser", "lucene_spark.search.parser", "parse_query"),
    ("compile", "lucene_spark.search.kernels", "compile_query"),
    ("kernels.evaluate", "lucene_spark.search.kernels", "evaluate"),
    ("wand", "lucene_spark.search.wand", "wand_top_k"),
    ("conj", "lucene_spark.search.wand", "conjunction_top_k"),
    ("codec.unpack_postings", "lucene_spark.codec.forutil", "unpack_postings"),
    ("codec.decode_blocks", "lucene_spark.codec.forutil", "decode_blocks"),
    ("codec.unpack_positions", "lucene_spark.codec.positions", "unpack_positions"),
    ("reader.open", "lucene_spark.index.reader", "SearchIndex.__init__"),
    ("reader.rows", "lucene_spark.index.reader", "SearchIndex.collect_rows"),
    ("reader.expand", "lucene_spark.index.reader", "SearchIndex.expand_terms"),
    ("reader.layout", "lucene_spark.index.reader", "SearchIndex.chunk_layout"),
    ("reader.chunked_persist", "lucene_spark.index.reader", "SearchIndex.chunked_postings"),
    ("engine.search", "lucene_spark.search.engine", "Searcher.search"),
    ("writer.add", "lucene_spark.index.writer", "IndexWriter.add_documents"),
    ("writer.commit", "lucene_spark.index.writer", "IndexWriter.commit"),
)
# Spark actions the calling thread blocks on (wrapped on the DataFrame class)
ACTIONS = ("collect", "count", "first", "toPandas")
CODEC = ("codec.unpack_postings", "codec.decode_blocks", "codec.unpack_positions")


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "child", "jobs", "tasks")

    def __init__(self, name, op, parent, start):
        self.name, self.op, self.parent, self.start = name, op, parent, start
        self.end = None
        self.child = 0.0  # seconds covered by direct children
        self.jobs = 0
        self.tasks = 0

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.dur - self.child


class Tracer:
    """Records spans for the calls in ``TARGETS`` plus Spark actions.

    ``op(name)`` opens an operation (one query, one batch); every span
    recorded inside it carries the operation's id. Counts (postings
    decoded, Spark jobs, bytes read) are added per operation.
    """

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self._op = None

    # ---- installation ------------------------------------------------------

    def install(self) -> None:
        import importlib

        for layer, modname, attr in TARGETS:
            mod = importlib.import_module(modname)
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                orig = cls.__dict__[meth]
                self._set(cls, meth, self._wrap(layer, orig))
                continue
            orig = getattr(mod, attr)
            wrapped = self._wrap(layer, orig)
            for m in list(sys.modules.values()):
                name = getattr(m, "__name__", "") or ""
                if not name.startswith("lucene_spark"):
                    continue
                for k, v in list(vars(m).items()):
                    if v is orig:
                        self._set(m, k, wrapped)
        if self.spark is not None:
            cls = type(self.spark.range(1))
            for meth in ACTIONS:
                self._set(cls, meth, self._wrap("spark.action", cls.__dict__[meth], action=True))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._patched):
            setattr(owner, name, orig)
        self._patched.clear()

    def _set(self, owner, name, new) -> None:
        self._patched.append((owner, name, vars(owner)[name]))
        setattr(owner, name, new)

    # ---- spans ---------------------------------------------------------------

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _next_job(self) -> int:
        """The DAG scheduler's next job id (ids are handed out in order,
        whichever thread submits the job)."""
        return int(self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId())

    def _tasks(self, first_job: int, end_job: int) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for j in range(first_job, end_job):
            info = st.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                si = st.getStageInfo(s)
                if si is not None:
                    n += si.numCompletedTasks
        return n

    def _wrap(self, layer: str, fn, action: bool = False):
        """Spark jobs are counted around the outermost action only (by the
        job-id delta, which also sees jobs submitted from other threads)
        and added to every enclosing span."""
        tracer = self
        perf = time.perf_counter
        keys = (layer + ".self_s", layer + ".calls")
        reader = layer.startswith("reader.")

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = tracer._stack()
            parent = stack[-1] if stack else None
            op = tracer._op
            span = Span(layer, op["id"] if op else None, parent.name if parent else None, 0.0)
            count = action and not any(s.name == "spark.action" for s in stack)
            outer_reader = reader and not any(s.name.startswith("reader.") for s in stack)
            j0 = tracer._next_job() if count else 0
            stack.append(span)
            span.start = perf()
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = perf()
                stack.pop()
                if parent is not None:
                    parent.child += span.end - span.start
                tracer.spans.append(span)
            if count:
                span.jobs = tracer._next_job() - j0
                if span.jobs:
                    span.tasks = tracer._tasks(j0, j0 + span.jobs)
                    for s in stack:
                        s.jobs += span.jobs
                        s.tasks += span.tasks
            if op is not None:
                tracer._count(op, layer, keys, span, args, out, count, outer_reader)
            return out

        return wrapper

    def _count(self, op: dict, layer: str, keys, span: Span, args, out, action: bool, outer_reader: bool) -> None:
        c = op["counts"]
        c[keys[0]] += span.self_time
        c[keys[1]] += 1
        if outer_reader:
            c["reader.jobs"] += span.jobs
        if layer in CODEC:
            c["codec.self_s"] += span.self_time
            if layer == "codec.unpack_positions":
                c["codec.positions"] += int(args[1].sum())
            else:
                c["codec.postings"] += len(out[0])
        elif action:
            c["spark.jobs"] += span.jobs
            c["spark.tasks"] += span.tasks
        elif layer == "reader.rows" and span.jobs:
            c["reader.rows_bytes"] += sum(
                len(r["blob"] or b"") + len(r["pos_blob"] or b"") for rs in out.values() for r in rs
            )
        elif layer == "wand":
            info = out[1]
            c["wand.decoded_blocks"] += info.get("decoded_blocks", 0)
            c["wand.total_blocks"] += info.get("total_blocks", 0)
            c["wand.pruned_intervals"] += info.get("pruned_intervals", 0)
            c["wand.total_intervals"] += info.get("total_intervals", 0)
        elif layer == "conj":
            info = out[1]
            c["conj.blocks_skipped"] += info.get("blocks_skipped", 0)
            c["conj.blocks_decoded"] += info.get("blocks_decoded", 0)

    # ---- operations ----------------------------------------------------------

    def op(self, stream: str):
        return _Op(self, stream)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "self": s.self_time,
                            "jobs": s.jobs,
                            "tasks": s.tasks,
                        }
                    )
                    + "\n"
                )
            for o in self.ops:
                fh.write(json.dumps({"op": o["id"], "stream": o["stream"], "wall": o["wall"], **o["counts"]}) + "\n")

    def stream_totals(self, stream: str) -> tuple[int, float, dict]:
        """(operations, total wall seconds, summed counts) of one stream."""
        ops = [o for o in self.ops if o["stream"] == stream]
        tot: dict = defaultdict(float)
        for o in ops:
            for k, v in o["counts"].items():
                tot[k] += v
        return len(ops), sum(o["wall"] for o in ops), tot


class _Op:
    def __init__(self, tracer: Tracer, stream: str):
        self.tracer, self.stream = tracer, stream

    def __enter__(self):
        t = self.tracer
        self.rec = {"id": len(t.ops), "stream": self.stream, "counts": defaultdict(float), "wall": 0.0}
        t._op = self.rec
        self.t0 = time.perf_counter()
        return self.rec

    def __exit__(self, *exc):
        self.rec["wall"] = time.perf_counter() - self.t0
        self.tracer.ops.append(self.rec)
        self.tracer._op = None
        return False
