"""The benchmark's workloads: one client, closed loop, on ``local[nproc]``.

``search``: one ``IndexBuilder.build`` in setup, then query streams over
one reader: a driver-mode repeat mix whose working set fits every reader
cache (no Spark job); in the traced run also driver-mode queries on
words the reader has never touched (each pays the Spark point-read job)
and distributed-mode queries over chunked words (applyInPandas leaf
path, plan cache warm). The untraced run gives the repeat mix the whole
window (it alone feeds the gated figures) and runs a few first-seen and
distributed queries after it, for their checks.

``ingest_search``: an ``IndexWriter`` on an empty directory adds a batch,
commits a tier, reopens a reader and queries it (the batch's sentinel
word first, then first-seen words), for a fixed number of batches; the
last batch commits with ``commit(full=True)``, and the merged reader
runs the repeat mix for the whole window.

Inputs come from ``inputs.ensure`` (made per seed by a subprocess).
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time

import numpy as np

import gen
import oracle
from inputs import INGEST_BATCH, INGEST_BATCHES, INGEST_FIRST, K, N_CHECK_FIRST

# share of the measured seconds per stream in the traced search run; the
# untraced runs give the repeat mix the whole window
SHARES = {"first": 0.35, "repeat": 0.3, "dist": 0.35}
REPEAT_ONLY = {"repeat": 1.0}


class Run:
    """Latency samples per stream, attempted/failed counts and notes."""

    def __init__(self):
        self.lat: dict[str, list[float]] = {
            s: [] for s in ("first", "repeat", "dist", "sentinel")
        }
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.values: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.kind_lat: dict[str, list[float]] = {}
        self.ref: list[float] = []  # reference-kernel times (``ref_op``) in the repeat window
        self.kind_ref: dict[str, list[int]] = {}  # per repeat-stream sample: index of the last ref

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def timed(self, stream: str, fn, tracer=None):
        """Run one operation; record its latency, or a failure."""
        self.attempted += 1
        try:
            if tracer is not None:
                with tracer.op(stream):
                    t0 = time.perf_counter()
                    out = fn()
                    dt = time.perf_counter() - t0
            else:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed operation is counted, not fatal
            self.fail(f"{stream}: {type(e).__name__}: {e}")
            return None
        self.lat[stream].append(dt)
        return out

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)


def summary(samples: list[float]) -> dict:
    """Median and the highest of p90/p75 with at least ten samples
    beyond it, in ms, with the sample count."""
    n = len(samples)
    out = {"n": n, "p50_ms": statistics.median(samples) * 1e3 if n else None}
    for pct in (90, 75):
        if n * (100 - pct) / 100 >= 10:
            out[f"p{pct}_ms"] = float(np.percentile(samples, pct)) * 1e3
            break
    return out


def reset_peak_rss() -> None:
    """Restart the kernel's peak-RSS count (VmHWM) at the current RSS."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:  # not Linux: peak_rss_mb falls back to the whole process
        pass


def peak_rss_mb() -> float:
    """Peak RSS of this process since ``reset_peak_rss``."""
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files if not f.startswith((".", "_")))
    return total


def hits_of(td) -> list[tuple[int, float]]:
    return [(int(d), float(s)) for d, s in td.hits]


def _config():
    from lucene_spark.index.builder import IndexConfig

    return IndexConfig(docs_per_chunk=gen.DOCS_PER_CHUNK, term_buckets=4, positions=True)


# ---- search ------------------------------------------------------------------


def search(spark, work: str, data: dict, seed: int, seconds: float, session_s: float, tracer=None) -> Run:
    """The search workload; ``tracer`` (not yet installed) is installed
    once set-up is done."""
    from lucene_spark.index.builder import IndexBuilder
    from lucene_spark.index.reader import SearchIndex
    from lucene_spark.search.engine import Searcher

    run = Run()
    st = data["streams"]
    ix = os.path.join(work, "index")
    shutil.rmtree(ix, ignore_errors=True)

    # ---- set-up: build, open, warm every cache the repeat stream uses
    # (and, for the traced run's other streams, the JVM's point-read path
    # and the distributed plan)
    t0 = time.perf_counter()
    src = spark.read.parquet(os.path.join(data["dir"], "corpus"))
    bm = IndexBuilder(spark, _config()).build(src, ix, assign_ids=False)
    t_build = time.perf_counter() - t0
    reader = SearchIndex(spark, ix)
    searcher = Searcher(reader)
    searcher.search(st["repeat"][0]["query"], k=K)
    refresh = time.perf_counter() - t0
    _warm_repeat(reader, searcher, st)
    persist_s = 0.0
    if tracer is not None:
        for q in st["warm"]:
            searcher.search(q["query"], k=K)
        t1 = time.perf_counter()
        reader.chunked_postings()
        persist_s = time.perf_counter() - t1
        for q in st["dist"]:
            searcher.search(q["query"], k=K, mode="distributed")
    setup = session_s + time.perf_counter() - t0

    # ---- measured window
    if tracer is None:
        win = _window(run, searcher, st, seconds, None, REPEAT_ONLY, {"repeat": 0})
        # the checked first-seen and distributed queries, after the window
        # (cold: in the details only)
        first_hits = {
            n: run.timed("first", lambda: searcher.search(st["first"][n]["query"], k=K)) for n in range(N_CHECK_FIRST)
        }
        dist_hits = {
            q["name"]: run.timed("dist", lambda: searcher.search(q["query"], k=K, mode="distributed"))
            for q in st["dist"]
        }
    else:
        cursor = dict.fromkeys(SHARES, 0)
        run.layers.update(floor(spark, reader))  # untraced, like the window below
        # the same window untraced first: traced minus untraced per-query
        # time is the tracing overhead (first-seen words stay unseen:
        # the traced window continues the stream where this one stopped)
        cal_run = Run()
        cal = _window(cal_run, searcher, st, seconds, None, SHARES, cursor)
        for s in SHARES:
            run.values[f"untraced_{s}_ms"] = cal[s]["busy"] / max(cal[s]["n"], 1) * 1e3
        run.values["untraced_repeat_scaled_ms"] = run.values["untraced_repeat_ms"] * host_factor(cal_run)
        tracer.install()
        win = _window(run, searcher, st, seconds, tracer, SHARES, cursor)
        first_hits, dist_hits = cal["first"]["hits"], win["dist"]["hits"]
    run.values["queries_per_s"] = win["repeat"]["n"] / win["repeat"]["busy"]

    # ---- checks (untimed)
    for n, w in enumerate(data["expected_first"]):
        td = first_hits.get(n)
        if td is not None:
            run.check(oracle.same_hits(hits_of(td), w), f"first {st['first'][n]['query']!r} != oracle")
    _check_repeat(run, data, win["repeat"]["hits"])
    no_oracle = [q for q in st["repeat"] if q["oracle"] is None]
    q = no_oracle[seed % len(no_oracle)]
    td = win["repeat"]["hits"].get(q["name"])
    if td is not None:
        # no oracle for this shape: distributed must be bit-identical
        # (one shape per run, rotating with the seed: each costs a
        # distributed plan build)
        other = searcher.search(q["query"], k=K, mode="distributed")
        run.check(oracle.same_hits(hits_of(td), hits_of(other)), f"repeat {q['kind']}: driver != distributed")
    for q in st["dist"]:
        td = dist_hits.get(q["name"])
        if td is not None:
            run.check(oracle.same_hits(hits_of(td), data["expected"][f"dist.{q['name']}"]), f"dist {q['kind']} != oracle")
            drv = searcher.search(q["query"], k=K)
            run.check(oracle.same_hits(hits_of(td), hits_of(drv)), f"dist {q['kind']}: distributed != driver")

    run.values.update(
        {
            "setup_s": setup,
            "index_docs_per_s": bm["docs"] / t_build,
            "refresh_s": refresh,
            "index_bytes_per_input_byte": dir_bytes(ix) / data["content_bytes"],
            "docs": bm["docs"],
            "build_s": t_build,
        }
    )
    run.layers.update(
        {
            "builder.prep_s": bm["phase_sec"]["prep"],
            "builder.invert_s": bm["phase_sec"]["invert_materialize"],
            "builder.writes_s": bm["phase_sec"]["concurrent_writes"],
            "reader.chunked_persist_s": persist_s,
        }
    )
    reader.close()
    return run


def _warm_repeat(reader, searcher, st) -> None:
    """Fill the reader's caches for the repeat stream: the rows of all its
    words in one point read, then every query twice (wildcard expansion,
    filters, decoded postings)."""
    reader.collect_rows(sorted({w for q in st["repeat"] for w in q["words"]}))
    for _ in range(2):
        for q in st["repeat"]:
            searcher.search(q["query"], k=K)


def _check_repeat(run: Run, data: dict, got: dict) -> None:
    """Each oracle-capable repeat query's first result against the oracle."""
    for q in data["streams"]["repeat"]:
        td = got.get(q["name"])
        if q["oracle"] is not None and td is not None:
            run.check(oracle.same_hits(hits_of(td), data["expected"][q["name"]]), f"repeat {q['name']} != oracle")


def _window(run: Run, searcher, st, seconds: float, tracer, shares: dict, cursor: dict) -> dict:
    """Closed loop, one client: each stream in turn for its share of
    ``seconds`` (the repeat stream gets a phase of its own: interleaved
    with Spark jobs its sub-millisecond queries pick up JVM noise).
    ``cursor`` holds each stream's next position and is advanced.
    Returns per stream the query count, the busy seconds, and the first
    result of each checked query (first-seen: by position; others: by
    name)."""
    out = {}
    for s, share in shares.items():
        o = out[s] = {"n": 0, "busy": 0.0, "hits": {}}
        mode = "distributed" if s == "dist" else "driver"
        end = time.perf_counter() + share * seconds
        least = {"first": N_CHECK_FIRST, "dist": len(st["dist"])}.get(s, 0)  # the checked ones
        while time.perf_counter() < end or o["n"] < least:
            i = cursor[s]
            cursor[s] += 1
            if s == "first":
                if i >= len(st["first"]):
                    raise RuntimeError("first-seen stream exhausted")
                q, key = st["first"][i], (i if i < N_CHECK_FIRST else None)
            elif s == "repeat":
                q = st["repeat"][st["order"][i % len(st["order"])]]
                key = q["name"]
            else:
                q = st["dist"][i % len(st["dist"])]
                key = q["name"]
            if s == "repeat" and o["n"] % len(gen.REPEAT_KINDS) == 0:  # once per block of ``order``
                t0 = time.perf_counter()
                ref_op()
                run.ref.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            td = run.timed(s, lambda: searcher.search(q["query"], k=K, mode=mode), tracer)
            dt = time.perf_counter() - t0
            o["busy"] += dt
            o["n"] += 1
            run.kind_lat.setdefault(f"{s}.{q['name']}", []).append(dt)
            if s == "repeat":
                run.kind_ref.setdefault(f"{s}.{q['name']}", []).append(len(run.ref) - 1)
            if key is not None:
                o["hits"].setdefault(key, td)
    return out


# ---- ingest_search -----------------------------------------------------------


def ingest_search(spark, work: str, data: dict, seed: int, seconds: float, session_s: float, tracer=None) -> Run:
    """The ingest workload; ``tracer`` (not yet installed) is installed
    once the writer is open.

    ``INGEST_BATCHES`` batches, each: ``add_documents``, ``commit()`` (a
    tiered commit; the last batch's commit is ``commit(full=True)``, the
    sort-merge), then on the reader the commit returns the batch's
    sentinel word and ``INGEST_FIRST`` first-seen queries (on the first
    reader after untimed warm-up queries). The merged
    reader is then warmed for the repeat mix, which runs for ``seconds``."""
    from lucene_spark.index.writer import IndexWriter
    from lucene_spark.search.engine import Searcher

    run = Run()
    st = data["streams"]
    ix = os.path.join(work, "writer")
    shutil.rmtree(ix, ignore_errors=True)

    t0 = time.perf_counter()
    writer = IndexWriter(spark, ix, _config())
    setup = session_s + time.perf_counter() - t0
    if tracer is not None:
        tracer.install()

    add_s, commit_s, refresh, opens = [], [], [], []
    for b in range(INGEST_BATCHES):
        last = b + 1 == INGEST_BATCHES
        word, want = data["sentinels"][b]
        src = os.path.join(data["dir"], f"batch-{b}")
        t0 = time.perf_counter()
        run.attempted += 1
        try:
            _op(tracer, "write", lambda: writer.add_documents(spark.read.parquet(src)))
            t1 = time.perf_counter()
            reader = _op(tracer, "write", lambda: writer.commit(full=last))
            t2 = time.perf_counter()
        except Exception as e:  # a failed batch is counted, and ends the run
            run.fail(f"batch {b}: {type(e).__name__}: {e}")
            return run
        add_s.append(t1 - t0)
        commit_s.append(t2 - t1)
        searcher = Searcher(reader)
        td = run.timed("sentinel", lambda: searcher.search(word, k=K), tracer)
        t3 = time.perf_counter()
        opens.append(t3 - t2)
        refresh.append(t3 - t0)
        run.check(
            td is not None and sorted(d for d, _ in td.hits) == want and td.total_hits == len(want),
            f"batch {b}: sentinel {word} not visible as {want}",
        )
        if b == 0:
            for q in st["warm"]:
                searcher.search(q["query"], k=K)
        for j, q in enumerate(st["first"][b * INGEST_FIRST : (b + 1) * INGEST_FIRST]):
            td = run.timed("first", lambda: searcher.search(q["query"], k=K), tracer)
            if j == 0:
                w = data["expected_first"][b]
                run.check(td is not None and oracle.same_hits(hits_of(td), w), f"batch {b}: first != oracle")
        if not last:
            reader.close()

    # the merged reader: warm-up, then the repeat mix
    _op(tracer, "warm", lambda: _warm_repeat(reader, searcher, st))
    win = _window(run, searcher, st, seconds, tracer, REPEAT_ONLY, {"repeat": 0})
    _check_repeat(run, data, win["repeat"]["hits"])
    n_docs = INGEST_BATCH * INGEST_BATCHES
    run.check(reader.doc_id_bounds[1] == n_docs, f"merged doc count {reader.doc_id_bounds[1]} != {n_docs}")
    for word, want in data["sentinels"]:
        td = searcher.search(word, k=K)
        run.check(sorted(d for d, _ in td.hits) == want, f"merged: sentinel {word} lost")
    reader.close()

    run.values.update(
        {
            "setup_s": setup,
            "index_docs_per_s": n_docs / (sum(add_s) + sum(commit_s)),
            "refresh_s": statistics.median(refresh[:-1]),
            "index_bytes_per_input_byte": dir_bytes(ix) / data["content_bytes"],
            "queries_per_s": win["repeat"]["n"] / win["repeat"]["busy"],
            "docs": n_docs,
            "merge_s": commit_s[-1],
        }
    )
    run.layers.update(
        {
            "writer.add_s": statistics.median(add_s),
            "writer.commit_s": statistics.median(commit_s[:-1]),
            "checkpoint.merge_s": commit_s[-1],
            "reader.open_ms": statistics.median(opens) * 1e3,
        }
    )
    if tracer is not None:
        _n, _wall, c = tracer.stream_totals("write")
        run.layers["reader.opens_per_batch"] = c["reader.open.calls"] / len(add_s)
    return run


def _op(tracer, stream: str, fn):
    if tracer is None:
        return fn()
    with tracer.op(stream):
        return fn()


# ---- floor controls ------------------------------------------------------------


def floor(spark, reader, reps: int = 5) -> dict:
    """Same-run host-noise controls: a bare groupBy -> applyInPandas ->
    top-k over the persisted chunk relation, and a fixed numpy kernel."""
    import pandas as pd
    from pyspark.sql import functions as F

    rel = reader.chunked_postings()

    def top(key, pdf):
        pdf = pdf.nlargest(K, "df")
        return pd.DataFrame({"chunk_id": pdf["chunk_id"], "term": pdf["term"], "df": pdf["df"]})

    plan = (
        rel.select("chunk_id", "term", "df")
        .groupBy("chunk_id")
        .applyInPandas(top, "chunk_id long, term string, df int")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(K)
    )
    group_ms = []
    plan.collect()
    for _ in range(reps):
        t0 = time.perf_counter()
        plan.collect()
        group_ms.append((time.perf_counter() - t0) * 1e3)
    return {"floor.pandas_group_ms": statistics.median(group_ms), "floor.numpy_ms": numpy_floor_ms(reps)}


# ---- host-speed reference -------------------------------------------------------

# On a shared VM the host's speed drifts by +-20 % over seconds to
# minutes: a fixed kernel's median over one second spreads 0.1-0.2
# (IQR/median), and the same over ten seconds still ~0.1, whatever the
# program does. So the gated repeat-stream figures are given at a fixed
# reference speed: ``ref_op`` runs before every block of repeat queries,
# and each query's latency is scaled by REF_NOMINAL_MS over the median
# of the kernel times around it. Raw figures are in the details line.
REF_NOMINAL_MS = 0.35  # about the kernel's median in a run on a 2.1 GHz Xeon vCPU
REF_SPAN = 10  # kernel samples on each side of a query in its local median
_REF_X = np.random.default_rng(0).random(1 << 13)


def ref_op() -> None:
    """A fixed mix of interpreter work, small numpy calls and one larger
    numpy kernel, like the query path's."""
    acc: dict[int, int] = {}
    for i in range(1000):
        acc[i % 61] = acc.get(i % 61, 0) + i
    for j in range(0, len(_REF_X), 512):
        np.maximum.accumulate(_REF_X[j : j + 512])
    np.sort(_REF_X).cumsum()


def host_factor(run: Run) -> float:
    """Reference speed over the host's speed in ``run``'s repeat window."""
    return REF_NOMINAL_MS * 1e-3 / float(np.median(run.ref)) if run.ref else 1.0


def scaled(run: Run) -> dict[str, list[float]]:
    """The repeat stream's latency samples per query name, scaled to the
    reference speed (seconds)."""
    r = np.asarray(run.ref)
    local = np.array([np.median(r[max(0, i - REF_SPAN) : i + REF_SPAN + 1]) for i in range(len(r))])
    return {
        name: list(np.asarray(run.kind_lat[name]) * (REF_NOMINAL_MS * 1e-3) / local[idx])
        for name, idx in run.kind_ref.items()
    }


def numpy_floor_ms(reps: int = 5) -> float:
    """Median time of a fixed single-threaded numpy kernel."""
    x = np.random.default_rng(0).random(1 << 20, dtype=np.float32)
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        np.sort(x).cumsum()
        out.append((time.perf_counter() - t0) * 1e3)
    return statistics.median(out)
