"""Benchmark entry point.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. Builds nothing: the
``lucene_spark`` package is imported from the checkout. Scratch files
(inputs made once per seed by ``inputs.py`` in a subprocess, indexes,
Spark local dirs, span dumps) go under ``.perfbench/`` in the checkout.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` installs span wrappers around the package's entry points
and reports the per-layer metrics instead. ``queries_per_s`` and the
``latency_<class>_p50_ms`` figures are given at a reference host speed
(``workloads.scaled``); their wall-time values are in the details. The
last stdout line is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``; the line before it holds the details (sample
counts, tails, raw figures, host facts, errors).
Exits non-zero, printing no result, when the checkout has no
``lucene_spark`` package or a metric cannot be produced.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("search", "ingest_search")
STREAMS = ("first", "repeat", "dist")  # the streams with per-layer metrics


def repeat_figures(samples: dict[str, list[float]]) -> dict:
    """``queries_per_s`` and one latency figure per query class
    (``gen.class_ms``) from the repeat stream's samples per query name."""
    import gen

    out = {"queries_per_s": sum(map(len, samples.values())) / sum(map(sum, samples.values()))}
    for kind in gen.REPEAT_KINDS:
        sets = {k: v for k, v in samples.items() if k.startswith(f"repeat.{kind}.")}
        out[f"latency_{kind}_p50_ms"] = gen.class_ms(sets) if sets else None
    return out


def end_to_end(w, run) -> dict:
    """The gated figures; the repeat stream's at the reference host speed
    (``workloads.scaled``)."""
    return {
        "setup_s": run.values["setup_s"],
        "index_docs_per_s": run.values["index_docs_per_s"],
        "index_bytes_per_input_byte": run.values["index_bytes_per_input_byte"],
        "py_peak_rss_mb": w.peak_rss_mb(),
        **repeat_figures(w.scaled(run)),
    }


def per_layer(tracer, run, session_s: float) -> dict:
    def ratio(a, b):
        return a / b if b else 0.0

    out = {
        "session.start_s": session_s,
        "builder.prep_s": 0.0,
        "builder.invert_s": 0.0,
        "builder.writes_s": 0.0,
        "reader.chunked_persist_s": 0.0,
        "writer.add_s": 0.0,
        "writer.commit_s": 0.0,
        "checkpoint.merge_s": 0.0,
        "reader.open_ms": 0.0,
        "reader.opens_per_batch": 0.0,
        "floor.pandas_group_ms": 0.0,
        "floor.numpy_ms": 0.0,
        **run.layers,
    }
    for s in STREAMS:
        n, wall, c = tracer.stream_totals(s)
        ms = 1e3 / n if n else 0.0
        per = 1.0 / n if n else 0.0
        out.update(
            {
                f"{s}.wall_ms": wall * ms,
                f"{s}.parser.self_ms": c["parser.self_s"] * ms,
                f"{s}.compile.self_ms": c["compile.self_s"] * ms,
                f"{s}.engine.self_ms": c["engine.search.self_s"] * ms,
                f"{s}.reader.rows_ms": c["reader.rows.self_s"] * ms,
                f"{s}.reader.spark_jobs_per_query": c["reader.jobs"] * per,
                f"{s}.reader.rows_bytes_per_query": c["reader.rows_bytes"] * per,
                f"{s}.reader.expand_ms": c["reader.expand.self_s"] * ms,
                f"{s}.reader.layout_ms": c["reader.layout.self_s"] * ms,
                f"{s}.codec.decode_ms": c["codec.self_s"] * ms,
                f"{s}.codec.postings_decoded_per_query": c["codec.postings"] * per,
                f"{s}.codec.positions_decoded_per_query": c["codec.positions"] * per,
                f"{s}.wand.self_ms": c["wand.self_s"] * ms,
                f"{s}.wand.decoded_block_ratio": ratio(c["wand.decoded_blocks"], c["wand.total_blocks"]),
                f"{s}.wand.pruned_interval_ratio": ratio(c["wand.pruned_intervals"], c["wand.total_intervals"]),
                f"{s}.conj.self_ms": c["conj.self_s"] * ms,
                f"{s}.conj.skipped_block_ratio": ratio(
                    c["conj.blocks_skipped"], c["conj.blocks_skipped"] + c["conj.blocks_decoded"]
                ),
                f"{s}.kernels.evaluate_ms": c["kernels.evaluate.self_s"] * ms,
                f"{s}.spark.action_ms": c["spark.action.self_s"] * ms,
                f"{s}.spark.jobs_per_query": c["spark.jobs"] * per,
                f"{s}.spark.tasks_per_query": c["spark.tasks"] * per,
                f"{s}.engine.driver_ms": (wall - c["spark.action.self_s"]) * ms,
                f"{s}.layers_ms": sum(v for k, v in c.items() if k.endswith(".self_s") and k != "codec.self_s") * ms,
            }
        )
    # traced minus untraced time per query on the repeat stream, where
    # the wrapped calls are densest (the search workload runs the same
    # window untraced first); both at the reference host speed, so host
    # drift between the two windows does not count as overhead
    import workloads

    base = run.values.get("untraced_repeat_scaled_ms", 0.0)
    f = workloads.host_factor(run)
    out["trace.overhead_pct"] = (out["repeat.wall_ms"] * f / base - 1.0) * 100 if base else 0.0
    out["repeat.layers_over_untraced"] = ratio(out["repeat.layers_ms"] * f, base)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isfile(os.path.join(ROOT, "lucene_spark", "__init__.py")):
        print(f"no lucene_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    import inputs
    import sparkenv
    import tracing
    import workloads as w

    work = os.path.join(ROOT, ".perfbench")
    os.makedirs(work, exist_ok=True)
    data = inputs.ensure(work, args.workload, args.seed)
    w.reset_peak_rss()  # the figure is the set-up's and the window's
    spark, session_s = sparkenv.start(work, ROOT)
    tracer = None
    try:
        host = sparkenv.host_info(spark)
        if args.trace:
            tracer = tracing.Tracer(spark)  # the workload installs it
        fn = w.search if args.workload == "search" else w.ingest_search
        run = fn(spark, work, data, args.seed, args.seconds, session_s, tracer)
        if tracer is not None:
            tracer.uninstall()
            tracer.dump(os.path.join(work, f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = per_layer(tracer, run, session_s)
            wanted = spec["per_layer"]
        else:
            metrics = end_to_end(w, run)
            wanted = spec["end_to_end"]
    finally:
        if tracer is not None:
            tracer.uninstall()
        sparkenv.stop(spark)

    result = {}
    for m in wanted:
        v = metrics.get(m["name"])
        if v is None or not math.isfinite(v):
            print(f"metric {m['name']} missing ({v!r})", file=sys.stderr)
            return 3
        result[m["name"]] = {"value": v, "unit": m["unit"]}
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host,
        "host_numpy_ms": w.numpy_floor_ms(),  # host speed at the end of the run, to tell drift from change
        "samples": {s: w.summary(v) for s, v in run.lat.items()},
        "values": run.values,
        "per_kind_ms": {k: [len(v), statistics.median(v) * 1e3] for k, v in sorted(run.kind_lat.items())},
        "errors": run.errors,
        "ref_ms": statistics.median(run.ref) * 1e3 if run.ref else None,
        "raw": repeat_figures({k: v for k, v in run.kind_lat.items() if k.startswith("repeat.")}),
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    print(json.dumps({"detail": detail}))
    print(
        json.dumps(
            {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed, "metrics": result}
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
