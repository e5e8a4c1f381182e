"""Per-seed inputs of the benchmark, made once in a process of their own.

    python3 perfbench/inputs.py --workload search --seed 1

writes ``.perfbench/inputs/<workload>-<seed>-<code hash>/`` in the
checkout: the corpus as parquet (written by pandas, no Spark) and
``inputs.pkl`` with the query streams, the oracle's expected hits and the
content byte counts. ``run.py`` runs this as a subprocess before it
starts Spark, so neither the generator's memory nor a JVM warmed by the
writes carries into the measured process. The hash of the generator
code in the directory name keeps inputs of other generator code apart.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import pickle
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]  # the package, and gen/oracle

import gen  # noqa: E402
import oracle  # noqa: E402

K = 10
SEARCH_DOCS, SEARCH_VOCAB, MEAN_LEN = 8000, 40000, 120
N_CHECK_FIRST = 4  # first-seen queries checked against the oracle
INGEST_BATCH, INGEST_BATCHES = 500, 2
INGEST_FIRST = 4  # first-seen ORs timed per reopened reader
INGEST_WARM = 4  # first-seen ORs run untimed on the first reader (JIT warm-up of the point read)
SENTINEL_DOCS = 3  # docs per batch carrying the batch's sentinel
PARTS = 4  # parquet files per corpus


def input_dir(work: str, workload: str, seed: int) -> str:
    h = hashlib.sha256()
    for name in ("gen.py", "oracle.py", "inputs.py"):
        with open(os.path.join(HERE, name), "rb") as fh:
            h.update(fh.read())
    return os.path.join(work, "inputs", f"{workload}-{seed}-{h.hexdigest()[:12]}")


def ensure(work: str, workload: str, seed: int) -> dict:
    """The inputs of (``workload``, ``seed``), made first by a subprocess
    if they are not there yet."""
    path = input_dir(work, workload, seed)
    if not os.path.exists(os.path.join(path, "inputs.pkl")):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", workload, "--seed", str(seed), "--work", work],
            check=True,
        )
    with open(os.path.join(path, "inputs.pkl"), "rb") as fh:
        data = pickle.load(fh)
    data["dir"] = path
    return data


def sentinel(seed: int, b: int) -> str:
    """A word outside the generated vocabulary ('q' is no consonant of
    the syllable set), unique to batch ``b``."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    tag = letters[b % 26] + letters[(seed // 26) % 26] + letters[seed % 26]
    return "qx" + tag + "sentinel"


def _write_parquet(frame, path: str) -> None:
    os.makedirs(path)
    for i, rows in enumerate(np.array_split(np.arange(len(frame)), PARTS)):
        frame.iloc[rows].to_parquet(os.path.join(path, f"part-{i:05d}.parquet"), index=False)


def _search(seed: int, out: str) -> dict:
    corpus = gen.Corpus(seed, SEARCH_DOCS, SEARCH_VOCAB, MEAN_LEN)
    st = gen.streams(corpus, seed)
    rep = [q for q in st["repeat"] if q["oracle"] is not None]
    want = oracle.expected_hits([corpus], st["first"][:N_CHECK_FIRST] + rep + st["dist"], K)
    expected = {q["name"]: w for q, w in zip(rep, want[N_CHECK_FIRST:])}
    expected.update({f"dist.{q['name']}": w for q, w in zip(st["dist"], want[N_CHECK_FIRST + len(rep) :])})
    _write_parquet(corpus.frame(), os.path.join(out, "corpus"))
    return {
        "streams": st,
        "expected_first": want[:N_CHECK_FIRST],
        "expected": expected,
        "content_bytes": sum(len(c.encode()) for c in corpus.content),
    }


def _ingest(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 2])
    sent = {}
    for b in range(INGEST_BATCHES):
        for d in rng.choice(INGEST_BATCH, SENTINEL_DOCS, replace=False):
            sent[b * INGEST_BATCH + int(d)] = sentinel(seed, b)
    n = INGEST_BATCH * INGEST_BATCHES
    corpus = gen.Corpus(seed, n, SEARCH_VOCAB // 2, MEAN_LEN, sentinels=sent)
    # first-seen words need df > SENTINEL_DOCS, so no sentinel is one
    st = gen.streams(
        corpus, seed, n_first=INGEST_FIRST * INGEST_BATCHES, n_warm=INGEST_WARM, hot_df=n // 30, first_df=(4, 400)
    )
    expected_first = []
    for b in range(INGEST_BATCHES):
        # each batch's first first-seen query, on the docs committed so far
        q = st["first"][b * INGEST_FIRST]
        expected_first += oracle.expected_hits([_Slice(corpus, (b + 1) * INGEST_BATCH)], [q], K)
    checked = [q for q in st["repeat"] if q["oracle"] is not None]
    want = oracle.expected_hits([corpus], checked, K)
    for b in range(INGEST_BATCHES):
        lo, hi = b * INGEST_BATCH, (b + 1) * INGEST_BATCH
        _write_parquet(corpus.frame(lo, hi, with_ids=False), os.path.join(out, f"batch-{b}"))
    return {
        "streams": st,
        "expected_first": expected_first,
        "expected": {q["name"]: w for q, w in zip(checked, want)},
        "sentinels": [(sentinel(seed, b), sorted(d for d, w in sent.items() if w == sentinel(seed, b)))
                      for b in range(INGEST_BATCHES)],
        "content_bytes": sum(len(c.encode()) for c in corpus.content),
    }


class _Slice:
    """The first ``n`` docs of a generated corpus, for the oracle."""

    def __init__(self, corpus, n: int):
        self.vocab = corpus.vocab
        self.offsets = corpus.offsets[: n + 1]
        self.ids = corpus.ids[: self.offsets[-1]]
        self.doc_ids = corpus.doc_ids[:n]
        self.lang = corpus.lang[:n]

    def __len__(self) -> int:
        return len(self.doc_ids)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("search", "ingest_search"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--work", default=os.path.join(ROOT, ".perfbench"))
    args = ap.parse_args(argv)
    path = input_dir(args.work, args.workload, args.seed)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    data = (_search if args.workload == "search" else _ingest)(args.seed, tmp)
    with open(os.path.join(tmp, "inputs.pkl"), "wb") as fh:
        pickle.dump(data, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return 0


if __name__ == "__main__":
    sys.exit(main())
