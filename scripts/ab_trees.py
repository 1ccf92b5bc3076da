"""Same-host interleaved A/B across git trees (the r06 verdict protocol).

Times the given queries in each tree with ``bench.interleaved``: one
fresh-JVM ``bench.py --cell`` per (tree, pass), one untimed warmup, min
of ``reps`` with per-rep cache isolation, tree order alternating pass to
pass, so a mid-session host drift lands INSIDE every tree's record
instead of biasing one side. Only same-session ratios are meaningful;
absolute times are not comparable across runs (see SCALE.md
"Cross-round bench comparability").

Used for the r06 verdicts: q36/q104 cleared vs the r05 tree (1.053 /
1.022) and q77 cleared vs r04/r05 (HEAD/r04 = 0.969, with ±8%
pass-to-pass spread on identical code bracketing every ratio).

Usage:
  python scripts/ab_trees.py q77_semantic_dedup[,q36_minhash_dedup...] \
      [ref1 ref2 ...]            # default refs: previous 'round N:' marker
Options via env: AB_SF_DIR (default /root/testdata/sf0.1),
AB_REPS (default 7), AB_PASSES (default 2), SPARK_GRAFT_CPUS (default:
the CPUs this process may run on).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (the timing protocol lives there)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    names = sys.argv[1].split(",")
    refs = sys.argv[2:]
    if not refs:
        prev = bench.previous_round()
        if prev is None:
            raise SystemExit("no previous-round marker distinct from HEAD")
        refs = [prev[0]]
    sf_dir = os.environ.get("AB_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("AB_REPS", "7"))
    passes = int(os.environ.get("AB_PASSES", "2"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

    # "head" is a detached worktree of HEAD too (r07 ADVICE): timing the
    # live working tree would silently include uncommitted edits in the
    # side labeled HEAD and misattribute a regression/clearance. Refuse
    # to run dirty unless AB_ALLOW_DIRTY=1 (then the label says so).
    dirty = subprocess.run(
        ["git", "status", "--porcelain"],
        capture_output=True, text=True, cwd=REPO, check=True,
    ).stdout.strip()
    if dirty and os.environ.get("AB_ALLOW_DIRTY") != "1":
        raise SystemExit(
            "working tree is dirty — the 'head' timing must come from a "
            "committed state. Commit first, or set AB_ALLOW_DIRTY=1 to "
            "time HEAD-the-commit anyway (uncommitted edits excluded):\n"
            + dirty
        )
    out = bench.interleaved(
        {**{ref[:9]: ref for ref in refs}, "head": "HEAD"},
        sf_dir, names, reps, cpus, passes,
    )
    mins = out["min"]
    out["head_vs"] = {
        label: {
            q: round(mins["head"][q] / t, 3)
            for q, t in per_q.items()
            if mins["head"].get(q) and t
        }
        for label, per_q in mins.items()
        if label != "head"
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
