"""Same-host interleaved A/B across git trees (the r06 verdict protocol).

Times the given queries in each tree under bench.py's canary protocol —
fresh JVM per tree, one untimed warmup, min of ``reps`` with per-rep
cache isolation — cycling through the trees in order for ``passes``
passes, so a mid-session host drift lands INSIDE every tree's record
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
import re
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402  (the canary subprocess script lives there)


def _default_ref() -> str:
    log = subprocess.run(
        ["git", "log", "--pretty=%H %s"],
        capture_output=True, text=True, cwd=REPO, check=True,
    ).stdout
    head = subprocess.run(
        ["git", "rev-parse", "HEAD"],
        capture_output=True, text=True, cwd=REPO, check=True,
    ).stdout.strip()
    for m in re.finditer(r"^([0-9a-f]{40}) round \d+:", log, re.M):
        if m.group(1) != head:
            return m.group(1)
    raise SystemExit("no previous-round marker distinct from HEAD")


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    names = sys.argv[1]
    refs = sys.argv[2:] or [_default_ref()]
    sf_dir = os.environ.get("AB_SF_DIR", "/root/testdata/sf0.1")
    reps = int(os.environ.get("AB_REPS", "7"))
    passes = int(os.environ.get("AB_PASSES", "2"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

    trees: dict[str, str] = {}
    for ref in refs:
        wt = tempfile.mkdtemp(prefix=f"ab_{ref[:9]}_")
        subprocess.run(
            ["git", "worktree", "add", "--detach", "-f", wt, ref],
            cwd=REPO, check=True, capture_output=True,
        )
        trees[ref[:9]] = wt
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
    head_wt = tempfile.mkdtemp(prefix="ab_head_")
    subprocess.run(
        ["git", "worktree", "add", "--detach", "-f", head_wt, "HEAD"],
        cwd=REPO, check=True, capture_output=True,
    )
    trees["head"] = head_wt

    def time_tree(tree: str) -> dict:
        out = subprocess.run(
            [sys.executable, "-c", bench._CANARY_SCRIPT,
             tree, sf_dir, names, str(reps), cpus],
            capture_output=True, text=True, timeout=1800,
        )
        if out.returncode != 0:
            raise RuntimeError(out.stderr[-400:])
        return json.loads(out.stdout.strip().splitlines()[-1])

    results: list[dict[str, dict]] = []
    try:
        for _ in range(passes):
            results.append({label: time_tree(wt) for label, wt in trees.items()})
    finally:
        for wt in trees.values():
            subprocess.run(
                ["git", "worktree", "remove", "--force", wt],
                cwd=REPO, capture_output=True,
            )

    mins: dict[str, dict[str, float]] = {}
    for label in trees:
        per_q: dict[str, float] = {}
        for p in results:
            for q, t in p[label].items():
                per_q[q] = min(per_q.get(q, float("inf")), t)
        mins[label] = per_q
    ratios = {
        label: {
            q: round(mins["head"][q] / t, 3)
            for q, t in per_q.items()
            if mins["head"].get(q) and t
        }
        for label, per_q in mins.items()
        if label != "head"
    }
    print(json.dumps({"passes": results, "min": mins, "head_vs": ratios}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
