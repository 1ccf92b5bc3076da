"""Tooling around the engine: ``bench.py`` and ``scripts/*.py``.

Every script imports as a module without running its ``main``, and every
import it names (function-local ones included) resolves, so deleting a
script or a helper cannot leave a dangling ``from scripts.x import y``
behind. ``bench.timed_runs`` is the one timing protocol; its per-rep
isolation is pinned on a query that persists and checkpoints.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
TOOLS = [os.path.join(REPO, "bench.py")] + sorted(
    os.path.join(SCRIPTS, f) for f in os.listdir(SCRIPTS) if f.endswith(".py")
)


def _ids(paths):
    return [os.path.relpath(p, REPO) for p in paths]


@pytest.fixture
def tool_path(monkeypatch):
    # scripts put the repo (and sometimes scripts/) on sys.path at import
    monkeypatch.setattr(sys, "path", [REPO, SCRIPTS, *sys.path])


@pytest.mark.parametrize("path", TOOLS, ids=_ids(TOOLS))
def test_tool_imports_as_module(path, tool_path, monkeypatch):
    name = "_tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    assert callable(getattr(mod, "main", None))


@pytest.mark.parametrize("path", TOOLS, ids=_ids(TOOLS))
def test_tool_imports_resolve(path, tool_path):
    tree = ast.parse(open(path).read(), filename=path)
    missing = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            mods = [(a.name, []) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mods = [(node.module, [a.name for a in node.names])]
        else:
            continue
        for mod, names in mods:
            try:
                m = importlib.import_module(mod)
            except ImportError:
                missing.append(f"{node.lineno}: {mod}")
                continue
            for n in names:
                is_sub = hasattr(m, "__path__") and importlib.util.find_spec(
                    f"{mod}.{n}"
                )
                if not (hasattr(m, n) or is_sub):
                    missing.append(f"{node.lineno}: {mod}.{n}")
    assert not missing, f"{os.path.relpath(path, REPO)}: unresolved {missing}"


def test_timed_runs_starts_every_rep_with_no_persisted_rdd(spark):
    """q46 persists its index and localCheckpoints its CC rounds; each
    rep must start from an empty block store (clearCache + release_all),
    or a later rep plan-matches the previous rep's blocks."""
    import bench
    from citibike_analysis_spark.plans import all_queries

    from conftest import SF0001

    jsc = spark.sparkContext._jsc
    q46 = all_queries()["q46_dedup_clusters"].fn
    at_start, after_build = [], []

    def probed(spark, sf_dir):
        at_start.append(jsc.getPersistentRDDs().size())
        df = q46(spark, sf_dir)
        after_build.append(jsc.getPersistentRDDs().size())
        return df

    walls = bench.timed_runs(spark, probed, SF0001, 3)
    assert len(walls) == 3 and all(w > 0 for w in walls)
    assert at_start == [0, 0, 0]
    # the probe is live: the query itself leaves blocks behind
    assert min(after_build) > 0


def test_read_load_parses_steal_and_load_delta_spans_a_cell(tmp_path):
    """The canary's per-cell load record: steal comes from the 8th value
    of /proc/stat's ``cpu`` line, in CPU-seconds; the delta spans the
    cell. No Spark."""
    import bench

    hz = os.sysconf("SC_CLK_TCK")
    stat = tmp_path / "stat"
    stat.write_text(f"cpu  10 0 20 300 4 0 1 {7 * hz} 0 0\ncpu0 1 2 3\n")
    start = bench.read_load(str(stat))
    assert start["steal_s"] == 7.0
    assert isinstance(start["load1"], float) and start["load1"] >= 0
    stat.write_text(f"cpu  10 0 20 300 4 0 1 {9 * hz + hz // 2} 0 0\n")
    rec = bench.load_delta(start, bench.read_load(str(stat)))
    assert rec["steal_s"] == 2.5
    assert len(rec["load1"]) == 2 and None not in rec["load1"]
    # an unreadable stat file drops steal but keeps the loadavg
    missing = bench.read_load(str(tmp_path / "absent"))
    assert "steal_s" not in missing and "load1" in missing
    assert "steal_s" not in bench.load_delta(missing, start)
    # the host's own file parses too
    assert bench.read_load()["steal_s"] >= 0
