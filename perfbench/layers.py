"""Per-layer metrics of a traced run.

The layers are the engine's package modules (``session``, ``sources``,
``plans``, ``operators``, ``cache``, ``partitioning``, ``streaming``),
Spark's executor side (``exec``, from the status store per job group),
and the driver JVM and Python processes (``jvm``, ``proc``). Values are
medians over the traced timed passes unless a line says otherwise.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from probe import EXEC_FIELDS


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _pass_spans(tracer, p: dict) -> list:
    return tracer.spans[p["spans"][0]:p["spans"][1]]


def _chain(span):
    while span is not None:
        yield span
        span = span.parent


def _outermost(spans, layer: str):
    """Spans of ``layer`` not nested inside another span of that layer
    (an operator calling an operator counts once)."""
    return [s for s in spans if s.layer == layer
            and not any(a.layer == layer for a in _chain(s.parent))]


def pass_layers(tracer, p: dict, slots: int) -> tuple[dict[str, float], dict[str, float], dict]:
    """(metrics, self time per layer, per-operator detail) of one traced pass."""
    spans = _pass_spans(tracer, p)
    m: dict[str, float] = {}
    load = [s for s in spans if s.name == "sources.tables.load_table"]
    m["sources.load_table_calls"] = len(load)
    m["sources.load_table_s"] = sum(s.duration for s in _outermost(load, "sources"))

    ops = [s for s in spans if s.layer == "bench" and s.name.startswith("op:")]
    actions = [s for s in spans if s.name == "action"]
    m["plans.build_s"] = sum(s.duration for s in ops) - sum(s.duration for s in actions) \
        - sum(s.duration for s in spans if s.name == "optimize")
    m["plans.optimize_s"] = sum(s.duration for s in spans if s.name == "optimize")
    m["plans.py4j_calls"] = p["py4j_calls"]
    m["plans.codegen_compiles"] = p["codegen_compiles"]

    top_ops = _outermost(spans, "operators")
    m["operators.calls"] = len(top_ops)
    m["operators.build_s"] = sum(s.duration for s in top_ops)

    reuse = [s for s in spans if s.name == "cache.cache.reuse"]
    m["cache.reuse_calls"] = len(reuse)
    m["cache.storage_mb"] = p["storage_mb"]

    spread = [s for s in spans if s.name == "partitioning.partitioning.spread"]
    m["partitioning.spread_calls"] = len(spread)
    m["partitioning.spread_applied_ratio"] = (
        sum(not s.returned_input for s in spread) / len(spread) if spread else 0.0
    )
    m["streaming.calls"] = len(_outermost(spans, "streaming"))

    # jobs: attributed to the innermost span open when each was submitted
    jobs = {"build": 0, "operators": 0}
    per_op_jobs: dict[str, int] = defaultdict(int)
    for t, _group in p["jobs"]:
        owner = tracer.owner(t, spans)
        chain = list(_chain(owner))
        if any(s.name == "action" for s in chain):
            continue
        jobs["build"] += 1
        op = next((s for s in chain if s.layer == "operators"), None)
        if op is not None:
            jobs["operators"] += 1
            per_op_jobs[op.name] += 1
    m["plans.build_jobs"] = jobs["build"]
    m["operators.jobs"] = jobs["operators"]

    ex = {k: sum(g[k] for g in p["exec"].values()) for k in EXEC_FIELDS}
    for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb"):
        m[f"exec.{k}"] = ex[k]
    m["exec.wait_s"] = ex["task_s"] - ex["cpu_s"]
    m["exec.utilization"] = ex["task_s"] / (p["wall"] * slots)
    m["sources.input_mb"] = ex["input_mb"]

    self_s: dict[str, float] = defaultdict(float)
    for s in spans:
        self_s[s.layer] += s.self_s
    detail = {}
    for s in spans:
        if s.layer != "operators":
            continue
        d = detail.setdefault(s.name, {"calls": 0, "build_s": 0.0, "jobs": 0})
        d["calls"] += 1
        d["build_s"] += s.duration
    for name, n in per_op_jobs.items():
        detail.setdefault(name, {"calls": 0, "build_s": 0.0, "jobs": 0})["jobs"] = n
    return m, dict(self_s), detail


def per_layer(r: dict, runner, trace_out: str | None) -> tuple[dict[str, float], list[str]]:
    """The per-layer metrics, and the report lines for what the JSON
    leaves out."""
    lines = []
    log = lines.append
    tracer = runner.tracer
    traced = [p for p in r["timed"] if p["traced"]]
    plain = [p for p in r["timed"] if not p["traced"]]
    rows, selfs, details = [], [], []
    for p in traced:
        m, s, d = pass_layers(tracer, p, runner.slots)
        rows.append(m)
        selfs.append(s)
        details.append(d)
    metrics = {k: _median(m[k] for m in rows) for k in rows[0]}

    setup = [s for s in tracer.spans if s.layer == "session"
             and any(a.name == "setup" for a in _chain(s))]
    metrics["session.get_spark_s"] = sum(
        s.duration for s in setup if s.name == "session.session.get_spark")
    metrics["session.ship_package_s"] = sum(
        s.duration for s in setup if s.name == "session.session.ship_package")
    metrics["jvm.first_pass_s"] = r["first"]["wall"]
    metrics["jvm.jit_s"] = r["first"]["jit_s"]
    metrics["jvm.gc_s"] = sum(p["gc_s"] for p in r["timed"])
    metrics["proc.jvm_cpu_s"] = _median(p["cpu"]["jvm"] for p in r["timed"])
    metrics["proc.driver_py_cpu_s"] = _median(p["cpu"]["driver_py"] for p in r["timed"])
    metrics["proc.jit_cpu_s"] = _median(p["cpu"]["jit"] for p in r["timed"])
    metrics["proc.peak_rss_mb"] = r["peak_rss_mb"]

    # -- report lines: what the JSON leaves out because it is zero on a workload
    layer_self = {k: _median(s.get(k, 0.0) for s in selfs) for k in {k for s in selfs for k in s}}
    top = sorted(layer_self.items(), key=lambda kv: -kv[1])
    log("layer self time per traced pass: " + ", ".join(f"{k}={v:.3f}s" for k, v in top))
    names = sorted({n for d in details for n in d})
    for n in names:
        vals = [d.get(n, {"calls": 0, "build_s": 0.0, "jobs": 0}) for d in details]
        log(f"{n}: calls={_median(v['calls'] for v in vals):.0f} "
            f"build_s={_median(v['build_s'] for v in vals):.4f} jobs={_median(v['jobs'] for v in vals):.0f}")
    reuse_s = _median(
        sum(s.duration for s in _pass_spans(tracer, p) if s.name == "cache.cache.reuse") for p in traced
    )
    log(f"cache.reuse_s={reuse_s:.4f} proc.worker_py_cpu_s="
        f"{_median(p['cpu']['worker_py'] for p in r['timed']):.3f}")
    # each traced pass against the mean of its untraced neighbours, which
    # cancels a linear warm-up trend across the window
    timed = r["timed"]
    diffs = [
        (timed[i]["wall"] - (timed[i - 1]["wall"] + timed[i + 1]["wall"]) / 2, timed[i]["wall"])
        for i in range(1, len(timed) - 1) if timed[i]["traced"]
    ]
    d = _median(x for x, _ in diffs)
    u_med = _median(p["wall"] for p in plain)
    log(f"tracing overhead on pass_s: {d:+.3f}s ({d / u_med:+.1%} of the untraced median "
        f"{u_med:.3f}s), median over {len(diffs)} traced passes each against its neighbours")
    if trace_out:
        with open(trace_out, "w") as fh:
            json.dump(tracer.to_json(), fh)
        log(f"wrote {len(tracer.spans)} spans to {trace_out}")
    return metrics, lines
