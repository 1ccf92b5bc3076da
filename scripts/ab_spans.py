"""Span-dedup scale profile: duplicated_spans / scrub_duplicated_spans
walls and candidate economics across two decades (r14 — the measurement
the q143/q144 family ships with, same discipline as scale_rehearsal for
the pair-based dedup tiers).

The span tier's scaling claim is LINEARITY: the positional k-gram index
is Σ n_tokens rows, the dup-gram reduction is one partial-aggregated
groupBy on an 8-byte hash, and the run merge is doc-bounded — nothing
is pairwise, so wall should track corpus tokens ~1:1 across x1 → x10 →
x100 (unlike the inverted-index pair tiers, whose uncapped candidate
count grows quadratically on the Zipf head). This instrument pins that
exponent with data and records the gram-duplication economics that
drive the semi-join width (dup-gram fraction, dup-position fraction,
spans found, tokens scrubbed).

One child JVM per scale (fresh JIT per point would overstate the small
scale; monotonic shared-JIT state is the ab_compact rationale), reps
with per-rep cache isolation, min-of-reps reported.

Usage: python scripts/ab_spans.py [workdir]
Env: AS_SCALES (default x1,x10,x100), AS_REPS (default 3),
SPARK_GRAFT_CPUS (default: the CPUs this process may run on), AS_K (default 8).
Prints one JSON line per scale and a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.cluster_rehearsal import ensure_corpus  # noqa: E402

_CHILD = """
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from citibike_analysis_spark.session import get_spark
from citibike_analysis_spark.cache import release_all
from citibike_analysis_spark.operators.dedup import (
    _kgram_positions, duplicated_spans, scrub_duplicated_spans,
)
from citibike_analysis_spark.sources.tables import load_table

sf_dir, k, reps = {sf_dir!r}, {k}, {reps}
spark = get_spark(app_name="ab_spans")
spark.sparkContext.setLogLevel("ERROR")
docs = load_table(spark, sf_dir, "documents")

# economics (untimed): gram-index width and duplication fractions —
# through the operator's own row-side index (review: an earlier draft
# re-spelled the index here as posexplode(kgram_hashes_of(...)); that
# one-projection-level shape measures fine, but re-spelling invites the
# stacked-projection blowup _kgram_positions documents)
pos = _kgram_positions(docs, "doc_id", "text", k).withColumnRenamed("_h", "h")
n_pos = pos.count()
gstats = pos.groupBy("h").count()
agg = gstats.agg(
    F.count("*").alias("n_grams"),
    F.sum(F.when(F.col("count") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
    F.sum(F.when(F.col("count") >= 2, F.col("count"))).alias("n_dup_pos"),
    F.max("count").alias("hottest_gram"),
).collect()[0]

walls = {{}}
outs = {{}}
for name, fn in (
    ("spans", lambda: duplicated_spans(docs, "doc_id", "text", k=k)),
    ("scrub", lambda: scrub_duplicated_spans(docs, "doc_id", "text", k=k)),
):
    runs = []
    for _ in range(reps):
        spark.catalog.clearCache(); release_all()
        t0 = time.perf_counter()
        df = fn()
        df.write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
    walls[name] = round(min(runs), 3)
r = duplicated_spans(docs, "doc_id", "text", k=k).agg(
    F.count("*").alias("c"), F.sum("span_tokens").alias("t")
).collect()[0]
outs["n_spans"], outs["span_tokens"] = int(r["c"]), int(r["t"] or 0)
outs["tokens_scrubbed"] = int(
    scrub_duplicated_spans(docs, "doc_id", "text", k=k)
    .agg(F.sum("n_removed")).collect()[0][0] or 0
)
print("ABSPANS " + json.dumps({{
    "n_docs": docs.count(), "n_gram_positions": n_pos,
    "n_grams": int(agg["n_grams"]), "n_dup_grams": int(agg["n_dup_grams"]),
    "n_dup_positions": int(agg["n_dup_pos"] or 0),
    "hottest_gram": int(agg["hottest_gram"]),
    "walls": walls, **outs}}))
"""


def main() -> int:
    work = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scale_rehearsal"
    scales = [s for s in os.environ.get("AS_SCALES", "x1,x10,x100").split(",") if s]
    reps = int(os.environ.get("AS_REPS", "3"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
    k = int(os.environ.get("AS_K", "8"))
    rows = []
    for scale in scales:
        sf_dir = ensure_corpus(work, scale)
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
        try:
            out = subprocess.run(
                [sys.executable, "-c", _CHILD.format(repo=REPO, sf_dir=sf_dir, k=k, reps=reps)],
                capture_output=True, text=True, env=env,
                timeout=int(os.environ.get("AS_TIMEOUT", "3600")),
            )
        except subprocess.TimeoutExpired as exc:
            # fail loudly with partials: a buffered child is otherwise
            # indistinguishable from a hang (measurement-hygiene note)
            print(f"TIMEOUT at {scale}; partial rows above", file=sys.stderr)
            print((exc.stdout or b"")[-2000:], file=sys.stderr)
            return 1
        line = next(
            (l for l in out.stdout.splitlines() if l.startswith("ABSPANS ")), None
        )
        if line is None:
            print(out.stdout[-2000:], file=sys.stderr)
            print(out.stderr[-4000:], file=sys.stderr)
            return 1
        rec = {"scale": scale, **json.loads(line[len("ABSPANS "):])}
        rows.append(rec)
        print(json.dumps(rec))
    print("\n| scale | docs | gram positions | dup-gram frac | dup-pos frac | spans | span tokens | scrubbed | spans wall (s) | scrub wall (s) |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(
            f"| {r['scale']} | {r['n_docs']:,} | {r['n_gram_positions']:,} "
            f"| {r['n_dup_grams']/max(r['n_grams'],1):.4f} "
            f"| {r['n_dup_positions']/max(r['n_gram_positions'],1):.4f} "
            f"| {r['n_spans']:,} | {r['span_tokens']:,} | {r['tokens_scrubbed']:,} "
            f"| {r['walls']['spans']} | {r['walls']['scrub']} |"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
