"""Driver-window rotation invariants (``__spark_entry__.queries()``).

The driver signs only the first ~50 ``queries()`` entries per round,
so the ordering logic IS the verification schedule. r03 lesson: two
queries crashed the driver's canonicalizer, and the old ever-SEEN
predicate would have rotated them permanently out of the window. These
tests pin the green-not-seen predicate and the window invariants that
must hold for ANY state of the committed CORRECTNESS_r*.json files.
"""

from __future__ import annotations

from __spark_entry__ import (
    _EPOCH,
    _SENTINELS,
    _classify_row,
    _driver_green,
    queries,
)
from citibike_analysis_spark.plans import _AUDIT_OF, all_queries

WINDOW = 50


def test_classify_hash_match_is_oracle_green():
    row = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 6,
        "oracle_rows": 6,
        "err": None,
    }
    assert _classify_row(row) == "oracle"


def test_classify_designed_rows_only_is_green():
    row = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": 100,
        "oracle_rows": None,
        "err": "no_oracle",
    }
    assert _classify_row(row) == "rows_only"


def test_classify_crashed_row_is_not_green():
    # the exact r03 shape: canonicalizer TypeError, no row counts
    row = {
        "rows_match": None,
        "schema_match": None,
        "hash_match": None,
        "spark_rows": None,
        "oracle_rows": None,
        "err": "TypeError: unhashable type: 'numpy.ndarray'",
    }
    assert _classify_row(row) is None


def test_classify_mismatch_row_is_not_green():
    row = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": False,
        "spark_rows": 6,
        "oracle_rows": 6,
        "err": None,
    }
    assert _classify_row(row) is None


def test_classify_garbage_is_not_green():
    assert _classify_row(None) is None
    assert _classify_row("oops") is None
    assert _classify_row({}) is None


def test_sentinels_lead_the_window():
    names = list(queries())
    assert tuple(names[: len(_SENTINELS)]) == _SENTINELS


def test_unverified_oracle_queries_enter_the_window():
    """Every oracle-backed query WITHOUT a green oracle signature must
    sort into the driver's 50-entry window (else it never gets one)."""
    reg = all_queries()
    names = list(queries())
    green = _driver_green()
    pending = [
        n
        for n, spec in reg.items()
        if spec.oracle is not None and not green.get(n, (0, False))[1]
    ]
    # if more than the window is pending, the earliest window-full must
    # still all be pending ones (minus sentinels which are verified anyway)
    window = set(names[:WINDOW])
    overflow = [n for n in pending if n not in window]
    assert len(pending) > WINDOW - len(_SENTINELS) or not overflow, (
        f"pending oracle queries outside the driver window: {overflow}"
    )


def test_signed_tail_is_least_recently_verified_first():
    reg = all_queries()
    green = _driver_green()

    def signed(n):
        if n not in green:
            return False
        return green[n][1] or reg[n].oracle is None

    tail_rounds = [
        green[n][0] for n in queries() if signed(n) and n not in _SENTINELS
    ]
    assert tail_rounds == sorted(tail_rounds)


def test_epoch_invalidates_pre_replacement_signatures():
    """r04 review finding: a query whose semantics+oracle were REPLACED
    under the same key must not ride green rows earned by the old
    meaning. q39 was re-registered in r04 (epoch 4); its r01-r03 greens
    verified the θ=0.45 form now living at q105."""
    green = _driver_green()
    for name, epoch in _EPOCH.items():
        got = green.get(name)
        assert got is None or got[0] >= epoch, (
            f"{name}: green round {got} predates its epoch {epoch}"
        )


def test_epoch_reset_queries_reenter_the_window():
    """An epoch-bumped query must sit inside the driver window until it
    earns an epoch-valid signature. For oracle-backed queries that means
    a hash green; for designed no-oracle queries (q77 et al.) a
    rows-only green IS the signature — mirroring ``signed()`` in
    ``__spark_entry__`` — so they legitimately rotate into the tail (r09
    lesson: the unexempted form of this assert went red the moment the
    driver signed q77's rows-only row)."""
    reg = all_queries()
    names = list(queries())
    green = _driver_green()
    for name in _EPOCH:
        if name not in names:
            continue
        signed = name in green and (green[name][1] or reg[name].oracle is None)
        if not signed:
            assert names.index(name) < WINDOW, (
                f"{name} epoch-reset but outside the driver window"
            )


def test_no_oracle_epoch_bump_drags_its_audit():
    """Bumping the epoch of a designed no-oracle query must bump its
    paired hash-verified audit at least as far — the audit carries the
    value check, so leaving it behind would keep signing the OLD
    semantics (q77→q109 moved together in r09; _AUDIT_OF encodes it)."""
    reg = all_queries()
    no_oracle = {n for n in reg if reg[n].oracle is None}
    # every designed no-oracle query has a declared audit, and the
    # audit is itself oracle-backed
    assert no_oracle == set(_AUDIT_OF), (
        f"no-oracle queries without a declared audit pairing: "
        f"{no_oracle ^ set(_AUDIT_OF)}"
    )
    for name, audit in _AUDIT_OF.items():
        assert reg[audit].oracle is not None, f"{audit} is not hash-verified"
        if name in _EPOCH:
            assert _EPOCH.get(audit, 0) >= _EPOCH[name], (
                f"{name} epoch {_EPOCH[name]} outruns its audit {audit} "
                f"(epoch {_EPOCH.get(audit, 0)})"
            )


def test_driver_order_is_a_permutation_of_the_registry():
    assert sorted(queries()) == sorted(all_queries())


def test_registry_opens_no_file(monkeypatch):
    """The engine registry is registration order only: it must not read
    harness artifacts such as the CORRECTNESS_r*.json files."""
    import builtins
    import glob

    expected = list(all_queries())

    def refuse(*args, **kwargs):
        raise AssertionError(f"registry touched the filesystem: {args!r}")

    monkeypatch.setattr(glob, "glob", refuse)
    monkeypatch.setattr(builtins, "open", refuse)
    reg = all_queries()
    assert len(reg) == 146
    assert list(reg) == expected


def test_no_seed_dropping_sample_calls():
    """r10 lesson: ``df.sample(0.1, seed=7)`` binds 0.1 to
    ``withReplacement`` and PySpark's overload shim SILENTLY DROPS the
    seed — the plan gets a fresh random seed per DataFrame, so results
    differ across JVMs while looking stable within one (this burned
    the since-removed ab_bloom_gate script's cross-mode row assert).
    Any seeded sample must pass ``fraction=`` as a keyword;
    positional-fraction calls are banned
    repo-wide (engine + scripts — harness determinism is what the A/B
    protocol rests on)."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parents[1]
    bad = []
    # receivers whose .sample() is NOT a DataFrame API (stdlib/numpy
    # RNGs take positional args by design); anything else flags — the
    # ban stays conservative for unknown receivers (r10 ADVICE: the
    # old single-line regex missed multi-line calls and would have
    # false-positived random.sample)
    exempt_receivers = {"random", "rng", "np_rng"}
    for sub in ("citibike_analysis_spark", "scripts"):
        for p in (root / sub).rglob("*.py"):
            tree = ast.parse(p.read_text(), filename=str(p))
            for node in ast.walk(tree):
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "sample"
                ):
                    continue
                recv = node.func.value
                if isinstance(recv, ast.Name) and recv.id in exempt_receivers:
                    continue
                # positional args that are not a literal boolean
                # withReplacement occupy the fraction slot → the seed
                # keyword is silently dropped by PySpark's overload shim
                positional_fraction = any(
                    not (isinstance(a, ast.Constant) and isinstance(a.value, bool))
                    for a in node.args
                )
                if positional_fraction:
                    bad.append(
                        f"{p.relative_to(root)}:{node.lineno}: "
                        f"{ast.unparse(node)[:100]}"
                    )
    assert not bad, (
        "positional-fraction df.sample() calls (the seed is silently "
        "dropped — use fraction= keyword):\n" + "\n".join(bad)
    )
