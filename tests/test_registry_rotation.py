"""RULE 1 enforcement: the registry's hand-curated
``_CHANGED_THIS_ROUND`` pin must be a SUPERSET of the set derived
mechanically from the change's git diff against its parent
(``tools/changed_queries.py``)
— the round-8 review's "What's wrong" #2: a silently under-maintained
list would let a changed query rotate out of the externally-checked
window, which is exactly the failure mode the rotation policy exists
to prevent.

The hand list may legitimately be LARGER than the derived set (e.g. a
data-fixture or oracle-constant change git's module mapping can't
see); it may never be smaller.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import changed_queries as CQ  # noqa: E402

from kaj_query_engine_spark.workload.registry import (  # noqa: E402
    _CHANGED_THIS_ROUND,
    _STALEST,
    _VERIFY_PRIORITY,
    all_queries,
)


def _in_git_checkout() -> bool:
    try:
        subprocess.run(
            ["git", "rev-parse", "--git-dir"],
            cwd=REPO, capture_output=True, check=True,
        )
        return True
    except (OSError, subprocess.CalledProcessError):
        return False


def test_changed_this_round_superset_of_derived():
    if not _in_git_checkout():  # exported tree without history
        pytest.skip("not a git checkout — derivation needs the diff")
    fine = set(CQ.derive_fine())
    missing = fine - set(_CHANGED_THIS_ROUND)
    assert not missing, (
        "RULE 1 violation: queries whose code changed this round are "
        f"missing from _CHANGED_THIS_ROUND: {sorted(missing)} — "
        "run `python tools/changed_queries.py` and add them"
    )
    # the symbol-granular set must stay INSIDE the module-closure set:
    # module closure is the conservative upper bound; fine exceeding it
    # would mean the symbol walker invented an edge
    coarse = set(CQ.derive())
    assert fine <= coarse, sorted(fine - coarse)


def test_derivation_mechanics():
    """The closure walk itself: function-local imports count (q85's
    body imports sources.versioned), transitive edges count (workload.
    streaming → streaming.ops), and the registry leaf does not
    collapse every closure to the whole package."""
    pkg = "kaj_query_engine_spark"
    c = CQ.import_closure(f"{pkg}.workload.streaming")
    assert f"{pkg}.streaming.ops" in c
    assert f"{pkg}.sources.versioned" in c  # via q85's body import
    # genuine cross-workload dataflow IS an edge (streaming imports
    # dedup's materialized index helper)...
    assert f"{pkg}.workload.dedup" in c
    # ...but the registry's register-every-module fan-out is not: a
    # module with no real dependence on the streaming stack must not
    # acquire one through the shared registry
    assert f"{pkg}.workload.streaming" not in CQ.import_closure(
        f"{pkg}.workload.text"
    )
    # every registered query maps to a module the walker can read
    for name, mod in CQ.query_modules().items():
        assert CQ._module_file(mod) is not None, (name, mod)


def test_symbol_walker_mechanics():
    """The fine-granularity walker (round 10): seeds resolve through
    factory qualnames, edges follow from-imports / module-alias
    attribute use / sibling symbols / module-level assignments, and
    the hub edge that collapsed module closures (every workload module
    → core.t → dialect) does NOT appear at symbol granularity."""
    pkg = "kaj_query_engine_spark"
    # a dialect-factory query reaches the lowering...
    r = CQ._reachable(f"{pkg}.workload.core", "_dialect")
    assert (f"{pkg}.dialect.lowering", "lower") in r
    # ...a plain-DataFrame query in the SAME module does not
    r11 = CQ._reachable(f"{pkg}.workload.core", "q11")
    assert (f"{pkg}.dialect.lowering", "lower") not in r11
    # function-local imports count: q85's body imports streaming.ops,
    # whose apply fn constructs against sources.versioned (class edge)
    r85 = CQ._reachable(f"{pkg}.workload.streaming", "q85")
    assert (f"{pkg}.streaming.ops", "stream_merge_apply") in r85
    assert (f"{pkg}.sources.versioned", "VersionedTable") in r85
    # a codec query never reaches the versioned table or the dialect
    r93 = CQ._reachable(f"{pkg}.workload.multimodal", "q93")
    mods93 = {m for m, _s in r93}
    assert f"{pkg}.sources.versioned" not in mods93
    assert f"{pkg}.dialect.lowering" not in mods93
    # module-level assignment symbols resolve narrowly: importing one
    # oracle constant from maintenance must not pull its whole module
    rs = CQ._reachable(f"{pkg}.workload.streaming", "q86")
    maint_syms = {s for m, s in rs if m == f"{pkg}.workload.maintenance"}
    assert maint_syms  # the imported oracle constant edge exists...
    assert "q33" not in maint_syms  # ...without the whole module


def test_pin_lists_name_real_queries_and_fill_window():
    names = set(all_queries())
    for n in _CHANGED_THIS_ROUND + _STALEST:
        assert n in names, f"pin list names unknown query {n}"
    # the externally-checked window is the 50-prefix: RULE 1 pins must
    # all land inside it, and the priority list must carry no dupes
    assert len(_VERIFY_PRIORITY) == len(set(_VERIFY_PRIORITY))
    window = list(all_queries())[:50]
    for n in _CHANGED_THIS_ROUND:
        assert n in window, f"RULE 1 pin {n} fell outside the window"


def test_no_query_goes_two_rounds_driver_stale():
    """RULE 2 mechanized (round 12 — previously a hand check the
    verdict re-did every round): from the committed
    ``CORRECTNESS_r*.json`` artifacts, compute each registered query's
    last externally-checked round; every query NOT checked in the
    latest round would go two rounds stale unless the CURRENT window
    (the 50-prefix) contains it. The escape hatch — window identical
    to the latest round's checked set — is the between-rounds state
    (the driver just wrote its artifact and the registry has not been
    rotated for the next round yet); the moment the lists are edited
    for a new round, the full rotation must be solved or this fails."""
    import json
    import re

    files = sorted(REPO.glob("CORRECTNESS_r*.json"))
    if not files:
        pytest.skip("no driver correctness artifacts committed yet")
    last_round: dict[str, int] = {}
    latest_n = 0
    latest_keys: set[str] = set()
    for p in files:
        n = int(re.search(r"r(\d+)", p.name).group(1))
        keys = set(json.loads(p.read_text()))
        for q in keys:
            last_round[q] = max(last_round.get(q, 0), n)
        if n > latest_n:
            latest_n, latest_keys = n, keys
    registered = set(all_queries())
    window = set(list(all_queries())[:50])
    if window == latest_keys:
        return  # between rounds: this window was just fully checked
    stale = {
        q for q in registered if last_round.get(q, 0) < latest_n
    }
    missing = (stale - window) | ((registered - set(last_round)) - window)
    assert not missing, (
        f"rotation starves {len(missing)} queries (would go two rounds "
        f"without an external check): {sorted(missing)} — rotate them "
        "into _STALEST or shrink _CHANGED_THIS_ROUND"
    )


def test_changed_symbols_deleted_module_pins_whole_module(monkeypatch):
    """Round-10 advice: a deleted package file diffs as '+++ /dev/null'
    and must fall back to the '--- a/...' path, pinning the module
    whole — a deletion-only change must not escape RULE 1."""
    pkg = "kaj_query_engine_spark"
    diff = (
        f"diff --git a/{pkg}/workload/text.py b/{pkg}/workload/text.py\n"
        "deleted file mode 100644\n"
        f"--- a/{pkg}/workload/text.py\n"
        "+++ /dev/null\n"
        "@@ -1,10 +0,0 @@\n"
        "-gone\n"
    )
    monkeypatch.setattr(CQ, "_git", lambda *a: diff)
    assert CQ.changed_symbols("x..y") == {
        f"{pkg}.workload.text": {CQ._MODLEVEL}
    }


def test_versioned_edit_pins_merge_twins(monkeypatch):
    """Round-14 verdict #3: q55/q66 pin the merge_change_feed /
    snapshot_diff contract that sources/versioned.py's one-pass CDC
    feed REIMPLEMENTS (commit 0bb660f replaced the operator calls with
    a fused equivalent), so a versioned.py edit must derive them
    changed even though no static dataflow edge reaches them — the
    _SEMANTIC_COUPLES declaration, wired through BOTH derivations."""
    pkg = "kaj_query_engine_spark"
    mod = f"{pkg}.sources.versioned"
    monkeypatch.setattr(
        CQ, "changed_symbols", lambda rng: {mod: {"VersionedTable"}}
    )
    monkeypatch.setattr(CQ, "changed_modules", lambda rng: {mod})
    fine = CQ.derive_fine("x..y")
    coarse = CQ.derive("x..y")
    for out in (fine, coarse):
        assert "q55_merge_upsert" in out, out.keys()
        assert "q66_merge_evolve" in out, out.keys()
        assert any("semantic-couple" in e for e in out["q55_merge_upsert"])
    # the eight static riders still derive (fine path)
    for rider in (
        "q19_bucket_evolution",
        "q33_table_time_travel",
        "q85_stream_merge",
        "q86_stream_scd2",
        "q87_stream_agg_state",
        "q89_stream_join_view",
    ):
        assert rider in fine, rider


def test_diff_base_is_the_parent_of_the_change(monkeypatch, tmp_path):
    """RULE 1 diffs against the parent of the change under review: the
    newest marker commit at or below HEAD while the package is dirty,
    at or below HEAD^ once it is clean — so a committed change is
    diffed against the marker under it, never against itself, and
    pins from earlier changes do not pile up."""
    repo = tmp_path / "repo"
    src = repo / CQ.PKG / "mod.py"
    src.parent.mkdir(parents=True)

    def git(*args: str) -> str:
        return subprocess.run(
            ["git", "-c", "user.name=t", "-c", "user.email=t@t", *args],
            cwd=repo, capture_output=True, text=True, check=True,
        ).stdout.strip()

    def commit(subject: str) -> str:
        src.write_text(subject + "\n")
        git("add", "-A")
        git("commit", "-q", "-m", subject)
        return git("rev-parse", "HEAD")

    git("init", "-q")
    pr1 = commit("PR 1: first change")
    anchor = commit("re-anchor @ PR 1: ROADMAP")
    wip = commit("wip")
    pr2 = commit("PR 2: second change")
    monkeypatch.setattr(CQ, "REPO", repo)

    def base_at(rev: str, dirty: bool = False) -> str | None:
        git("checkout", "-q", rev)
        if dirty:
            src.write_text("edited\n")
        base = CQ.diff_base()
        git("checkout", "-q", "--", ".")
        return base

    assert base_at(anchor, dirty=True) == anchor  # dirty: marker at HEAD
    assert base_at(wip, dirty=True) == anchor
    assert base_at(pr2) == anchor  # clean PR: its parent marker
    assert base_at(anchor) == pr1  # clean re-anchor: the PR before it
    assert base_at(wip) == anchor  # clean WIP: the last marker
    # an edit outside the package leaves the tree clean for RULE 1
    (repo / "notes.md").write_text("x\n")
    assert base_at(anchor) == pr1
    assert base_at(pr1) is None  # clean root: nothing below it
