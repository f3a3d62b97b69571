"""Rotation integrity for the driver window (__spark_entry__.queries).

The driver checks only the first N entries of queries() per round, so
the emission order IS the coverage strategy. queries() sorts on one
key: entries whose last effective (fingerprint-valid) driver row is red
or missing come first, the rest follow least recently checked first,
and ties keep registration order. These tests pin that contract —
exact cover, failing or rewritten entries first, non-increasing
staleness, and the ceil(N/W)-round recheck bound — plus the
fingerprint gate that decides which history rows count.
"""

from __future__ import annotations

import importlib.util
import math
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__", REPO / "__spark_entry__.py"
)
entry_mod = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(entry_mod)


def test_queries_cover_registry_exactly_once():
    from hive_clone_spark import registry

    registry.load_all_modules()
    names = list(entry_mod.queries())
    assert len(names) == len(set(names))
    assert set(names) == set(registry.QUERIES)


def _eff(n, history, registry):
    """The entry's effective (fingerprint-valid) history slice."""
    store = entry_mod._load_fingerprint_store()
    return entry_mod._effective_history(
        n, registry.QUERIES[n], history, store
    )


def _last_row(n, eff):
    """(rounds ago, row) of the entry's latest effective driver row, or
    None — computed here independently of __spark_entry__._emit_key."""
    for ago, rows in enumerate(reversed(eff)):
        if n in rows:
            return ago, rows[n]
    return None


def _needs_check(n, eff) -> bool:
    """Red (error, no_oracle marker or hash mismatch) or no row at all."""
    last = _last_row(n, eff)
    if last is None:
        return True
    row = last[1]
    return row.get("err") is not None or row.get("hash_match") is False


def test_least_signal_entries_emit_first():
    """Every entry whose last effective row is red, or that has no
    effective row (new or rewritten), emits before every green entry —
    and so inside the driver's 50-entry window while there are at most
    50 of them."""
    from hive_clone_spark import registry

    registry.load_all_modules()
    history = entry_mod._load_history()
    names = list(entry_mod.queries())
    flags = [_needs_check(n, _eff(n, history, registry)) for n in names]
    n_first = sum(flags)
    assert all(flags[:n_first]), [n for n, f in zip(names, flags) if f]
    assert n_first <= 50, f"{n_first} red/unchecked entries overflow the window"


def test_stalest_entries_emit_first_within_green_cohort():
    """After the red / unchecked head, entries follow in non-increasing
    staleness (rounds since their last effective row), and equal
    staleness keeps registration order — so a green signal is the next
    thing rechecked once it is the oldest."""
    from hive_clone_spark import registry

    registry.load_all_modules()
    history = entry_mod._load_history()
    reg = {n: i for i, n in enumerate(registry.QUERIES)}
    names = list(entry_mod.queries())
    green = []
    for n in names:
        eff = _eff(n, history, registry)
        if not _needs_check(n, eff):
            green.append((_last_row(n, eff)[0], reg[n]))
    assert green, "no green entry in the committed history"
    for (s1, r1), (s2, r2) in zip(green, green[1:]):
        assert s1 > s2 or (s1 == s2 and r1 < r2), (s1, r1, s2, r2)


def _simulate(history, store, rounds, window=50, rewrite_at=None):
    """Run `rounds` driver rounds on a copy of the history: each round
    checks the first `window` entries of the emission order and records
    them green. `rewrite_at=(round, name)` bumps that entry's
    valid_from before the round, as tools/update_fingerprints.py does
    for a rewritten body. Returns the per-round windows."""
    history, store = list(history), dict(store)
    windows = []
    for r in range(rounds):
        if rewrite_at and rewrite_at[0] == r:
            name = rewrite_at[1]
            store[name] = {**store[name], "valid_from": len(history)}
        checked = entry_mod._emit_order(history, store)[:window]
        windows.append(set(checked))
        history.append({n: {"hash_match": True, "err": None} for n in checked})
    return windows


def test_window_rechecks_every_entry_within_bound():
    """From the committed history, with a 50-entry window and every
    check green, each registered entry is in the window at least once
    in every ceil(N/50) consecutive rounds, and an entry re-fingerprinted
    between rounds lands in the very next window — here the most
    recently checked entry, which would otherwise wait ~N/50 rounds."""
    from hive_clone_spark import registry

    registry.load_all_modules()
    history = entry_mod._load_history()
    store = entry_mod._load_fingerprint_store()
    names = list(registry.QUERIES)
    bound = math.ceil(len(names) / 50)

    freshest = entry_mod._emit_order(history, store)[-1]
    windows = _simulate(history, store, 2 * bound + 2, rewrite_at=(1, freshest))
    assert freshest not in windows[0] and freshest in windows[1]
    for start in range(len(windows) - bound + 1):
        seen = set().union(*windows[start : start + bound])
        missing = sorted(set(names) - seen)
        assert not missing, (start, missing[:5])


def test_rounds_stale_semantics():
    history = [{"a": {}}, {"b": {}}, {"b": {}, "c": {}}]
    assert entry_mod._rounds_stale("c", history) == 0
    assert entry_mod._rounds_stale("b", history) == 0
    assert entry_mod._rounds_stale("a", history) == 2
    assert entry_mod._rounds_stale("never", history) == 4


def test_fingerprint_store_is_current():
    """tools/entry_fingerprints.json must cover every registered entry
    with its LIVE source fingerprint — a stale store would silently
    void (or worse, wrongly credit) driver history. Re-run
    tools/update_fingerprints.py after editing any entry body."""
    from hive_clone_spark import registry

    registry.load_all_modules()
    store = entry_mod._load_fingerprint_store()
    missing = [n for n in registry.QUERIES if n not in store]
    assert not missing, f"run tools/update_fingerprints.py (missing: {missing[:5]})"
    stale = [
        n
        for n, fn in registry.QUERIES.items()
        if store[n]["fp"] != entry_mod._entry_fingerprint(fn)
    ]
    assert not stale, f"run tools/update_fingerprints.py (changed: {stale[:5]})"
    dangling = sorted(set(store) - set(registry.QUERIES))
    assert not dangling, f"run tools/update_fingerprints.py (dangling: {dangling[:5]})"


def test_rewritten_entry_resorts_into_bucket_zero():
    """A changed source fingerprint (or a valid_from bump) must void
    pre-rewrite driver rows: the entry's effective history goes empty,
    it becomes maximally stale, and _emit_key sorts it with the red /
    unchecked head like a new registration."""
    from hive_clone_spark import registry

    registry.load_all_modules()
    name = next(iter(registry.QUERIES))
    fn = registry.QUERIES[name]
    fp = entry_mod._entry_fingerprint(fn)
    history = [{name: {"hash_match": True, "err": None}}] * 5

    # Unchanged fingerprint: full history counts, entry is green+fresh.
    eff = entry_mod._effective_history(
        name, fn, history, {name: {"fp": fp, "valid_from": 0}}
    )
    assert len(eff) == 5
    assert entry_mod._emit_key(name, eff, n_rounds=5) == (1, 0)

    # Changed fingerprint: history voided, head of the order, maximally stale.
    eff2 = entry_mod._effective_history(
        name, fn, history, {name: {"fp": "deadbeef", "valid_from": 0}}
    )
    assert eff2 == []
    assert entry_mod._emit_key(name, eff2, n_rounds=5) == (0, -6)

    # valid_from bump voids only earlier rounds.
    eff3 = entry_mod._effective_history(
        name, fn, history, {name: {"fp": fp, "valid_from": 3}}
    )
    assert len(eff3) == 2

    # A red last row (error, no_oracle marker or hash mismatch) also sorts first.
    for red in ({"err": "boom"}, {"err": "no_oracle"}, {"hash_match": False, "err": None}):
        assert entry_mod._emit_key(name, eff[:4] + [{name: red}], n_rounds=5) == (0, 0)


def test_r7_rewrites_have_voided_history():
    """q82/q85/q87 were rewritten in round 7 after earning green rows in
    their vacuous forms; their stored valid_from must void those rows so
    the driver re-checks the discriminating rewrites (VERDICT r7 #2)."""
    store = entry_mod._load_fingerprint_store()
    for n in (
        "q82_nested_semijoin",
        "q85_value_share_threshold",
        "q87_idle_customers",
    ):
        assert store[n]["valid_from"] >= 7, (n, store[n])


def test_oracle_keys_subset_of_queries():
    """Every oracle must belong to a registered query (a stray key
    would make the driver compare against nothing)."""
    qs = set(entry_mod.queries())
    assert set(entry_mod.oracle_sql()) <= qs


def test_update_fingerprints_tool_semantics(tmp_path, monkeypatch):
    """tools/update_fingerprints.py: unchanged entries keep their
    valid_from; changed fingerprints bump valid_from to the current
    round count; removed entries drop out."""
    import json
    import subprocess
    import sys

    store = REPO / "tools" / "entry_fingerprints.json"
    before = json.loads(store.read_text())
    # run the tool against the live repo: must be a no-op (the store
    # is committed current — drift test above guarantees it)
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "update_fingerprints.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert out.returncode == 0, out.stderr
    assert "~0 changed" in out.stdout and "+0 new" in out.stdout
    after = json.loads(store.read_text())
    assert after == before
