"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real implementations live in the ``hive_clone_spark`` package;
this module only adapts its registry to the driver's shape.
"""

from __future__ import annotations

import hashlib
import inspect
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable regardless of the driver's cwd.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from hive_clone_spark import registry  # noqa: E402

registry.load_all_modules()


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001."""
    from hive_clone_spark.operators.relational import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def _entry_fingerprint(fn) -> str:
    """md5 of the entry function's source (round-7 verdict task 1).

    A rewritten entry changes fingerprint, which voids its pre-rewrite
    driver-green history (see _effective_history) so the rotation
    re-checks the new form instead of crediting rows earned by code
    that no longer exists. Falls back to the qualified name when source
    is unavailable (C extensions, REPL) — then only explicit
    valid_from bumps in tools/entry_fingerprints.json void history.
    """
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = f"{getattr(fn, '__module__', '?')}.{getattr(fn, '__qualname__', '?')}"
    return hashlib.md5(src.encode()).hexdigest()


def _load_fingerprint_store() -> dict:
    """tools/entry_fingerprints.json: name -> {fp, valid_from}.

    valid_from = number of CORRECTNESS_r*.json files present when the
    fingerprint was (re)recorded by tools/update_fingerprints.py;
    history rows from earlier rounds were earned under different source
    and do not count as signal for the current code.
    """
    import json

    p = Path(_REPO) / "tools" / "entry_fingerprints.json"
    try:
        return json.loads(p.read_text())
    except (OSError, ValueError):
        return {}


def _effective_history(
    name: str, fn, history: list[dict], store: dict
) -> list[dict]:
    """The slice of driver history that was earned under this entry's
    CURRENT source: [] when the entry is absent from the fingerprint
    store or its live fingerprint differs from the stored one (source
    changed since the store was regenerated), else history rows from
    the stored valid_from round onward."""
    rec = store.get(name)
    if rec is None or rec.get("fp") != _entry_fingerprint(fn):
        return []
    return history[int(rec.get("valid_from", 0)):]


def _rounds_stale(name: str, history: list[dict]) -> int:
    """Rounds since the driver last recorded ANY row for this query
    (len(history)+1 if never recorded)."""
    for rounds_ago, rows in enumerate(reversed(history)):
        if name in rows:
            return rounds_ago
    return len(history) + 1


def _emit_key(name: str, history: list[dict], n_rounds: int) -> tuple[int, int]:
    """Sort key for queries() emission — shared with test_entry_order.

    ``(0 if the last effective row is red or there is none else 1,
    -rounds_stale)``. ``history`` is the entry's EFFECTIVE history
    (rows earned under its current source fingerprint; see
    _effective_history). Red = an error (historical ``no_oracle``
    markers included: every entry now has a full oracle) or a hash
    mismatch. An entry with no effective row is maximally stale
    relative to the FULL round count ``n_rounds``, so a rewritten entry
    sorts exactly like a brand-new one.
    """
    stale = _rounds_stale(name, history)
    if stale > len(history):
        return (0, -(n_rounds + 1))
    last = history[-1 - stale][name]
    red = last.get("err") is not None or last.get("hash_match") is False
    return (0 if red else 1, -stale)


def _load_history() -> list[dict]:
    """The driver's CORRECTNESS_r*.json rows, one dict per round."""
    import json

    history = []
    for p in sorted(Path(_REPO).glob("CORRECTNESS_r*.json")):
        try:
            history.append(json.loads(p.read_text()))
        except (OSError, json.JSONDecodeError):
            continue
    return history


def _emit_order(history: list[dict], store: dict) -> list[str]:
    """Registered names sorted by _emit_key; the sort is stable, so
    ties keep registration order."""
    return sorted(
        registry.QUERIES,
        key=lambda n: _emit_key(
            n,
            _effective_history(n, registry.QUERIES[n], history, store),
            len(history),
        ),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    The driver checks only a fixed-size prefix of this dict each round,
    so the order is the coverage strategy: least recently checked
    first. Entries whose last effective driver row is red, or that have
    none (new, or rewritten since their last row), come first; the rest
    follow by staleness, oldest signal first; ties keep registration
    order. With every check green, a W-entry window therefore rechecks
    each of N entries at least once every ceil(N/W) rounds.
    """
    order = _emit_order(_load_history(), _load_fingerprint_store())
    return {n: registry.QUERIES[n] for n in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query."""
    return dict(registry.ORACLE)
