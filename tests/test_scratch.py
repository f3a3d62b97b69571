"""Per-process scratch dirs: one path function, one reaper.

  * ``catalog.scratch_dir`` returns ``spark-warehouse/<name>/<tag>-<pid>``
    cleared, and its first call in a process reaps once;
  * ``catalog.reap_scratch_dirs`` removes the dirs of owners that are
    gone (with their ``-ctl`` control twins), keeps this process's own
    and a live owner's fresh dirs, and applies the age floors when the
    owner is alive or the probe is inconclusive;
  * source guard: across the engine, only ``catalog`` names the
    ``spark-warehouse`` root, and only ``scratch_dir`` and the reaper take
    the process id, besides the allowlist below.

Spark-free: nothing here starts a session.
"""

from __future__ import annotations

import ast
import os
import pathlib
import subprocess
import time

import pytest

from hive_clone_spark import catalog

ENGINE = pathlib.Path(catalog.__file__).resolve().parent
_DAY = 24 * 3600


@pytest.fixture
def root(tmp_path, monkeypatch):
    monkeypatch.setattr(catalog, "_SCRATCH_ROOT", tmp_path)
    return tmp_path


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()
    return p.pid


def _mk(root, rel, age_s=0.0):
    d = root / rel
    d.mkdir(parents=True)
    (d / "part-0.parquet").write_bytes(b"x")
    t = time.time() - age_s
    os.utime(d, (t, t))
    return d


def test_reaper_removes_only_dead_owners_dirs(root):
    dead, me, live = _dead_pid(), os.getpid(), os.getppid()
    gone = [
        _mk(root, f"txlog_q91/sf0.01-{dead}"),
        _mk(root, f"q255_bloom/sf0.001-{dead}"),
        _mk(root, f"q255_bloom/sf0.001-{dead}-ctl"),
        _mk(root, f"q72_sink/sf0.1-{dead}"),
    ]
    kept = [
        _mk(root, f"txlog_q91/sf0.01-{me}", age_s=30 * _DAY),
        _mk(root, f"q255_bloom/sf0.001-{me}-ctl", age_s=30 * _DAY),
        _mk(root, f"txlog_q91/sf0.01-{live}"),
        _mk(root, "ctas_q42/sf0.01"),
        _mk(root, f"managed_tbl/k=-{dead}"),
    ]
    catalog.reap_scratch_dirs()
    assert [d for d in gone if d.exists()] == []
    assert [d for d in kept if not d.exists()] == []
    # an emptied parent goes; a parent with a live child stays
    assert not (root / "q72_sink").exists()
    assert (root / "q255_bloom").is_dir()


def test_reaper_age_floors(root, monkeypatch):
    live = os.getppid()
    old_alive = _mk(root, f"a/sf0.1-{live}", age_s=8 * _DAY)
    fresh_alive = _mk(root, f"a/sf0.01-{live}", age_s=6 * _DAY)
    catalog.reap_scratch_dirs()
    assert not old_alive.exists() and fresh_alive.exists()

    def no_probe(pid, sig):
        raise PermissionError(pid)

    monkeypatch.setattr(os, "kill", no_probe)
    old = _mk(root, "b/sf0.1-4242", age_s=7 * 3600)
    fresh = _mk(root, "b/sf0.01-4242", age_s=5 * 3600)
    catalog.reap_scratch_dirs()
    assert not old.exists() and fresh.exists()


def test_scratch_dir_layout_clear_and_reap_once(root, monkeypatch):
    monkeypatch.setattr(catalog, "_reaped", False)
    stale = _mk(root, f"x/sf0.01-{_dead_pid()}")
    dest = pathlib.Path(catalog.scratch_dir("/data/sf0.01/", "x"))
    assert dest == root / "x" / f"sf0.01-{os.getpid()}"
    assert not stale.exists()
    _mk(root, dest.relative_to(root))
    stale = _mk(root, f"x/sf0.1-{_dead_pid()}")
    assert catalog.scratch_dir("sf0.01", "x") == str(dest)
    assert not dest.exists()  # cleared on every call
    assert stale.exists()  # reaped on the first call only


def _uses(tree: ast.Module):
    """(enclosing top-level def or "<module>", kind) for each path
    literal naming the spark-warehouse root and each os.getpid() call.
    Docstrings are prose, not paths, and are skipped."""
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.FunctionDef, ast.ClassDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    out = set()
    for top in tree.body:
        where = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        for n in ast.walk(top):
            if (
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and id(n) not in docs
                and "spark-warehouse" in n.value
            ):
                out.add((where, "spark-warehouse"))
            if isinstance(n, ast.Call) and ast.unparse(n.func) == "os.getpid":
                out.add((where, "getpid"))
    return out


def test_only_scratch_dir_composes_scratch_paths():
    found = set()
    for path in sorted(ENGINE.rglob("*.py")):
        mod = path.relative_to(ENGINE).with_suffix("").as_posix().replace("/", ".")
        found |= {(mod, *u) for u in _uses(ast.parse(path.read_text()))}
    assert found == {
        ("catalog", "<module>", "spark-warehouse"),
        ("catalog", "scratch_dir", "getpid"),
        ("catalog", "reap_scratch_dirs", "getpid"),
        # a checked entry body with a pid-less dir per sf, shared by
        # every process (ROADMAP item 5 queues it)
        ("operators.extended", "q42_ctas_roundtrip", "spark-warehouse"),
        # the pid names a session catalog table, not a directory
        ("sources.queries", "bucketed_tables", "getpid"),
    }
