"""Every `_SLOW_LANE` id in `conftest.py` names a test that exists, so a
renamed or deleted test cannot silently leave the slow lane and run in
the fast one. The `[param]` of an oracle or plan-audit test id must
name a registered entry.

Spark-free: the registry is imported, no session is started.
"""

from __future__ import annotations

import ast
import pathlib

from hive_clone_spark import registry

TESTS = pathlib.Path(__file__).resolve().parent
# the test files whose param is a registry entry name
_ENTRY_PARAM_FILES = {"test_plan_audit.py", "test_relational_oracle.py"}


def _slow_lane() -> set[str]:
    tree = ast.parse((TESTS / "conftest.py").read_text())
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "_SLOW_LANE" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("conftest.py defines no _SLOW_LANE")


def _test_names(path: pathlib.Path) -> set[str]:
    """`func` and `Class::method` for each test defined in `path`."""
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, ast.FunctionDef):
            names.add(node.name)
        elif isinstance(node, ast.ClassDef):
            names |= {
                f"{node.name}::{m.name}"
                for m in node.body
                if isinstance(m, ast.FunctionDef)
            }
    return names


def test_slow_lane_ids_name_existing_tests():
    registry.load_all_modules()
    stale = []
    for nodeid in sorted(_slow_lane()):
        fname, _, rest = nodeid.partition("::")
        name, _, param = rest.partition("[")
        path = TESTS / fname
        if not path.is_file() or name not in _test_names(path):
            stale.append(nodeid)
        elif (
            param
            and fname in _ENTRY_PARAM_FILES
            and param.rstrip("]") not in registry.QUERIES
        ):
            stale.append(nodeid)
    assert stale == [], f"_SLOW_LANE ids that name no test: {stale}"
