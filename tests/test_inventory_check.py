"""CI guard: the generated registry-inventory table in COVERAGE.md must
match the live registry (tools/gen_inventory.py). Inventory drift — an
entry added without regenerating, or a stale count — fails the suite."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO / "tools"))


def test_inventory_tables_in_sync():
    import gen_inventory

    path = gen_inventory.TARGET
    assert gen_inventory.splice(path, gen_inventory.render()) == path.read_text(), (
        f"{path.name} inventory drifted — run: python tools/gen_inventory.py --write"
    )


def test_every_entry_has_an_oracle():
    """The repo's standing bar: zero rows-only entries."""
    import gen_inventory

    rows = gen_inventory.collect_rows()
    assert len(rows) >= 180
    weak = [r[1] for r in rows if r[3] != "full oracle"]
    assert weak == []
