"""The query registry: plan modules are leaves, one import list in
``plans/analytics.py`` fixes the registration order, and one DuckDB hex
parser (``registry._hex_int_sql``) reads md5 nibbles for every oracle."""

from __future__ import annotations

import ast
import hashlib
import json
import os
import random
import subprocess
import sys

import duckdb
import pytest

from data_engineer_task_spark.plans import analytics
from data_engineer_task_spark.plans.registry import QUERIES, _hex_int_sql

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "data_engineer_task_spark.plans"


def _import_list() -> list[str]:
    """Plan modules named by ``analytics.py``'s ``from . import (...)``,
    in statement order."""
    with open(analytics.__file__) as f:
        tree = ast.parse(f.read())
    lists = [
        [a.name for a in n.names]
        for n in tree.body
        if isinstance(n, ast.ImportFrom) and n.level == 1 and n.module is None
    ]
    assert len(lists) == 1, "expected exactly one `from . import (...)` list"
    return lists[0]


# Imports the given plan modules one at a time in a fresh interpreter and
# reports, per module, which plan modules and which entries each import
# added; then imports plans.analytics and reports the module order of
# QUERIES.
_PROBE = """
import importlib, json, sys
from data_engineer_task_spark.plans.registry import QUERIES
pkg = "data_engineer_task_spark.plans."
plan_mods = lambda: {k for k in sys.modules if k.startswith(pkg + "analytics")}
steps = []
for m in sys.argv[1:]:
    mods, names = plan_mods(), set(QUERIES)
    importlib.import_module(pkg + m)
    added = set(QUERIES) - names
    steps.append({
        "module": m,
        "new_modules": sorted(plan_mods() - mods),
        "entry_modules": sorted({QUERIES[k].__module__ for k in added}),
        "n_entries": len(added),
    })
importlib.import_module(pkg + "analytics")
print(json.dumps({"steps": steps,
                  "order": [f.__module__ for f in QUERIES.values()]}))
"""


def _module_blocks(modules: list[str]) -> list[str]:
    blocks: list[str] = []
    for m in modules:
        if not blocks or blocks[-1] != m:
            blocks.append(m)
    return blocks


@pytest.mark.parametrize("direction", ["ascending", "descending"])
def test_plan_module_import_registers_only_its_own_entries(direction):
    """Importing one plan module registers its own entries and loads no
    other plan module. Both import orders run, so an import of a module
    earlier or later in the list shows up in one of them; the first
    import of each run is into a fresh interpreter. Importing
    plans.analytics afterwards still yields the import-list order."""
    mods = _import_list()
    if direction == "descending":
        mods = mods[::-1]
    env = {**os.environ, "PYTHONPATH": REPO}
    out = subprocess.run(
        [sys.executable, "-c", _PROBE, *mods],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    report = json.loads(out.stdout.strip().splitlines()[-1])
    for step in report["steps"]:
        full = f"{PKG}.{step['module']}"
        assert step["new_modules"] == [full], step
        assert step["entry_modules"] == [full], step
        assert step["n_entries"] > 0, step
    expected = [f"{PKG}.analytics"] + [f"{PKG}.{m}" for m in _import_list()]
    assert _module_blocks(report["order"]) == expected


def test_registration_order_follows_the_import_list():
    """``__module__`` of each QUERIES value runs block by block in the
    order of analytics.py's import list (analytics.py's own entries
    first) — the order the driver's correctness window reads."""
    expected = [f"{PKG}.analytics"] + [f"{PKG}.{m}" for m in _import_list()]
    got = _module_blocks([fn.__module__ for fn in QUERIES.values()])
    assert got == expected


def _digests(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    return [
        hashlib.md5(rng.randbytes(rng.randrange(1, 40))).hexdigest()
        for _ in range(n)
    ]


def test_hex_int_sql_matches_python_int_parse():
    """DuckDB value of ``_hex_int_sql(h, n, p)`` == ``int(h[p-1:p-1+n], 16)``
    for n = 1..12 at integer positions and at an SQL-expression
    position, over seeded random md5 digests."""
    digests = _digests(200, seed=20261018)
    con = duckdb.connect()
    con.execute("CREATE TABLE d (h VARCHAR, pp INTEGER)")
    rng = random.Random(7)
    rows = [(h, rng.randrange(1, 22)) for h in digests]
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    for n in range(1, 13):
        for p in (1, 2, 33 - n):
            got = con.execute(
                f"SELECT {_hex_int_sql('h', n, p)} FROM d ORDER BY rowid"
            ).fetchall()
            assert [g[0] for g in got] == [
                int(h[p - 1 : p - 1 + n], 16) for h, _ in rows
            ], (n, p)
        got = con.execute(
            f"SELECT {_hex_int_sql('h', n, 'pp')} FROM d ORDER BY rowid"
        ).fetchall()
        assert [g[0] for g in got] == [
            int(h[pp - 1 : pp - 1 + n], 16) for h, pp in rows
        ], (n, "pp")
