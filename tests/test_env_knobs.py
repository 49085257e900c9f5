"""Every ``SPARK_GRAFT_*`` environment variable the code reads is listed
in the README's Environment table, the table lists no other, and each
variable is named in one module only."""

from __future__ import annotations

import pathlib
import re

REPO = pathlib.Path(__file__).resolve().parents[1]
SCANNED = [
    "retail_sales_project_bigdata_spark",
    "tools",
    "bench.py",
    "__spark_entry__.py",
]
KNOB = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")


def _knob_modules() -> dict[str, set[str]]:
    found: dict[str, set[str]] = {}
    for entry in SCANNED:
        path = REPO / entry
        files = path.rglob("*.py") if path.is_dir() else [path]
        for f in files:
            for knob in KNOB.findall(f.read_text()):
                found.setdefault(knob, set()).add(str(f.relative_to(REPO)))
    return found


def _readme_knobs() -> set[str]:
    text = (REPO / "README.md").read_text()
    table = text.split("\n## Environment\n", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)` \|", table, re.M))


def test_every_knob_is_documented():
    assert set(_knob_modules()) == _readme_knobs()


def test_each_knob_is_named_in_one_module():
    shared = {k: m for k, m in _knob_modules().items() if len(m) > 1}
    assert not shared, shared
