"""Every ``SPARK_GRAFT_*`` environment variable the code reads is listed
in the README's Environment table, and the table lists no other."""

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


def _code_knobs() -> set[str]:
    found: set[str] = set()
    for entry in SCANNED:
        path = REPO / entry
        files = path.rglob("*.py") if path.is_dir() else [path]
        for f in files:
            found |= set(KNOB.findall(f.read_text()))
    return found


def _readme_knobs() -> set[str]:
    text = (REPO / "README.md").read_text()
    table = text.split("\n## Environment\n", 1)[1].split("\n## ", 1)[0]
    return set(re.findall(r"^\| `(SPARK_GRAFT_[A-Z0-9_]+)` \|", table, re.M))


def test_every_knob_is_documented():
    assert _code_knobs() == _readme_knobs()
