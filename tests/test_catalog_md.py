"""CATALOG.md is generated: it must equal what scripts/gen_catalog_md.py
renders from the live registry (building the registry only imports the
plan modules, so no Spark session is needed)."""

from __future__ import annotations

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_md_matches_generator():
    spec = importlib.util.spec_from_file_location(
        "gen_catalog_md", os.path.join(ROOT, "scripts", "gen_catalog_md.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(ROOT, "CATALOG.md")) as f:
        committed = f.read()
    assert committed == gen.render(), (
        "CATALOG.md is stale: regenerate it with `python scripts/gen_catalog_md.py`"
    )
