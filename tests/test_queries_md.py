"""QUERIES.md is generated from the live registry and must not lag it:
regenerate with ``python tools/gen_queries_md.py`` after changing a
query's name, oracle, bench flag or first docstring sentence."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_queries_md_matches_registry():
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", os.path.join(REPO, "tools", "gen_queries_md.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(os.path.join(REPO, "QUERIES.md")) as f:
        committed = f.read()
    assert gen.render() == committed, (
        "QUERIES.md is stale; run `python tools/gen_queries_md.py`"
    )
