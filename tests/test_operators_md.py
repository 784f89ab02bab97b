"""OPERATORS.md drift gate: the committed catalog listing equals what
``tools/gen_operators_md.py`` renders from the registry. Spark-free (the
catalog import builds no session)."""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _gen_module():
    path = os.path.join(_ROOT, "tools", "gen_operators_md.py")
    spec = importlib.util.spec_from_file_location("gen_operators_md", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_operators_md_matches_the_catalog():
    gen = _gen_module()
    with open(gen.OPERATORS_MD) as f:
        committed = f.read()
    assert committed == gen.render(), (
        "OPERATORS.md is stale: run `python tools/gen_operators_md.py`")
