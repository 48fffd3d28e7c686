"""Registry-rotation tool tests (tools/rotate_registry.py)."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path


def _load_tool():
    spec = importlib.util.spec_from_file_location(
        "rotate_registry",
        Path(__file__).resolve().parent.parent / "tools" / "rotate_registry.py",
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_priority_order_reds_then_never_then_stale_greens():
    tool = _load_tool()
    import __spark_entry__ as ent

    registered = list(ent.queries().keys())
    prio = tool.compute_priority()
    assert sorted(prio) == sorted(registered)  # permutation, no loss

    rounds = {
        name: (v["round"], v["green"])
        for name, v in json.loads(tool.VERDICTS.read_text()).items()
    }
    reds = [n for n in prio if n in rounds and not rounds[n][1]]
    greens = [n for n in prio if n in rounds and rounds[n][1]]
    nevers = [n for n in prio if n not in rounds]
    # reds strictly before nevers strictly before greens
    idx = {n: i for i, n in enumerate(prio)}
    if reds and nevers:
        assert max(idx[n] for n in reds) < min(idx[n] for n in nevers)
    if nevers and greens:
        assert max(idx[n] for n in nevers) < min(idx[n] for n in greens)
    # greens ordered stalest-round-first
    green_rounds = [rounds[n][0] for n in greens]
    assert green_rounds == sorted(green_rounds)
