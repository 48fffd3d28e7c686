"""Regenerate the query-registry priority list from the driver verdicts.

The driver verifies only the FIRST 50 registered queries each round,
so registration order is coverage policy: every query that has never
received a green driver row should occupy the window before anything
already verified. This tool recomputes that order from
``tests/driver_verdicts.json`` and prints (or rewrites) the
`_PRIORITY` block in ccgp_data_wrangling_spark/queries/__init__.py.

``tests/driver_verdicts.json`` maps each query name to the LATEST
driver round that checked it and whether that row was green. It was
folded once from the per-round driver records (CORRECTNESS_r01-r15)
with one rule: a row is green when it is a record with no ``err``
and none of ``rows_match``, ``schema_match``, ``hash_match`` is
false. Those records are in git history, not in the tree.

Ordering produced:
1. queries with a RED driver row and no later green (must overwrite
   the stale verdict first),
2. queries with no driver row in any round (never verified), in
   registration order,
3. greens, oldest-verified round first (stalest re-verification).

Usage:
    python tools/rotate_registry.py           # print the new list
    python tools/rotate_registry.py --write   # rewrite __init__.py
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

INIT = ROOT / "ccgp_data_wrangling_spark" / "queries" / "__init__.py"
VERDICTS = ROOT / "tests" / "driver_verdicts.json"


def compute_priority() -> list[str]:
    import __spark_entry__ as ent

    registered = list(ent.queries().keys())
    verdicts = json.loads(VERDICTS.read_text())

    reds = [n for n in registered if n in verdicts and not verdicts[n]["green"]]
    never = [n for n in registered if n not in verdicts]
    greens = sorted(
        (n for n in registered if n in verdicts and verdicts[n]["green"]),
        key=lambda n: verdicts[n]["round"],
    )
    return reds + never + greens


def rewrite(priority: list[str]) -> None:
    src = INIT.read_text()
    body = "\n".join(f'    "{n}",' for n in priority)
    new = re.sub(
        r"_PRIORITY: list\[str\] = \[\n.*?\n\]",
        f"_PRIORITY: list[str] = [\n{body}\n]",
        src,
        count=1,
        flags=re.S,
    )
    if new == src:
        raise SystemExit("no _PRIORITY block replaced — aborting")
    INIT.write_text(new)


if __name__ == "__main__":
    prio = compute_priority()
    print(f"# {len(prio)} queries; first 50 = driver window")
    for i, n in enumerate(prio[:60]):
        print(f"{i:3d}  {n}")
    if "--write" in sys.argv:
        rewrite(prio)
        print(f"\nrewrote {INIT}")
