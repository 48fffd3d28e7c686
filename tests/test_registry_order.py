"""Registry-ordering contract.

The external verifier samples the FIRST 50 entries of ``all_queries()``
in iteration order, so ordering is part of the driver contract:
every query that has never received a green driver CORRECTNESS row —
and every newly added query — must sit inside that window.

Green-ness is read from tests/driver_verdicts.json: each query name's
latest driver round and whether that row was green (folded once from
the per-round driver records; tools/rotate_registry.py says how).
"""

import json
from pathlib import Path

from ccgp_data_wrangling_spark.queries import _PRIORITY, all_oracles, all_queries

VERDICTS = Path(__file__).with_name("driver_verdicts.json")


def test_never_green_queries_fill_driver_window():
    """All never-green queries fit in the 50-slot window — or, when
    there are more than 50, the window must be filled ENTIRELY with
    never-green queries: a slot spent re-checking an already-green
    query while a never-green one waits outside would waste the
    driver's budget."""
    verdicts = json.loads(VERDICTS.read_text())
    assert verdicts, f"{VERDICTS} holds no driver verdicts"
    green = {n for n, v in verdicts.items() if v["green"]}
    names = list(all_queries())
    window = names[:50]
    never_green = [n for n in names if n not in green]
    outside = [n for n in never_green if n not in set(window)]
    if outside:
        wasted = [n for n in window if n in green]
        assert not wasted, (
            f"green queries {wasted} occupy window slots while "
            f"never-green {outside} wait outside"
        )


def test_priority_names_all_registered():
    names = set(all_queries())
    missing = [n for n in _PRIORITY if n not in names]
    assert not missing, f"_PRIORITY names with no registered query: {missing}"


def test_priority_prefix_is_respected():
    names = list(all_queries())
    expected = [n for n in _PRIORITY if n in set(names)]
    assert names[: len(expected)] == expected


def test_every_query_has_oracle_or_is_known_exception():
    # rows-only checks are weaker; keep the no-oracle set explicit.
    no_oracle_ok = set()
    missing = set(all_queries()) - set(all_oracles()) - no_oracle_ok
    assert not missing, f"queries without oracle SQL: {missing}"
