"""bench.py's driver contract: the headline keys it times are registered
queries, and the one stdout line it prints parses whole inside the
driver's tail window. Pure functions, no Spark session."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import GENERATIONS, TAIL_FLOOR, contract_line  # noqa: E402


def test_headline_keys_are_registered_once():
    from uforwarder_spark.registry import QUERIES

    names = [n for _sfx, hl in GENERATIONS for n in hl]
    assert len(set(names)) == len(names), "a key is timed in two generations"
    assert [n for n in names if n not in QUERIES] == []


def test_contract_line_fits_the_tail_window():
    """Worst case: every key at 123.456 s (no headline key runs 1000 s).
    The line must parse whole, carry the contract fields and every key,
    and stay under the floor."""
    timings = {sfx: {n: 123.456 for n in hl} for sfx, hl in GENERATIONS}
    line = contract_line(timings, 0.1)
    parsed = json.loads(line)
    assert len(line) <= TAIL_FLOOR
    assert {"metric", "value", "unit", "queries", "sf"} <= parsed.keys()
    assert parsed["unit"] == "sec" and parsed["sf"] == 0.1
    assert parsed["value"] == round(123.456 * len(GENERATIONS[0][1]), 3)
    for sfx, hl in GENERATIONS:
        assert parsed[f"queries{sfx}"] == timings[sfx]
        assert f"value{sfx}" in parsed
