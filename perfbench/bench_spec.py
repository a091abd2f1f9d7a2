"""Metric names and units, read from the BENCHMARK.json beside the
benchmark (the single source of truth for what a run reports)."""

from __future__ import annotations

import json
import os

SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "BENCHMARK.json")


def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def per_layer_names() -> list[str]:
    return [m["name"] for m in spec()["per_layer"]]


def units() -> dict[str, str]:
    s = spec()
    return {m["name"]: m["unit"] for m in s["end_to_end"] + s["per_layer"]}
