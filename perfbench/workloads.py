"""Workload and metric definitions.

``BENCHMARK.json`` at the checkout root names the workloads and the
metrics with their units; ``plan.json`` next to this file adds what that
file has no keys for: each workload's calls and the layer it loads, and
the prediction table.

A call is a registry key (run as ``all_queries()[key](spark, sf_dir)``)
or the generated ``zonal_polygons`` call (``polygons.CALL``).
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
BENCHMARK_PATH = os.path.join(os.path.dirname(HERE), "BENCHMARK.json")
PLAN_PATH = os.path.join(HERE, "plan.json")
DATA_DIR = os.path.join(HERE, "data", "sf0.1")


@dataclass(frozen=True)
class Workload:
    name: str
    calls: tuple[str, ...]

    def pass_order(self, rng: random.Random) -> list[str]:
        """The calls of one pass in a seeded order."""
        return rng.sample(list(self.calls), len(self.calls))


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def metric_units(kind: str) -> dict[str, str]:
    """Name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    return {m["name"]: m["unit"] for m in load_json(BENCHMARK_PATH)[kind]}


def workloads() -> dict[str, Workload]:
    """The workloads ``BENCHMARK.json`` names, with their calls from ``plan.json``."""
    calls = {w["name"]: tuple(w["calls"]) for w in load_json(PLAN_PATH)["workloads"]}
    return {w["name"]: Workload(w["name"], calls[w["name"]]) for w in load_json(BENCHMARK_PATH)["workloads"]}
