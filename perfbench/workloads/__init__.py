"""The benchmark's workloads.

Each module exposes:

- `setup(ctx)`: stages what the workload reads beyond the source tables
  (it runs inside the set-up timer);
- `plan_pass(ctx, p) -> list[Op]`: the operations of pass `p`, in the
  seeded order;
- `before_pass(ctx)` (optional): runs before each pass, untimed.

Operation lists are pinned by name in `operations.json`, never derived
from the engine's registry, whose graded window rotates.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))

with open(os.path.join(os.path.dirname(HERE), "operations.json")) as _fh:
    OPERATIONS: dict = json.load(_fh)


def operation_names(workload: str) -> list[str]:
    return [o["name"] for o in OPERATIONS[workload]["operations"]]


@dataclass
class Ctx:
    spark: Any
    inputs: str  # this run's copy of the source tables; its basename is benchmark-only
    scratch_root: str  # where the engine's scratch_dir() resolves during the run
    rng: random.Random
    state: dict = field(default_factory=dict)  # set-up results a workload keeps

    @property
    def scratch(self) -> str:
        """The engine's scratch directory for `inputs`."""
        return os.path.join(self.scratch_root, os.path.basename(self.inputs))


def load(name: str):
    import importlib

    if name not in OPERATIONS:
        raise SystemExit(f"unknown workload {name!r}; expected one of {sorted(OPERATIONS)}")
    return importlib.import_module(f"perfbench.workloads.{name}")
