"""The benchmark's workloads, each a fixed mix of component workloads
run in one process and one Spark session.

A component (w_catalog, w_activity, w_corpus, w_warehouse) owns its
inputs, oracle, ops and per-layer counters.  A workload's pass is the
concatenation of its components' passes, so every pass has the same
composition and whole passes are comparable across runs.
"""

from __future__ import annotations

from harness import load_spec
from w_activity import ActivityUpsert
from w_catalog import CatalogIngest
from w_corpus import CorpusDedup
from w_warehouse import WarehouseQueries

COMPONENTS = {c.name: c for c in (CatalogIngest, ActivityUpsert, CorpusDedup, WarehouseQueries)}
WORKLOADS = {name: tuple(COMPONENTS[c] for c in spec["components"])
             for name, spec in load_spec()["workloads"].items()}


class Mix:
    """One workload: its components, whose ops are tagged ``(component, item)``."""

    def __init__(self, name: str, seed: int, size: str, work_dir: str, tracer, cpus: int) -> None:
        self.parts = [cls(seed, size, work_dir, tracer, cpus) for cls in WORKLOADS[name]]
        self.passes = load_spec()["workloads"][name]["passes"]

    def compute_oracle(self) -> None:
        for p in self.parts:
            p.compute_oracle()

    def pass_items(self, pass_no: int) -> list[tuple]:
        return [(p, item) for p in self.parts for item in p.pass_items(pass_no)]

    def final_check(self) -> bool:
        return all([p.final_check() for p in self.parts])

    def reset_counters(self) -> None:
        for p in self.parts:
            p.reset_counters()

    def layer_metrics(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for p in self.parts:
            out.update(p.layer_metrics())
        stored, fed = (sum(b) for b in zip(*(p.stored_and_input_bytes() for p in self.parts)))
        out["stored_bytes_per_input_byte"] = stored / fed if fed else 0.0
        return out

    def close(self) -> None:
        for p in self.parts:
            p.close()
