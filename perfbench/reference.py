"""Expected pipeline output for a generated fixture, from the sequential
oracle (`kgx.oracle.run`), and the comparison of a committed warehouse
against it.

The result is cached next to the fixture, so it is computed once per
seed and never inside a timed region.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq

from kgx import oracle
from kgx.evalkit import triple_prf

REF_FILE = "reference.json"


def compute(fixture: str) -> dict:
    golden = oracle.run(fixture)
    # oracle.run returns the links of mentioned nodes only; the
    # entity_map covers every node, alias_dict entries included
    alias_rows = pq.read_table(
        os.path.join(fixture, "alias_dict.parquet")).to_pylist()
    _, entity_map, _, _ = oracle.link_and_canonicalize(golden["mentions"],
                                                       alias_rows)
    return {
        "edges": sorted([e["subj_id"], e["pred"], e["obj_id"], e["weight"]]
                        for e in golden["edges"]),
        "entity_map": entity_map,
        "vertices": len(golden["vertices"]),
    }


def load(fixture: str) -> dict:
    path = os.path.join(fixture, REF_FILE)
    if not os.path.exists(path):
        ref = compute(fixture)
        with open(path + ".tmp", "w") as f:
            json.dump(ref, f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)


def _table(io, name: str, columns: list[str]) -> list[dict]:
    return pq.read_table(io.path(name), columns=columns).to_pylist()


def compare(edges: list[list], entity_map: dict, ref: dict) -> list[str]:
    """Mismatches of an edge list ([subj_id, pred, obj_id, weight] rows)
    and a node_id -> canonical_id map against the reference."""
    problems = []
    edges = sorted(edges)
    prf = triple_prf({tuple(e[:3]) for e in edges},
                     {tuple(e[:3]) for e in ref["edges"]})
    if prf["precision"] != 1.0 or prf["recall"] != 1.0:
        problems.append(
            f"edges triple set: P={prf['precision']:.4f} "
            f"R={prf['recall']:.4f} false_pos={prf['false_pos'][:3]} "
            f"false_neg={prf['false_neg'][:3]}")
    elif edges != ref["edges"]:
        problems.append("edge weights differ from the reference")
    if entity_map != ref["entity_map"]:
        diff = sorted(set(entity_map.items())
                      ^ set(ref["entity_map"].items()))
        problems.append(f"entity_map differs in {len(diff)} entries, "
                        f"e.g. {diff[:3]}")
    return problems


def check(io, ref: dict) -> list[str]:
    """Mismatches between a committed warehouse and the reference; an
    empty list means the outputs are correct. Reads the parquet files
    directly, so it needs no Spark session."""
    edges = [[e["subj_id"], e["pred"], e["obj_id"], e["weight"]]
             for e in _table(io, "edges",
                             ["subj_id", "pred", "obj_id", "weight"])]
    em = {r["node_id"]: r["canonical_id"]
          for r in _table(io, "entity_map", ["node_id", "canonical_id"])}
    problems = compare(edges, em, ref)
    n_vertices = pq.read_table(io.path("vertices"),
                               columns=["entity_id"]).num_rows
    if n_vertices != ref["vertices"]:
        problems.append(f"vertices: {n_vertices} rows, reference has "
                        f"{ref['vertices']}")
    return problems
