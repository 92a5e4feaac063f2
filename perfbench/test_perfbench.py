"""Self-tests of the benchmark (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import reference  # noqa: E402
from tracing import Tracer, fold_event_log, self_times  # noqa: E402

from kgx.spark.run import TAG_DISTINCT_AUTO_MIN_RATE_LEXICON  # noqa: E402
from kgx.tagcore import TaggerArtifact  # noqa: E402

PARQUETS = ("transcripts.parquet", "alias_dict.parquet", "patterns.parquet")


def _read(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize("workload", gen.PARAMS)
def test_same_seed_same_inputs(workload, tmp_path):
    """Parquet inputs are byte-identical for one seed; the artifact
    (an npz, whose zip entries carry a write time) is equal array by
    array."""
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write(gen.build(workload, 5), a)
    gen.write(gen.build(workload, 5), b)
    gen.write(gen.build(workload, 6), c)
    arrivals = [os.path.join(gen.STREAM_DIR, "arrivals", f"b{k}.parquet")
                for k in range(gen.STREAM_BATCHES)]
    for name in PARQUETS:
        for d in ("", gen.WARMUP_DIR, gen.STREAM_DIR):
            assert (_read(os.path.join(a, d, name))
                    == _read(os.path.join(b, d, name)))
    for name in arrivals:
        assert _read(os.path.join(a, name)) == _read(os.path.join(b, name))
    art_a = TaggerArtifact.load(os.path.join(a, "tagger_v1.npz"))
    art_b = TaggerArtifact.load(os.path.join(b, "tagger_v1.npz"))
    assert art_a.forms == art_b.forms and art_a.etypes == art_b.etypes
    assert np.array_equal(art_a.transitions, art_b.transitions)
    assert (_read(os.path.join(a, "transcripts.parquet"))
            != _read(os.path.join(c, "transcripts.parquet")))


@pytest.mark.parametrize("seed", [1, 2])
def test_dup_rate_sides_of_the_break_even(seed):
    """kg_openworld stays well below the lexicon break-even (auto mode
    tags per row); kg_repeat is far above it (auto mode tags distinct
    texts)."""
    lo = gen._shape(gen.build("kg_openworld", seed))
    hi = gen._shape(gen.build("kg_repeat", seed))
    assert lo["dup_rate"] < TAG_DISTINCT_AUTO_MIN_RATE_LEXICON / 5
    assert hi["dup_rate"] > TAG_DISTINCT_AUTO_MIN_RATE_LEXICON * 3
    assert lo["lexicon_forms"] > 3000
    assert lo["dict_entities"] < lo["entities"]


@pytest.mark.parametrize("seed", [1, 2])
def test_stream_batches_keep_adding_nodes(seed, tmp_path):
    """Every arrival batch after the first mentions surfaces that
    neither alias_dict nor an earlier batch holds, so the streaming
    updater's incremental LSH/CC branch runs on every batch. The
    arrivals are the union fixture's turns, cut in order."""
    from kgx import oracle
    from kgx.contract import normalize

    fx = gen.build("kg_openworld", seed)
    gen.write(fx, str(tmp_path))
    sdir = os.path.join(str(tmp_path), gen.STREAM_DIR)
    artifact = TaggerArtifact.load(os.path.join(sdir, "tagger_v1.npz"))
    seen = {(e.etype, normalize(s)) for e in fx["dict_ents"]
            for s in e.dict_surfaces()}
    union = []
    for k in range(gen.STREAM_BATCHES):
        turns = pq.read_table(os.path.join(
            sdir, "arrivals", f"b{k}.parquet")).to_pylist()
        union += turns
        keys = {(m["etype"], normalize(m["surface"]))
                for m in oracle.tag_and_extract_mentions(turns, artifact)}
        if k > 0:
            assert keys - seen, f"batch {k} adds no node"
        seen |= keys
    assert union == pq.read_table(
        os.path.join(sdir, "transcripts.parquet")).to_pylist()


def test_ensure_caches_and_records_shape(tmp_path):
    d, meta = gen.ensure("kg_repeat", 3, str(tmp_path))
    again, meta2 = gen.ensure("kg_repeat", 3, str(tmp_path))
    assert d == again and meta == meta2
    assert meta["turns"] > 10_000 and meta["max_lsh_bucket"] <= 64
    assert {"dup_rate", "distinct_surfaces", "nodes"} <= set(meta)


def test_reference_check_catches_wrong_output(tmp_path):
    """The correctness check accepts the reference's own tables and
    flags a dropped edge, a changed weight and a moved entity."""
    fixture, _ = gen.ensure("kg_repeat", 3, str(tmp_path / "fx"))
    ref = reference.load(fixture)

    class Warehouse:
        def path(self, name):
            return str(tmp_path / name)

    def write(edges, entity_map, n_vertices=ref["vertices"]):
        cols = list(zip(*edges))
        pq.write_table(pa.table({"subj_id": cols[0], "pred": cols[1],
                                 "obj_id": cols[2], "weight": cols[3]}),
                       Warehouse().path("edges"))
        pq.write_table(pa.table({"node_id": list(entity_map),
                                 "canonical_id": list(entity_map.values())}),
                       Warehouse().path("entity_map"))
        pq.write_table(pa.table({"entity_id": [str(i) for i in
                                               range(n_vertices)]}),
                       Warehouse().path("vertices"))
        return reference.check(Warehouse(), ref)

    edges, em = ref["edges"], ref["entity_map"]
    assert write(edges, em) == []
    assert "triple set" in write(edges[1:], em)[0]
    heavier = [edges[0][:3] + [edges[0][3] + 1]] + edges[1:]
    assert "weights" in write(heavier, em)[0]
    node = next(iter(em))
    assert "entity_map" in write(edges, {**em, node: "elsewhere"})[0]
    assert "vertices" in write(edges, em, ref["vertices"] + 1)[0]


def test_self_times():
    spans = [
        {"name": "run", "start": 0.0, "end": 10.0, "parent": None},
        {"name": "a", "start": 1.0, "end": 4.0, "parent": 0},
        {"name": "b", "start": 3.0, "end": 6.0, "parent": 0},  # overlaps a
        {"name": "c", "start": 8.0, "end": 12.0, "parent": 0},  # past end
        {"name": "a1", "start": 1.5, "end": 2.0, "parent": 1},
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 2, 2.5, 3, 4, 0.5])


def test_tracer_wraps_and_restores():
    class Target:
        def work(self, x):
            return x + 1

    original = Target.__dict__["work"]
    tr = Tracer("t")
    tr.wrap(Target, "work", "target.work", record=lambda r: {"out": r})
    assert Target().work(1) == 2
    tr.unwrap_all()
    assert Target.__dict__["work"] is original
    (s,) = tr.spans
    assert s["name"] == "target.work" and s["end"] >= s["start"]
    assert s["out"] == 2 and s["run"] == "t"
    assert tr.totals()["target.work"]["count"] == 1


def test_fold_event_log_on_captured_log():
    """A trimmed log captured from a Runner pass over a 40-conversation
    fixture at local[4]: one ungrouped job, two tag-stage jobs (the
    second runs the tagger UDF on 4 tasks and writes `tagged`) and one
    canon/cc job. Expected values are the hand sums of its fields."""
    with open(os.path.join(HERE, "testdata", "eventlog_small.jsonl")) as f:
        folded = fold_event_log(f)
    assert set(folded) == {"tag", "canon/cc"}
    tag = folded["tag"]
    assert tag["jobs"] == 2
    assert tag["python_s"] == pytest.approx((2151 + 2004 + 2274 + 2268) / 1e3)
    assert tag["python_bytes_in"] == 3648 + 4120 + 5640 + 3936
    assert tag["python_bytes_out"] == 2552 + 2936 + 4160 + 2816
    assert tag["cpu_s"] == pytest.approx(
        (21907307 + 328616405 + 358087192 + 211045838 + 255718300) / 1e9)
    assert tag["gc_s"] == pytest.approx(4 * 95 / 1e3)
    assert tag["write_bytes"] == 8782 + 9171 + 10517 + 9009
    assert tag["shuffle_write_bytes"] == 0 and tag["spill_bytes"] == 0
    # task commits (3 + 1 + 1 + 5 ms) plus the driver's job commit (15 ms)
    assert tag["commit_s"] == pytest.approx(0.025)
    cc = folded["canon/cc"]
    assert cc["jobs"] == 1
    assert cc["cpu_s"] == pytest.approx((12016996 + 13104449) / 1e9)


def test_generator_is_seeded_not_global():
    random.seed(0)
    a = gen.build("kg_openworld", 4)["rows"]["text"][:50]
    random.seed(1)
    b = gen.build("kg_openworld", 4)["rows"]["text"][:50]
    assert a == b
