"""Seeded workload generator for the KG pipeline benchmark.

Writes the fixture layout that `kgx.spark.run.Runner` and
`kgx.spark.run.load_dims` read (transcripts.parquet, alias_dict.parquet,
patterns.parquet, tagger_v1.npz) plus a meta.json with the measured
shape of the corpus: turn count, duplication rate (turns / distinct
texts), distinct surfaces and the node count a pipeline must produce.

Built from the public builders in `kgx.synth` (`Entity`,
`render_sentence`, `transcripts_table`, `alias_dict_table`,
`patterns_table`, `build_artifact`); only the entity universe and the
turn sampling are the benchmark's own. Output is a pure function of
(workload, seed, generator parameters) and is cached on disk under that
key, so repeated runs with one seed reuse the same bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil

import pyarrow.parquet as pq

from kgx import synth
from kgx.contract import band_keys, minhash_signature, normalize
from kgx.spark.lsh import MAX_LSH_BUCKET

GEN_VERSION = 3
# The set-up's warm-up pass runs over the first WARMUP_ROWS turns,
# written as a fixture of its own in WARMUP_DIR.
WARMUP_DIR = "warmup"
WARMUP_ROWS = 600
# The traced run's streaming section: the first
# STREAM_BATCHES * STREAM_ROWS turns, written as a fixture of their own
# in STREAM_DIR (the union of the arrivals, for the reference) and cut
# in arrival order into STREAM_DIR/arrivals/b<k>.parquet.
STREAM_DIR = "stream"
STREAM_BATCHES = 3
STREAM_ROWS = 400

# Per-workload generator parameters. They are part of the cache key.
PARAMS = {
    # Open world: 1.2k entities (~3.5k lexicon forms), 30% of them
    # missing from alias_dict, so their surfaces become provisional
    # nodes that reach MinHash-LSH and connected components. Entity
    # sentences are almost all distinct: the dup rate stays near 1.5,
    # far below the tag stage's lexicon break-even of 15.
    "kg_openworld": {"entities": 1200, "absent": 0.3, "turns": 12000,
                     "pool": 4},
    # Closed 120-entity gazetteer (kgx.synth.build_gazetteer), turns
    # drawn from a small pool of distinct texts: dup rate far above 15,
    # so auto mode tags distinct texts and joins the result back.
    "kg_repeat": {"turns": 14000, "distinct_texts": 300},
}

_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def _word(rng: random.Random, syllables: int) -> str:
    w = "".join(rng.choice(_CONS) + rng.choice(_VOWELS)
                + (rng.choice(_CONS) if rng.random() < 0.3 else "")
                for _ in range(syllables))
    return w.capitalize()


def open_universe(rng: random.Random, n: int) -> list[synth.Entity]:
    """`n` entities (equal thirds PER/LOC/ORG) with two-word random
    names, one alias and at most one misspelling each. Normalized
    surfaces are unique across the universe."""
    used: set[str] = set()
    ents: list[synth.Entity] = []

    def claim(s: str) -> bool:
        k = normalize(s)
        if k in used:
            return False
        used.add(k)
        return True

    etypes = ("PER", "LOC", "ORG")
    while len(ents) < n:
        etype = etypes[len(ents) % 3]
        first, last = _word(rng, rng.randint(2, 3)), _word(rng, 3)
        canonical = f"{first} {last}"
        if not claim(canonical):
            continue
        alias = f"{first} {last[0]}." if etype == "PER" else last
        e = synth.Entity(etype, canonical)
        if claim(alias):
            e.aliases.append(alias)
        m = synth._misspell(canonical)
        if m and claim(m):
            e.misspells.append(m)
        ents.append(e)
    return ents


def max_band_bucket(ents: list[synth.Entity]) -> int:
    """Largest (etype, LSH band) bucket over every surface that can
    become a node. The Spark linker star-links buckets above
    MAX_LSH_BUCKET while the sequential oracle keeps the clique, so a
    workload must stay under the cap for the two to be comparable."""
    sizes: dict[tuple[str, str], int] = {}
    for e in ents:
        for norm in {normalize(f) for f in e.all_forms()}:
            for bk in set(band_keys(minhash_signature(norm))):
                sizes[(e.etype, bk)] = sizes.get((e.etype, bk), 0) + 1
    return max(sizes.values())


def _turn_rows(rng: random.Random, n_rows: int, next_text) -> dict:
    """Exactly `n_rows` turns in the conversation/turn structure of
    kgx.synth.generate_transcripts (2-16 turns, every 100th
    conversation long, ~10% tool turns); the last conversation is cut
    short where the count is reached."""
    rows = {k: [] for k in ("conv_id", "turn_idx", "role", "text",
                            "tool", "ts")}
    c = 0
    while len(rows["text"]) < n_rows:
        n_turns = 60 if c % 100 == 99 else rng.randint(2, 16)
        n_turns = min(n_turns, n_rows - len(rows["text"]))
        for t in range(n_turns):
            role = "user" if t == 0 else rng.choices(
                ("user", "assistant", "tool"), weights=(45, 45, 10))[0]
            rows["conv_id"].append(f"c{c:06d}")
            rows["turn_idx"].append(t)
            rows["role"].append(role)
            rows["text"].append(next_text())
            rows["tool"].append(rng.choice(synth.TOOLS)
                                if role == "tool" else None)
            rows["ts"].append(synth.BASE_TS_US + c * 3600_000000
                              + t * 7_000000)
        c += 1
    return rows


def _surfaces(text: str, spans) -> set[tuple[str, str]]:
    return {(etype, normalize(text[b:e])) for b, e, etype in spans}


def build(workload: str, seed: int) -> dict:
    """In-memory fixture: {"rows": transcript columns, "ents": every
    entity, "dict_ents": the entities alias_dict knows, "mentioned": the
    (etype, normalized surface) of every rendered mention}."""
    p = PARAMS[workload]
    rng = random.Random(f"{workload}:{seed}")
    mentioned: set[tuple[str, str]] = set()
    if workload == "kg_repeat":
        ents = synth.build_gazetteer()
        pool = [synth.render_sentence(rng, ents)
                for _ in range(p["distinct_texts"])]

        def pick() -> str:
            text, spans = rng.choice(pool)
            mentioned.update(_surfaces(text, spans))
            return text

        rows = _turn_rows(rng, p["turns"], pick)
        return {"rows": rows, "ents": ents, "dict_ents": ents,
                "mentioned": mentioned}

    ents = open_universe(rng, p["entities"])
    order = list(ents)
    rng.shuffle(order)
    dict_ents = sorted(order[int(len(order) * p["absent"]):],
                       key=lambda e: (e.etype, e.canonical))
    by_type = {t: [e for e in ents if e.etype == t]
               for t in ("PER", "LOC", "ORG")}

    def text() -> str:
        # render_sentence scans its entity list per call, so each
        # sentence draws from a small random sub-pool of the universe
        sub = [e for t in ("PER", "LOC", "ORG")
               for e in rng.sample(by_type[t], p["pool"])]
        text, spans = synth.render_sentence(rng, sub)
        mentioned.update(_surfaces(text, spans))
        return text

    return {"rows": _turn_rows(rng, p["turns"], text), "ents": ents,
            "dict_ents": dict_ents, "mentioned": mentioned}


def cache_key(workload: str, seed: int) -> str:
    blob = json.dumps({"v": GEN_VERSION, "w": workload, "s": seed,
                       "p": PARAMS[workload],
                       "slices": [WARMUP_ROWS, STREAM_BATCHES, STREAM_ROWS]},
                      sort_keys=True)
    return hashlib.sha256(blob.encode()).hexdigest()[:16]


def _shape(fx: dict) -> dict:
    texts = fx["rows"]["text"]
    dict_norms = {(e.etype, normalize(s)) for e in fx["dict_ents"]
                  for s in e.dict_surfaces()}
    return {
        "turns": len(texts),
        "distinct_texts": len(set(texts)),
        "dup_rate": round(len(texts) / len(set(texts)), 4),
        "lexicon_forms": sum(len(e.all_forms()) for e in fx["ents"]),
        "entities": len(fx["ents"]),
        "dict_entities": len(fx["dict_ents"]),
        "distinct_surfaces": len(fx["mentioned"]),
        "max_lsh_bucket": max_band_bucket(fx["ents"]),
        # graph nodes: every alias_dict alias plus every surface the
        # corpus mentions (provisional when absent from the dict)
        "nodes": len(dict_norms | fx["mentioned"]),
    }


def write(fx: dict, out: str) -> dict:
    transcripts = synth.transcripts_table(fx["rows"])
    alias_dict = synth.alias_dict_table(fx["dict_ents"])
    patterns = synth.patterns_table()
    artifact = synth.build_artifact(fx["ents"])
    n_stream = STREAM_BATCHES * STREAM_ROWS
    for d, table in ((out, transcripts),
                     (os.path.join(out, WARMUP_DIR),
                      transcripts.slice(0, WARMUP_ROWS)),
                     (os.path.join(out, STREAM_DIR),
                      transcripts.slice(0, n_stream))):
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, os.path.join(d, "transcripts.parquet"))
        pq.write_table(alias_dict, os.path.join(d, "alias_dict.parquet"))
        pq.write_table(patterns, os.path.join(d, "patterns.parquet"))
        artifact.save(os.path.join(d, "tagger_v1.npz"))
    arrivals = os.path.join(out, STREAM_DIR, "arrivals")
    os.makedirs(arrivals)
    for k in range(STREAM_BATCHES):
        pq.write_table(transcripts.slice(k * STREAM_ROWS, STREAM_ROWS),
                       os.path.join(arrivals, f"b{k}.parquet"))
    return _shape(fx)


def ensure(workload: str, seed: int, cache_dir: str) -> tuple[str, dict]:
    """Fixture directory for (workload, seed), generated on first use.
    A directory is complete once its meta.json exists."""
    d = os.path.join(cache_dir, f"{workload}-{seed}-{cache_key(workload, seed)}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        fx = build(workload, seed)
        meta = write(fx, tmp)
        if meta["max_lsh_bucket"] > MAX_LSH_BUCKET:
            raise ValueError(
                f"{workload} seed {seed}: LSH bucket of "
                f"{meta['max_lsh_bucket']} exceeds {MAX_LSH_BUCKET}")
        meta.update(workload=workload, seed=seed, params=PARAMS[workload],
                    generator_version=GEN_VERSION)
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as f:
        return d, json.load(f)


