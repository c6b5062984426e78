"""Seeded input generators for the benchmark.

Every input is a pure function of (kind, size, seed) and is written once
into the benchmark's cache as parquet, so a workload times only the
program reading it. Truth columns never reach the program: they live in
side files next to the inputs.

Generation is plain Python + pyarrow (no Spark job), so it runs before the
session starts and never shows up in a timed region.
"""

from __future__ import annotations

import os
import random
import shutil
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALPHABET = "abcdefghijklmnopqrstuvwxyz"

FIRST_NAMES = [
    "liam", "noah", "oliver", "theodore", "james", "olivia", "emma", "amelia",
    "charlotte", "mia", "sophia", "isabella", "ava", "evelyn", "luna", "harper",
    "henry", "lucas", "benjamin", "elijah", "william", "jack", "levi", "mateo",
    "ezra", "hudson", "grace", "chloe", "nora", "hazel", "ellie", "stella",
    "aurora", "violet", "willow", "lily", "ivy", "zoe", "leo", "owen",
]
SYLLABLES = [
    "an", "ber", "cal", "den", "fer", "gar", "hol", "ing", "jen", "kin",
    "lor", "man", "nes", "ott", "per", "quin", "ros", "sen", "ton", "ur",
    "vel", "wick", "xan", "yor", "zel", "ash", "brook", "dale", "ford", "ley",
    "mont", "son", "ward", "well", "worth", "by", "ham", "ridge", "stone", "wood",
]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "pipe", "valve", "screw", "nut"]
DOC_VOCAB = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query big key window row table stream merge data "
    "the join vector customer"
).split()

DOC_SPAN_TYPE = pa.list_(
    pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
)


def mutate(text: str, rng: random.Random, n_edits: int) -> str:
    """n single-character edits: substitute, insert, delete or adjacent swap."""
    s = list(text)
    for _ in range(n_edits):
        op = rng.randrange(4)
        i = rng.randrange(len(s))
        if op == 0:
            s[i] = rng.choice([c for c in ALPHABET if c != s[i]])
        elif op == 1:
            s.insert(i, rng.choice(ALPHABET))
        elif op == 2 and len(s) > 1:
            del s[i]
        elif i + 1 < len(s) and s[i] != s[i + 1]:
            s[i], s[i + 1] = s[i + 1], s[i]
        else:
            s[i] = rng.choice([c for c in ALPHABET if c != s[i]])
    return "".join(s)


def _word(rng: random.Random) -> str:
    return "".join(rng.choice(ALPHABET) for _ in range(rng.randint(4, 9)))


# --------------------------------------------------------------------------
# ER corpus: the input-hint schema (doc_id, spans) + a truth side file
# --------------------------------------------------------------------------


def _spans(text: str, rng: random.Random, doc_id: str) -> list[dict]:
    """Split `text` into 1-4 text spans with media spans interleaved, so the
    pipeline's doc_text_key (text spans joined by one space) rebuilds it."""
    words = text.split(" ")
    n_cuts = min(rng.randint(0, 3), len(words) - 1)
    cuts = sorted(rng.sample(range(1, len(words)), n_cuts)) + [len(words)]
    spans, prev, offset = [], 0, 0
    for k, c in enumerate(cuts):
        piece = " ".join(words[prev:c])
        prev = c
        if rng.random() < 0.4:
            kind = rng.choice(["image", "audio"])
            spans.append({"kind": kind, "text": "", "offset": offset,
                          "media_ref": f"media://{kind}/{doc_id}/{k}"})
        spans.append({"kind": "text", "text": piece, "media_ref": None, "offset": offset})
        offset += len(piece) + 1
    return spans


def er_corpus(n_entities: int, seed: int) -> tuple[pa.Table, pa.Table]:
    """~2.5 docs per entity: a base text (a first name plus 4-9 words from a
    vocabulary that grows with the corpus) and 0-3 variants, each 1-2
    single-character edits away. Returns (docs, truth)."""
    rng = random.Random(seed * 1_000_003 + 17)
    vocab = [_word(rng) for _ in range(max(5000, n_entities))]
    doc_ids, spans, truth = [], [], []
    for e in range(n_entities):
        base = " ".join([rng.choice(FIRST_NAMES)]
                        + [rng.choice(vocab) for _ in range(rng.randint(4, 9))])
        for v in range(1 + rng.randint(0, 3)):
            text = base if v == 0 else mutate(base, rng, rng.randint(1, 2))
            doc_id = f"doc-{e:07d}-{v}"
            doc_ids.append(doc_id)
            spans.append(_spans(text, rng, doc_id))
            truth.append(e)
    order = list(range(len(doc_ids)))
    rng.shuffle(order)  # rows arrive in no particular entity order
    docs = pa.table({
        "doc_id": pa.array([doc_ids[i] for i in order], pa.string()),
        "spans": pa.array([spans[i] for i in order], DOC_SPAN_TYPE),
    })
    truth_t = pa.table({
        "doc_id": pa.array([doc_ids[i] for i in order], pa.string()),
        "entity_id": pa.array([truth[i] for i in order], pa.int64()),
    })
    return docs, truth_t


# --------------------------------------------------------------------------
# string joins: name-like left/right tables + the true (lid, rid) links
# --------------------------------------------------------------------------


def name_tables(n_entities: int, seed: int) -> tuple[pa.Table, pa.Table, pa.Table]:
    """Left: one distinct "first surname" name per entity. Right: 0-2
    variants per entity, each 1-2 single-character edits from its left
    name. Returns (left, right, truth links)."""
    rng = random.Random(seed * 7_919 + 3)
    seen: set[str] = set()
    left_names: list[str] = []
    while len(left_names) < n_entities:
        sur = "".join(rng.choice(SYLLABLES) for _ in range(rng.randint(2, 3)))
        name = f"{rng.choice(FIRST_NAMES)} {sur}"
        if name not in seen:
            seen.add(name)
            left_names.append(name)
    rids, rnames, links = [], [], []
    for lid, name in enumerate(left_names):
        for _ in range(rng.randint(0, 2)):
            rid = len(rids)
            rids.append(rid)
            rnames.append(mutate(name, rng, rng.randint(1, 2)))
            links.append((lid, rid))
    left = pa.table({"lid": pa.array(range(n_entities), pa.int64()),
                     "name": pa.array(left_names, pa.string())})
    right = pa.table({"rid": pa.array(rids, pa.int64()),
                      "name": pa.array(rnames, pa.string())})
    truth = pa.table({"lid": pa.array([a for a, _ in links], pa.int64()),
                      "rid": pa.array([b for _, b in links], pa.int64())})
    return left, right, truth


def part_names(seed: int) -> pa.Table:
    """64 distinct two-word part names, as in the sf0.1 part table."""
    rng = random.Random(seed * 31 + 5)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    rng.shuffle(names)
    return pa.table({"name": pa.array(names, pa.string())})


# --------------------------------------------------------------------------
# small calls: sf0.1-shaped tables
# --------------------------------------------------------------------------


def small_tables(seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """customer/supplier balances, error events, order prices, documents
    with planted near-duplicate groups (truth in `doc_truth`) and clustered
    64-d embeddings — the row counts of the sf0.1 tables at scale 1."""
    rs = np.random.default_rng(seed)
    n_cust, n_supp = int(15_000 * scale), max(int(1_000 * scale), 50)
    n_err, n_ord = int(20_000 * scale), int(150_000 * scale)
    n_docs, n_emb = int(5_000 * scale), max(int(2_000 * scale), 500)

    out = {
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_cust), 2),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_acctbal": np.round(rs.uniform(-999.99, 9999.99, n_supp), 2),
        }),
    }
    t0 = datetime(2024, 1, 1)
    secs = np.sort(rs.uniform(0, 5 * 86_400 * scale, n_err))
    out["events"] = pa.table({
        "event_id": np.arange(n_err, dtype=np.int64),
        "ts": pa.array([t0 + timedelta(seconds=float(s)) for s in secs],
                       pa.timestamp("us")),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_totalprice": np.round(rs.uniform(900.0, 500_000.0, n_ord), 2),
    })

    # documents: ~70% random texts, ~30% near-copies (10% of words
    # replaced) of an earlier text; truth = the original's doc id
    rng = random.Random(seed * 104_729 + 11)
    texts, group = [], []
    for d in range(n_docs):
        if d > 0 and rng.random() < 0.3:
            src = rng.randrange(d)
            words = texts[src].split(" ")
            for i in rng.sample(range(len(words)), max(1, len(words) // 10)):
                words[i] = rng.choice(DOC_VOCAB)
            texts.append(" ".join(words))
            group.append(group[src])
        else:
            texts.append(" ".join(rng.choice(DOC_VOCAB) for _ in range(rng.randint(15, 60))))
            group.append(d)
    out["documents"] = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                                 "text": pa.array(texts, pa.string())})
    out["doc_truth"] = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64),
                                 "group": np.array(group, dtype=np.int64)})

    # embeddings: 40 random directions, each vector one of them plus noise
    centers = rs.normal(size=(40, 64))
    which = rs.integers(0, 40, n_emb)
    vecs = (centers[which] + rs.normal(scale=0.9, size=(n_emb, 64))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
    })
    return out


# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------


def cached(cache_dir: str, key: str, build) -> str:
    """Directory holding `build()`'s tables as <name>.parquet, built once per
    key. `build` returns {name: pyarrow.Table}. A half-written directory
    never becomes visible: tables go to a temp dir that is renamed last."""
    path = os.path.join(cache_dir, key)
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build().items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, path)
    return path
