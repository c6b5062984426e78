"""Deterministic synthetic corpus of interleaved text+media documents.

Generates the BASELINE.json input_hint shape:
    (doc_id string, spans array<struct<kind string, text string,
                                       media_ref string, offset int>>)
plus a ground-truth `entity_id` for F1 evaluation.

Entity clusters follow the reference vignette's mutation protocol
(vignettes/overview.Rmd:55-63): each entity has a base text and 1..4
variants produced by single-character edits, so true matches sit within a
small edit/jaccard distance of each other.

Generation is fully distributed and seed-deterministic: `spark.range` over
(entity, variant) ids -> mapInPandas, each row derived from a counter-based
RNG keyed on (seed, entity, variant). No driver-side data, no shuffle.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

SPAN_SCHEMA = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
DOC_SCHEMA = f"doc_id string, entity_id long, spans {SPAN_SCHEMA}"

# fixed vocabulary: F1/F2 names + a DICTIONARY-like word pool (seeded, public)
_NAMES = [
    "liam", "noah", "oliver", "theodore", "james", "olivia", "emma", "amelia",
    "charlotte", "mia", "sophia", "isabella", "ava", "evelyn", "luna", "harper",
]
_ALPHABET = "abcdefghijklmnopqrstuvwxyz"

#: procedural vocabulary — a realistic corpus has a LARGE vocabulary (and
#: therefore a long-tailed q-gram document-frequency distribution, which is
#: what makes inverted-index blocking sub-quadratic). A small fixed pool
#: would make every q-gram hot and any blocking scheme quadratic. Vocabulary
#: grows with corpus size (Heaps' law): see `_vocab_size`.
VOCAB_SIZE = 5000


def _vocab_size(n_entities: int) -> int:
    return max(VOCAB_SIZE, n_entities)


from functools import lru_cache


@lru_cache(maxsize=1 << 20)
def _word(i: int) -> str:
    rng = random.Random(0xF022EE ^ (i * 2654435761))
    return "".join(rng.choice(_ALPHABET) for _ in range(rng.randint(4, 9)))


def _base_text(rng: random.Random, vocab: int) -> str:
    n = rng.randint(5, 10)
    words = [rng.choice(_NAMES)] + [_word(rng.randrange(vocab)) for _ in range(n - 1)]
    return " ".join(words)


def _mutate(text: str, rng: random.Random, n_edits: int) -> str:
    """Apply n single-character edits (sub/insert/delete/adjacent-swap)."""
    s = list(text)
    for _ in range(n_edits):
        if not s:
            break
        op = rng.randint(0, 3)
        i = rng.randrange(len(s))
        if op == 0:
            s[i] = rng.choice(_ALPHABET)
        elif op == 1:
            s.insert(i, rng.choice(_ALPHABET))
        elif op == 2 and len(s) > 1:
            del s[i]
        elif i + 1 < len(s):
            s[i], s[i + 1] = s[i + 1], s[i]
    return "".join(s)


def n_variants(entity: int, seed: int) -> int:
    return 1 + random.Random((seed << 20) ^ entity).randint(0, 3)


def _to_spans(text: str, srng: random.Random, entity: int, variant: int) -> list:
    """Split `text` into 1-4 text spans and interleave 0-2 media spans —
    span order/offsets such that doc_text_key reconstructs `text` exactly.
    Consumes `srng` identically to the original inline code so existing
    corpora stay bit-identical."""
    words = text.split(" ")
    cuts = sorted(srng.sample(range(1, len(words)), min(srng.randint(0, 3), len(words) - 1))) if len(words) > 1 else []
    pieces, prev = [], 0
    for c in cuts + [len(words)]:
        pieces.append(" ".join(words[prev:c]))
        prev = c

    spans, offset = [], 0
    for k, piece in enumerate(pieces):
        if srng.random() < 0.4:
            kind = srng.choice(["image", "audio"])
            ref = f"media://{kind}/{entity:08d}/{variant}/{k}"
            spans.append({"kind": kind, "text": "", "media_ref": ref, "offset": offset})
        spans.append({"kind": "text", "text": piece, "media_ref": None, "offset": offset})
        offset += len(piece) + 1
    return spans


def make_doc(entity: int, variant: int, seed: int, vocab: int = VOCAB_SIZE) -> tuple[str, int, list]:
    """Deterministic document for (entity, variant): counter-based RNG."""
    base_rng = random.Random((seed << 40) ^ (entity << 8))
    text = _base_text(base_rng, vocab)
    if variant > 0:
        vrng = random.Random((seed << 40) ^ (entity << 8) ^ variant)
        text = _mutate(text, vrng, n_edits=vrng.randint(1, 2))

    srng = random.Random((seed << 40) ^ (entity << 8) ^ (variant << 4) ^ 0xA5)
    spans = _to_spans(text, srng, entity, variant)
    doc_id = f"doc-{entity:010d}-{variant}"
    return doc_id, entity, spans


def synth_documents(
    spark: SparkSession, n_entities: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: ~2.5 docs/entity on average."""
    max_v = 4
    vocab = _vocab_size(n_entities)
    base = spark.range(0, n_entities * max_v, 1, partitions or spark.sparkContext.defaultParallelism)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                entity, variant = divmod(int(i), max_v)
                if variant >= n_variants(entity, seed):
                    continue
                rows.append(make_doc(entity, variant, seed, vocab))
            yield pd.DataFrame(rows, columns=["doc_id", "entity_id", "spans"])

    return base.mapInPandas(gen, DOC_SCHEMA)


def doc_text_key(spans_col: str = "spans") -> str:
    """SQL text of the pipeline join key: ordered concatenation of
    text-span texts.

    Array order IS span order (offsets ascending by construction); media
    spans contribute nothing. Single JVM-side expression — no UDF.
    """
    from fozzie_spark.util import sql_ident

    spans = sql_ident(spans_col)
    return f"array_join(transform(filter({spans}, s -> s.kind = 'text'), s -> s.text), ' ')"


def synth_documents_skewed(
    spark: SparkSession,
    n_entities: int,
    hot_docs: int = 0,
    hot_exact: int = 0,
    seed: int = 42,
    tail_words: int = 2,
    boiler_words: int = 30,
    partitions: int | None = None,
) -> DataFrame:
    """The normal corpus plus the two hot-key skew shapes a real
    boilerplate-heavy corpus throws at blocking (north rule: "salted,
    repartitioned candidate-pair DataFrames to defuse hot-key skew"):

    * entity `n_entities` — `hot_docs` NEAR-duplicate docs sharing one
      long boilerplate text (every shared q-gram's document frequency ==
      hot_docs, i.e. globally hot) plus a short unique tail per doc
      (templated pages with a unique id). A share-any-gram blocker goes
      quadratic in hot_docs here; the pipeline's hot-gram df cap +
      complementary sorted-neighborhood pass must recover the full
      cluster transitively with O(hot_docs * window) candidates.
    * entity `n_entities + 1` — `hot_exact` EXACT-duplicate docs
      (identical text, distinct doc_ids): must collapse to a single key
      in the keys stage and contribute zero pair work.

    Same determinism contract as `synth_documents` (counter-based RNG,
    distributed mapInPandas generation, no driver-side data).
    """
    base = synth_documents(spark, n_entities, seed=seed, partitions=partitions)
    if not hot_docs and not hot_exact:
        return base

    vocab = _vocab_size(n_entities)
    hrng = random.Random((seed << 40) ^ 0xB011E4)
    boiler = " ".join(_word(hrng.randrange(vocab)) for _ in range(boiler_words))
    exact_rng = random.Random((seed << 40) ^ 0xE7AC7)
    exact_text = " ".join(_word(exact_rng.randrange(vocab)) for _ in range(10))
    hot_entity, exact_entity = n_entities, n_entities + 1

    rng_ids = spark.range(
        0, hot_docs + hot_exact, 1, partitions or spark.sparkContext.defaultParallelism
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                if i < hot_docs:
                    # unique tail: one index-derived pseudo-word (rare
                    # grams, distinct key per doc) + one vocab word
                    trng = random.Random((seed << 40) ^ 0x407D0C ^ (i << 4))
                    tail = [_word((1 << 34) + i)] + [
                        _word(trng.randrange(vocab)) for _ in range(tail_words - 1)
                    ]
                    text = boiler + " " + " ".join(tail)
                    srng = random.Random((seed << 40) ^ (hot_entity << 8) ^ (i << 4) ^ 0xA5)
                    rows.append(
                        (f"hot-{i:010d}", hot_entity, _to_spans(text, srng, hot_entity, i))
                    )
                else:
                    j = i - hot_docs
                    srng = random.Random((seed << 40) ^ (exact_entity << 8) ^ (j << 4) ^ 0xA5)
                    rows.append(
                        (f"dup-{j:010d}", exact_entity, _to_spans(exact_text, srng, exact_entity, j))
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "entity_id", "spans"])

    return base.unionByName(rng_ids.mapInPandas(gen, DOC_SCHEMA))
