"""Deterministic synthetic transcripts (FIXTURES.md T1).

Input shape is exactly BASELINE.json ``input_hint``:
``(conv_id string, turn_idx int, role string, text string, tool string,
ts timestamp)``. Three conversation kinds:

* conformance convs — a corpus document's *lines* spread across consecutive
  turns (multi-line statements therefore span turn boundaries: assembly must
  concatenate before parsing, SURVEY.md §7.3);
* free-text convs — plantable entity mentions for the linking stage;
* corrupt convs — negative-syntax docs (must yield error rows, no triples).

A small share of convs is "hot" (many turns) to exercise skew handling.
Everything is a pure function of (conv index, corpus), so the driver-side
pandas path and the distributed ``spark.range(...).mapInPandas`` path produce
identical data — no external inputs, seeded only by conv index.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta

import pandas as pd

from rio_spark.testing.corpus import ConformanceDoc, load_corpus

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)

ENTITIES = [
    "Acme Corp", "Globex", "Initech", "Umbrella Corp", "Stark Industries",
    "Wayne Enterprises", "Alice Johnson", "Bob Smith", "Carol Danvers",
    "Dave Grohl", "Eve Moneypenny", "Frank Castle", "Grace Hopper",
    "Hal Jordan", "Paris", "London", "Tokyo", "Nairobi", "Oslo", "Quito",
]
# a few entities made extremely frequent to exercise the skew-join path
HOT_ENTITIES = ["Acme Corp", "Alice Johnson", "Paris"]

_WORDS = (
    "the a and then because however query spark data turn agent tool result "
    "plan check run fix merge join sort group filter scan write read commit"
).split()

_T0 = datetime(2024, 1, 1)

ROLES = ["user", "assistant", "tool"]


def conv_meta(
    i: int, corpus: list[ConformanceDoc], conformance_every: int = 10
) -> tuple[dict, ConformanceDoc | None]:
    """Conversation-kind / embedded-doc metadata for conv index ``i`` — pure
    arithmetic, no row generation (cheap enough for 10^5+ convs driver-side)."""
    conv_id = f"conv_{i:08d}"
    kind = "free"
    doc: ConformanceDoc | None = None
    if i % conformance_every == 0:
        positives = [d for d in corpus if d.kind != "negative_syntax"]
        doc = positives[(i // conformance_every) % len(positives)]
        kind = "conformance"
    elif i % 17 == 3:
        negatives = [d for d in corpus if d.kind == "negative_syntax"]
        doc = negatives[(i // 17) % len(negatives)]
        kind = "corrupt"
    meta = {
        "conv_id": conv_id,
        "kind": kind,
        "doc_name": doc.name if doc else None,
        "format": doc.format if doc else None,
        "base_iri": doc.base_iri if doc else None,
    }
    return meta, doc


def conv_rows(
    i: int, corpus: list[ConformanceDoc], conformance_every: int = 10
) -> tuple[list[tuple], dict]:
    """All turn rows + metadata for conversation index ``i`` (pure function)."""
    rng = random.Random(10_000_019 * i + 42)
    meta, doc = conv_meta(i, corpus, conformance_every)
    conv_id = meta["conv_id"]

    rows: list[tuple] = []
    if doc is not None:
        lines = doc.body.split("\n")
        n_turns = min(max(1, rng.randint(2, 6)), len(lines)) if len(lines) > 1 else 1
        # contiguous line chunks across turns
        cuts = sorted(rng.sample(range(1, len(lines)), n_turns - 1)) if n_turns > 1 else []
        bounds = [0, *cuts, len(lines)]
        for t in range(n_turns):
            chunk = "\n".join(lines[bounds[t] : bounds[t + 1]])
            role = ROLES[t % 3]
            rows.append(
                (
                    conv_id, t, role, chunk,
                    "rdf_emitter" if role == "tool" else None,
                    _T0 + timedelta(minutes=i % 100_000, seconds=t),
                )
            )
    else:
        hot = i % 100 < 2
        n_turns = rng.randint(120, 200) if hot else rng.randint(3, 10)
        for t in range(n_turns):
            words = [rng.choice(_WORDS) for _ in range(rng.randint(4, 12))]
            if rng.random() < 0.6:
                ent = rng.choice(HOT_ENTITIES) if rng.random() < 0.5 else rng.choice(ENTITIES)
                words.insert(rng.randrange(len(words)), ent)
            role = ROLES[t % 3]
            rows.append(
                (
                    conv_id, t, role, " ".join(words),
                    "search" if role == "tool" else None,
                    _T0 + timedelta(minutes=i % 100_000, seconds=t),
                )
            )
    return rows, meta


def synthetic_transcripts_pdf(
    n_convs: int, corpus: list[ConformanceDoc] | None = None, shuffle: bool = True
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Driver-side generation: (transcripts pdf, per-conv metadata pdf)."""
    corpus = corpus if corpus is not None else load_corpus()
    all_rows: list[tuple] = []
    metas: list[dict] = []
    for i in range(n_convs):
        rows, meta = conv_rows(i, corpus)
        all_rows.extend(rows)
        metas.append(meta)
    if shuffle:
        random.Random(7).shuffle(all_rows)  # prove sort-within-partition restores order
    return (
        pd.DataFrame(all_rows, columns=TRANSCRIPT_COLUMNS),
        pd.DataFrame(metas),
    )


def synthetic_transcripts(
    spark,
    n_convs: int,
    corpus: list[ConformanceDoc] | None = None,
    conformance_every: int = 10,
):
    """Distributed generation over ``spark.range`` — scales with executors;
    each task generates only its conv-index slice (no driver materialization)."""
    corpus = corpus if corpus is not None else load_corpus()

    def gen(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for i in pdf["id"]:
                rows.extend(conv_rows(int(i), corpus, conformance_every)[0])
            yield pd.DataFrame(rows, columns=TRANSCRIPT_COLUMNS)

    return (
        spark.range(0, n_convs, numPartitions=max(2, spark.sparkContext.defaultParallelism))
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )


def conformance_meta(
    n_convs: int,
    corpus: list[ConformanceDoc] | None = None,
    conformance_every: int = 10,
) -> pd.DataFrame:
    """Metadata (expected kind/format/base) for convs 0..n — driver side,
    row-generation-free (fast even for 10^5+ convs)."""
    corpus = corpus if corpus is not None else load_corpus()
    return pd.DataFrame(
        [conv_meta(i, corpus, conformance_every)[0] for i in range(n_convs)]
    )


def synthetic_docs_meta(
    spark,
    n_convs: int,
    corpus: list[ConformanceDoc] | None = None,
    conformance_every: int = 10,
):
    """``run_pipeline``'s ``docs_meta`` side input for the synthetic convs
    0..n: ``(conv_id, format, base_iri)``, null format for free-text convs.
    Without it every document reads as free text and nothing is parsed."""
    meta = conformance_meta(n_convs, corpus, conformance_every)[
        ["conv_id", "format", "base_iri"]
    ].astype(object)
    return spark.createDataFrame(
        meta.where(meta.notna(), None), "conv_id string, format string, base_iri string"
    )
