"""Spark-free ground truth for one ``run_pipeline`` call over a corpus.

Mirrors the pipeline's contract, not its code paths:

* RDF documents are parsed by the pure ``parse_document`` (the same kernels,
  one document at a time, no Arrow, no Spark);
* free-text documents are linked by a pandas join over
  ``entity_dictionary_pdf()``: 1-3-gram keys of the lower-cased, punctuation-
  stripped text, best candidate by prior descending then IRI ascending;
* ``owl:sameAs`` edges are merged by union-find, every subject and object is
  rewritten to its component's lexicographic minimum, and sameAs self-loops
  are dropped;
* the result is a set of quads ``(s, p, o, g)``.
"""

from __future__ import annotations

import re
from collections import defaultdict

import pandas as pd

from rio_spark.operators.extract import parse_document
from rio_spark.sources.entity_dictionary import entity_dictionary_pdf

from kgbench.gen import OWL_SAMEAS, Conv

KG_MENTIONS = "<http://kg.example/ontology#mentions>"
KG_LABEL = "<http://www.w3.org/2000/01/rdf-schema#label>"
DOC_NS = "http://kg.example/doc/"
MAX_NGRAM = 3

_NON_TOKEN = re.compile(r"[^A-Za-z0-9' ]+")
_SPACES = re.compile(r"\s+")


def mention_grams(doc_id: str, text: str) -> list[tuple[str, int, str]]:
    """(doc_id, pos, key) for every 1..3-gram of the document's tokens."""
    toks = _SPACES.split(_NON_TOKEN.sub(" ", text).lower())
    out = []
    for n in range(1, MAX_NGRAM + 1):
        for i in range(len(toks) - n + 1):
            key = " ".join(toks[i:i + n])
            if len(key) > 1:
                out.append((doc_id, i, key))
    return out


def link_quads(docs: list[tuple[str, str]]) -> set:
    """Mention triples for free-text ``(doc_id, text)`` documents."""
    d = entity_dictionary_pdf()
    grams = pd.DataFrame(
        [g for doc_id, text in docs for g in mention_grams(doc_id, text)],
        columns=["doc_id", "pos", "mention_key"],
    )
    cands = grams.merge(d, on="mention_key", how="inner")
    best = cands.sort_values(
        ["doc_id", "pos", "mention_key", "prior", "candidate_iri"],
        ascending=[True, True, True, False, True],
    ).drop_duplicates(["doc_id", "pos", "mention_key"])
    out = set()
    for doc_id, key, iri in zip(best["doc_id"], best["mention_key"], best["candidate_iri"]):
        out.add((f"<{DOC_NS}{doc_id}>", KG_MENTIONS, f"<{iri}>", None))
        out.add((f"<{iri}>", KG_LABEL, f'"{key}"', None))
    return out


def canonicalize(quads: set) -> set:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, p, o, _ in quads:
        if p == OWL_SAMEAS:
            a, b = find(s), find(o)
            if a != b:
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo  # roots stay the component minimum
    out = set()
    for s, p, o, g in quads:
        s2, o2 = find(s) if s in parent else s, find(o) if o in parent else o
        if p == OWL_SAMEAS and s2 == o2:
            continue
        out.add((s2, p, o2, g))
    return out


class Truth:
    """Expected outcome of one ``run_pipeline`` call on ``convs``."""

    def __init__(self, convs: list[Conv]):
        raw: set = set()
        self.errors: list[tuple] = []
        free = []
        for c in convs:
            if c.fmt is None:
                free.append((c.conv_id, c.text))
                continue
            rows, errs = parse_document(c.conv_id, c.fmt, c.text, c.base_iri)
            raw.update(r[1:] for r in rows)
            self.errors.extend(errs)
        raw |= link_quads(free)
        self.alias_edges = sum(1 for q in raw if q[1] == OWL_SAMEAS)
        self.quads = canonicalize(raw)
        self.by_subject: dict[str, set] = defaultdict(set)
        for q in self.quads:
            self.by_subject[q[0]].add(q)
