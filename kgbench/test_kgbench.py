"""Self-tests of the benchmark; none starts Spark.

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import json
import re
from pathlib import Path

import pytest

from rio_spark.model import serialize_triples

from kgbench.gen import Mix, generate
from kgbench.harvest import parse_metric
from kgbench.layers import KERNELS, LAYER_METRICS
from kgbench.harness import Case
from kgbench.oracle import DOC_NS, KG_LABEL, KG_MENTIONS, Truth, canonicalize, link_quads
from kgbench.run import E2E_METRICS, tail

BENCHMARK = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
TINY = Mix(40, nt=0.3, nq=0.15, ttl=0.15, trig=0.15, corrupt=0.1, hot=0.05, sameas=0.5)


def test_generator_is_deterministic_per_seed():
    a, b, c = generate(7, TINY), generate(7, TINY), generate(8, TINY)
    assert a.rows() == b.rows() and a.meta_rows() == b.meta_rows()
    assert a.fingerprint() == b.fingerprint()
    assert a.fingerprint()["sha256"] != c.fingerprint()["sha256"]
    fp = a.fingerprint()
    assert fp["docs"] == 40 and fp["bytes"] > 0


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_cases_are_deterministic_per_seed(workload):
    a, b = Case(workload, 3), Case(workload, 3)
    assert a.fingerprints() == b.fingerprints()
    assert a.expected == b.expected and a.subjects == b.subjects
    assert a.expected_new > 0
    assert all(s in a.by_subject for s in a.subjects)


def test_corpus_plants_every_kind():
    kinds = generate(1, Mix(400, nt=0.2, nq=0.1, ttl=0.1, trig=0.1, corrupt=0.1,
                            hot=0.05, sameas=0.5)).fingerprint()["kinds"]
    assert set(kinds) == {"nt", "nq", "ttl", "trig", "corrupt", "hot", "free"}


def test_oracle_agrees_with_kernels_on_tiny_corpus():
    corpus = generate(11, TINY)
    truth = Truth(corpus.convs)
    from_kernels: set = set()
    n_errors = 0
    for c in corpus.convs:
        if c.fmt is None:
            continue
        triples, errors = KERNELS[c.fmt](c.text, c.base_iri)
        n_errors += len(errors)
        scope = re.sub(r"[^A-Za-z0-9]", "_", c.conv_id) + "_"
        for row in serialize_triples(triples, scope=scope):
            from_kernels.add((*row[:3], row[3] if len(row) == 4 else None))
    assert n_errors == len(truth.errors) > 0
    free = [(c.conv_id, c.text) for c in corpus.convs if c.fmt is None]
    assert canonicalize(from_kernels | link_quads(free)) == truth.quads
    assert truth.alias_edges > 0


def test_linking_oracle_resolves_by_prior_then_iri():
    ent = "http://kg.example/entity/"
    doc = f"<{DOC_NS}d1>"
    # "alice johnson" resolves to its prior-0.9 candidate, not the 0.4 "_alt";
    # the surname alias "johnson" lands on the same entity
    assert link_quads([("d1", "Met Alice Johnson in Paris.")]) == {
        (doc, KG_MENTIONS, f"<{ent}alice_johnson>", None),
        (doc, KG_MENTIONS, f"<{ent}paris>", None),
        (f"<{ent}alice_johnson>", KG_LABEL, '"alice johnson"', None),
        (f"<{ent}alice_johnson>", KG_LABEL, '"johnson"', None),
        (f"<{ent}paris>", KG_LABEL, '"paris"', None),
    }


def test_sameas_chains_collapse_to_lexicographic_minimum():
    same = "<http://www.w3.org/2002/07/owl#sameAs>"
    quads = {("<c>", same, "<b>", None), ("<b>", same, "<a>", None),
             ("<c>", "<p>", "<x>", None), ("<y>", "<p>", "<b>", "<g>")}
    assert canonicalize(quads) == {("<a>", "<p>", "<x>", None), ("<y>", "<p>", "<a>", "<g>")}


def test_parse_metric_reads_spark_display_strings():
    assert parse_metric("80,000") == 80_000
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "14.6 s (1.2 s, 3.4 s, 5.0 s (stage 3.0: task 12))") == 14.6
    assert parse_metric("total (min, med, max (stageId: taskId))\n"
                        "5.5 MiB (1024.0 B, 2.0 KiB, 3.0 MiB (stage 1.0: task 2))") == 5.5 * 2**20
    assert parse_metric("350 ms") == pytest.approx(0.35)
    assert parse_metric("(min, med, max (stageId: taskId)):\n(1, 1, 1 (stage 5.0: task 9))") is None


def test_tail_is_nearest_rank_p90():
    assert tail([float(i) for i in range(1, 31)]) == (90.0, 27.0)
    pct, value = tail([float(i) for i in range(12, 0, -1)])
    assert value == 11.0 and pct == pytest.approx(100 * 11 / 12)


def test_metric_names_match_benchmark_json():
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    e2e = [m["name"] for m in BENCHMARK["end_to_end"]]
    layers = [m["name"] for m in BENCHMARK["per_layer"]]
    assert e2e == list(E2E_METRICS)
    assert layers == list(LAYER_METRICS)
    assert len(set(e2e + layers)) == len(e2e) + len(layers)
    assert all(name.match(n) for n in e2e + layers)
