"""Seeded transcript generator for the KG-construction benchmark.

Everything is a pure function of ``(workload, seed)``: the same pair always
yields byte-identical transcripts, so a run can be repeated and an oracle can
be computed for it without Spark.  Nothing here reads the repository's test
corpus; RDF documents are written from templates below.

A conversation is one of:

* an RDF document (N-Triples, N-Quads, Turtle or TriG) whose lines are spread
  over 2-6 consecutive turns, so Turtle statements may span turn boundaries;
* a corrupt RDF document (mostly good lines with a few planted syntax errors);
* free text with planted dictionary mentions (surface forms of the entity
  dictionary's keys, sometimes surname-only aliases);
* a hot free-text conversation with 120-200 turns (assembly skew).

``owl:sameAs`` chains of 2-4 entities are planted sparsely across RDF
documents, one link per carrying document.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from datetime import datetime, timedelta

from rio_spark.sources.transcripts import ENTITIES

NS = "http://bench.example/"
XSD = "http://www.w3.org/2001/XMLSchema#"
OWL_SAMEAS = "<http://www.w3.org/2002/07/owl#sameAs>"
RDF_TYPE = "<http://www.w3.org/1999/02/22-rdf-syntax-ns#type>"

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
META_COLUMNS = ["conv_id", "format", "base_iri"]
META_SCHEMA = "conv_id string, format string, base_iri string"

_WORDS = (
    "the a and then because however query spark data turn agent tool result "
    "plan check run fix merge join sort group filter scan write read commit "
    "retry schema column table index cache batch stream window shard"
).split()
_ROLES = ["user", "assistant", "tool"]
_T0 = datetime(2024, 1, 1)
_ENTITY_POOL = 2000
_N_PREDICATES = 24
_N_CLASSES = 12
_N_GRAPHS = 6
_RDF_LINES = (60, 100)  # statements per RDF document


@dataclass(frozen=True)
class Mix:
    """Share of each conversation kind; the rest is plain free text."""

    n_convs: int
    nt: float = 0.0
    nq: float = 0.0
    ttl: float = 0.0
    trig: float = 0.0
    corrupt: float = 0.0
    hot: float = 0.0
    sameas: float = 0.0  # share of RDF documents that carry one sameAs link


@dataclass
class Conv:
    conv_id: str
    kind: str  # nt | nq | ttl | trig | corrupt | free | hot
    fmt: str | None
    base_iri: str | None
    turns: list[str]
    mentions: int = 0  # planted dictionary mentions (free text only)

    @property
    def text(self) -> str:
        """The document as assembly builds it: turns joined in order by \\n."""
        return "\n".join(self.turns)


@dataclass
class Corpus:
    convs: list[Conv]

    def rows(self) -> list[tuple]:
        out = []
        for i, c in enumerate(self.convs):
            for t, text in enumerate(c.turns):
                role = _ROLES[t % 3]
                tool = ("rdf_emitter" if c.fmt else "search") if role == "tool" else None
                out.append((c.conv_id, t, role, text, tool,
                            _T0 + timedelta(minutes=i, seconds=t)))
        return out

    def meta_rows(self) -> list[tuple]:
        return [(c.conv_id, c.fmt, c.base_iri) for c in self.convs]

    def fingerprint(self) -> dict:
        h = hashlib.sha256()
        n_bytes = 0
        for c in self.convs:
            text = c.text.encode()
            n_bytes += len(text)
            for part in (c.conv_id.encode(), (c.fmt or "").encode(),
                         (c.base_iri or "").encode(), text):
                h.update(part)
                h.update(b"\0")
        kinds: dict[str, int] = {}
        for c in self.convs:
            kinds[c.kind] = kinds.get(c.kind, 0) + 1
        return {
            "docs": len(self.convs),
            "turns": sum(len(c.turns) for c in self.convs),
            "bytes": n_bytes,
            "sha256": h.hexdigest()[:16],
            "kinds": dict(sorted(kinds.items())),
            "planted_mentions": sum(c.mentions for c in self.convs),
        }


class _Gen:
    def __init__(self, seed: int, prefix: str):
        self.rng = random.Random(seed)
        self.prefix = prefix
        # sameAs chains over the entity pool, so canonicalization rewrites
        # other facts too; each link goes to whichever RDF document asks next
        pool = list(range(_ENTITY_POOL))
        self.rng.shuffle(pool)
        self.links: list[tuple[int, int]] = []
        while len(pool) >= 4:
            chain = [pool.pop() for _ in range(self.rng.randint(2, 4))]
            self.links.extend(zip(chain, chain[1:]))

    # -- terms ----------------------------------------------------------------

    def ent(self) -> int:
        # skewed: low ids are popular, so documents share subjects and facts
        return min(int(self.rng.paretovariate(1.2)) - 1, _ENTITY_POOL - 1)

    def pred(self) -> int:
        return self.rng.randrange(_N_PREDICATES)

    def literal(self) -> tuple[str, str]:
        """(N-Triples form, Turtle form) of a random literal."""
        r = self.rng.random()
        if r < 0.35:
            w = " ".join(self.rng.choice(_WORDS) for _ in range(self.rng.randint(1, 5)))
            return f'"{w}"', f'"{w}"'
        if r < 0.55:
            w = self.rng.choice(_WORDS)
            lang = self.rng.choice(["en", "de", "fr"])
            return f'"{w}"@{lang}', f'"{w}"@{lang}'
        if r < 0.8:
            n = self.rng.randint(0, 10_000)
            return f'"{n}"^^<{XSD}integer>', str(n)
        if r < 0.9:
            w = self.rng.choice(_WORDS)
            return f'"say \\"{w}\\"\\n"', f'"say \\"{w}\\"\\n"'
        return '"true"^^<' + XSD + 'boolean>', "true"

    def sameas_line(self, quads: bool) -> str | None:
        if not self.links:
            return None
        a, b = self.links.pop()
        g = f" <{NS}g/{self.rng.randrange(_N_GRAPHS)}>" if quads else ""
        return f"<{NS}e/{a}> {OWL_SAMEAS} <{NS}e/{b}>{g} ."

    # -- documents --------------------------------------------------------------

    def nt_doc(self, n: int, quads: bool, sameas: bool) -> list[str]:
        lines = []
        for _ in range(n):
            s = self.ent()
            subj = f"_:b{s % 7}" if self.rng.random() < 0.05 else f"<{NS}e/{s}>"
            r = self.rng.random()
            if r < 0.15:
                pred, obj = RDF_TYPE, f"<{NS}c/{self.rng.randrange(_N_CLASSES)}>"
            elif r < 0.5:
                pred, obj = f"<{NS}p/{self.pred()}>", f"<{NS}e/{self.ent()}>"
            else:
                pred, obj = f"<{NS}p/{self.pred()}>", self.literal()[0]
            g = f" <{NS}g/{self.rng.randrange(_N_GRAPHS)}>" if quads else ""
            lines.append(f"{subj} {pred} {obj}{g} .")
        if sameas and (line := self.sameas_line(quads)):
            lines.insert(self.rng.randrange(len(lines) + 1), line)
        return lines

    def ttl_block(self, n: int) -> list[str]:
        """Turtle statements (subject blocks with ; and , lists, bnode
        property lists, relative IRIs) totalling about ``n`` triples."""
        lines = []
        made = 0
        while made < n:
            s = self.ent()
            subj = f"<rel/{s}>" if self.rng.random() < 0.1 else f"e:{s}"
            lines.append(f"{subj} a c:{self.rng.randrange(_N_CLASSES)} ;")
            made += 1
            for _ in range(self.rng.randint(1, 4)):
                r = self.rng.random()
                if r < 0.3:
                    objs = ", ".join(f"e:{self.ent()}" for _ in range(self.rng.randint(1, 3)))
                    made += objs.count(",") + 1
                elif r < 0.4:
                    objs = f"[ p:{self.pred()} {self.literal()[1]} ; p:{self.pred()} e:{self.ent()} ]"
                    made += 3
                else:
                    objs = self.literal()[1]
                    made += 1
                lines.append(f"    p:{self.pred()} {objs} ;")
            lines[-1] = lines[-1][:-1] + "."
        return lines

    def ttl_doc(self, n: int, trig: bool, sameas: bool) -> list[str]:
        head = [f"@prefix e: <{NS}e/> .", f"@prefix p: <{NS}p/> .", f"@prefix c: <{NS}c/> ."]
        if not trig:
            body = self.ttl_block(n)
        else:
            body = []
            left = n
            while left > 0:
                k = min(left, self.rng.randint(5, 30))
                label = f"<{NS}g/{self.rng.randrange(_N_GRAPHS)}>"
                opener = f"GRAPH {label} {{" if self.rng.random() < 0.5 else f"{label} {{"
                body += [opener, *self.ttl_block(k), "}"]
                left -= k
        if sameas and (line := self.sameas_line(False)):
            body.append(line)
        return head + body

    def corrupt_doc(self, n: int) -> tuple[str, list[str]]:
        if self.rng.random() < 0.7:
            lines = self.nt_doc(n, False, False)
            bad = [
                f'<{NS}e/1> <{NS}p/1> "unterminated .',
                f"<{NS}e/2> <{NS}p/2> <{NS}e/3>",
                f"<not an iri> <{NS}p/3> <{NS}e/4> .",
                f"<{NS}e/5> <{NS}p/4> <{NS}e/6> <{NS}e/7> <{NS}e/8> .",
            ]
            for line in self.rng.sample(bad, self.rng.randint(1, 3)):
                lines.insert(self.rng.randrange(len(lines) + 1), line)
            return "nt", lines
        lines = self.ttl_doc(n, False, False)
        lines.insert(self.rng.randrange(3, len(lines) + 1), "e:9 p:9 [ p:1 .")
        return "ttl", lines

    def free_turns(self, n_turns: int) -> tuple[list[str], int]:
        turns, planted = [], 0
        for _ in range(n_turns):
            words = [self.rng.choice(_WORDS) for _ in range(self.rng.randint(4, 12))]
            if self.rng.random() < 0.6:
                ent = self.rng.choice(ENTITIES)
                parts = ent.split()
                if len(parts) == 2 and self.rng.random() < 0.2:
                    ent = parts[1]  # surname-only alias mention
                words.insert(self.rng.randrange(len(words) + 1), ent)
                planted += 1
            turns.append(" ".join(words).capitalize() + self.rng.choice([".", "?", "!", ""]))
        return turns, planted

    def split_turns(self, lines: list[str]) -> list[str]:
        k = min(self.rng.randint(2, 6), len(lines))
        cuts = sorted(self.rng.sample(range(1, len(lines)), k - 1)) if k > 1 else []
        bounds = [0, *cuts, len(lines)]
        return ["\n".join(lines[a:b]) for a, b in zip(bounds, bounds[1:])]

    def conv(self, i: int, kind: str, mix: Mix) -> Conv:
        cid = f"{self.prefix}{i:06d}"
        n = self.rng.randint(*_RDF_LINES)
        sameas = self.rng.random() < mix.sameas
        if kind in ("nt", "nq"):
            return Conv(cid, kind, kind, None, self.split_turns(self.nt_doc(n, kind == "nq", sameas)))
        if kind in ("ttl", "trig"):
            base = f"{NS}doc/{cid}/"
            return Conv(cid, kind, kind, base, self.split_turns(self.ttl_doc(n, kind == "trig", sameas)))
        if kind == "corrupt":
            fmt, lines = self.corrupt_doc(n)
            return Conv(cid, kind, fmt, f"{NS}doc/{cid}/", self.split_turns(lines))
        turns, planted = self.free_turns(
            self.rng.randint(120, 200) if kind == "hot" else self.rng.randint(3, 10)
        )
        return Conv(cid, kind, None, None, turns, planted)


def generate(seed: int, mix: Mix, prefix: str = "c") -> Corpus:
    """``mix.n_convs`` conversations with exactly the mix's share of each
    kind (rounded), in seeded order: seeds change content, not composition."""
    g = _Gen(seed, prefix)
    kinds = [k for k in ("nt", "nq", "ttl", "trig", "corrupt", "hot")
             for _ in range(round(getattr(mix, k) * mix.n_convs))]
    kinds += ["free"] * (mix.n_convs - len(kinds))
    g.rng.shuffle(kinds)
    return Corpus([g.conv(i, kind, mix) for i, kind in enumerate(kinds)])
