"""Basic graph pattern (BGP) evaluation over the canonical triples table —
the SPARQL query core a rio user runs AFTER parsing.

A BGP is a list of (s, p, o) patterns where each position is either a
constant canonical term (``<iri>``, ``"literal"``, ``_:b``) or a variable
(``?name``).  Evaluation is the textbook relational mapping: every pattern
becomes a filtered scan of the triples table with variable positions
projected to variable-named columns; patterns chain with natural equi-joins
on their shared variables.  Declaring the joins and letting Catalyst plan
them is the point — it reorders by size estimates, broadcasts small pattern
scans (a constant-subject pattern is 0-or-1 rows), and pushes constant
filters into the scan.

Scale notes (100 TB triple store):

* Constant-PREDICATE patterns are the overwhelmingly common shape; on a
  predicate-partitioned store they prune to one partition before any
  shuffle.
* Star joins (patterns sharing the subject variable) all shuffle on the
  same key, so a subject-bucketed layout runs the whole star without an
  exchange.
* Patterns with NO shared variable with the accumulated join would be a
  cartesian product; this evaluator raises instead (reorder the BGP, or
  compute products explicitly if you really mean them).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_POSITIONS = ("subject", "predicate", "object", "graph")


def _is_var(term) -> bool:
    return isinstance(term, str) and term.startswith("?")


def bgp_join(triples: DataFrame, patterns: list[tuple]) -> DataFrame:
    """Evaluate a BGP; returns one column per distinct variable.

    ``patterns``: (s, p, o) or (s, p, o, g) tuples of constants/``?vars``.
    A variable repeated WITHIN a pattern becomes an intra-scan equality
    filter (e.g. ``(?x, <p>, ?x)`` keeps self-loops).
    """
    if not patterns:
        raise ValueError("empty BGP")
    out: DataFrame | None = None
    for pat in patterns:
        if len(pat) not in (3, 4):
            raise ValueError(f"pattern arity {len(pat)}: {pat!r}")
        scan = triples
        seen: dict[str, str] = {}  # var -> first column holding it
        cols = []
        for col, term in zip(_POSITIONS, pat):
            if _is_var(term):
                var = term[1:]
                if var in seen:  # repeated var inside one pattern
                    scan = scan.filter(F.col(col) == F.col(seen[var]))
                else:
                    seen[var] = col
                    cols.append(F.col(col).alias(var))
            else:
                scan = scan.filter(F.col(col) == F.lit(term))
        if not cols:
            raise ValueError(
                f"all-constant pattern {pat!r}: that's an ASK — count the "
                "filtered scan directly instead"
            )
        part = scan.select(*cols)
        if out is None:
            out = part
            continue
        shared = sorted(set(out.columns) & set(part.columns))
        if not shared:
            raise ValueError(
                f"pattern {pat!r} shares no variable with the BGP so far — "
                "that's a cartesian product; reorder the patterns"
            )
        out = out.join(part, shared)
    return out
