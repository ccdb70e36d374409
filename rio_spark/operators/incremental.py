"""Incremental materialized view over a GraphStore — the downstream half
of the CDC surface (materialize.py::added_quads).

At 100 TB the consumers matter as much as the writer: a summary table
(here: quad counts per predicate, the KG-health dashboard query) must not
re-scan the store on every refresh.  Merges append only genuinely-new
quads, so the view refreshes by AGGREGATING THE DELTA and adding it to
the previous view — cost scales with what changed, not with the table.

Correctness under the store's full op set, not just appends: a refresh
range containing a ``delete`` or ``rollback`` commit breaks pure-append
semantics, so the refresh detects those ops in the manifest log and falls
back to one full recompute (exactly Iceberg's incremental-scan contract:
append-only ranges stream, overwrite ranges refuse).  Either way the
result is bit-identical to aggregating the live graph from scratch,
which the tests pin.

The view commits like the store commits: the new aggregate lands in
``view-<snapshot>/`` (inert), then a durable CURSOR file names it — a
crash in any window leaves the previous view live and an orphan
directory.  Refresh is idempotent: re-running at the same store snapshot
is a no-op.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, functions as F

from rio_spark.operators.materialize import GraphStore

_APPEND_OPS = {"merge", "init", "compact", "rebucket"}  # additive or content-neutral


class IncrementalCountView:
    """Maintains ``(*group_cols, n_quads)`` for a store, incrementally.
    Counts are the delta-mergeable aggregate: the view folds the appended
    delta's partial counts in with a sum.  Any quad column combination
    groups (predicate for the KG-health view, graph for per-source
    accounting, (predicate, graph) for both)."""

    _QUAD_COLS = ("subject", "predicate", "object", "graph")

    def __init__(self, store: GraphStore, state_dir: str,
                 group_cols: tuple[str, ...] = ("predicate",)):
        bad = [c for c in group_cols if c not in self._QUAD_COLS]
        if bad or not group_cols:
            # p_bucket is deliberately excluded: it is LAYOUT, not content
            # — a p_bucket-grouped view would go silently stale across a
            # rebucket (a content-neutral op the refresh streams past)
            raise ValueError(
                f"group_cols must be non-empty quad columns {self._QUAD_COLS}, got {group_cols}"
            )
        self.store = store
        self.state = Path(state_dir)
        self.group_cols = list(group_cols)

    # -- cursor ---------------------------------------------------------------

    def cursor(self) -> int | None:
        p = self.state / "CURSOR"
        if not p.exists():
            return None
        return int(p.read_text().strip())

    def view(self, spark: SparkSession) -> DataFrame:
        """The current materialized aggregate (empty before first refresh)."""
        n = self.cursor()
        if n is None:
            schema = ", ".join(f"{c} string" for c in self.group_cols)
            return spark.createDataFrame([], f"{schema}, n_quads long")
        return spark.read.parquet(str(self.state / f"view-{n}"))

    # -- refresh --------------------------------------------------------------

    def refresh(self, spark: SparkSession) -> dict:
        """Advance the view to the store's current snapshot.  Returns a
        report: {mode: noop|incremental|full, from, to, rows}."""
        target = self.store.current_snapshot()
        cur = self.cursor()
        # the grouping is state metadata: a refresh with different columns
        # against existing state must fail loudly, not silently rewrite
        # the view under new keys (or die in unionByName downstream)
        gp = self.state / "GROUPING"
        if gp.exists():
            recorded = gp.read_text().split(",")
            if recorded != self.group_cols:
                raise ValueError(
                    f"view state at {self.state} was built with group_cols="
                    f"{recorded}, refresh asked for {self.group_cols}"
                )
        if target is None or cur == target:
            return {"mode": "noop", "from": cur, "to": target, "rows": 0}
        if cur is not None and target < cur:
            # a cursor AHEAD of the store's CURRENT means the store was
            # wiped and re-bootstrapped (numbering restarted) while the
            # view state persisted — the two no longer share a history;
            # the incremental branch would see an empty range and silently
            # keep the stale aggregate (r6 ADVICE)
            raise ValueError(
                f"view cursor {cur} is ahead of the store's CURRENT "
                f"{target}: view state and store no longer share a "
                "history (store re-bootstrapped?); delete the view state "
                f"directory {self.state} to rebuild from scratch"
            )

        snaps = self.store.snapshots()  # read the manifest log ONCE
        present = {s["snapshot"] for s in snaps}
        ops_in_range = {
            s["op"] for s in snaps
            if (cur is None or s["snapshot"] > cur) and s["snapshot"] <= target
        }
        full = (
            cur is None
            or not ops_in_range <= _APPEND_OPS
            # history needed for the delta may be expired; added_quads would
            # raise — probe cheaply via the manifest log
            or any(
                s["parent"] is not None
                and s["parent"] not in present
                and s["snapshot"] > cur
                for s in snaps
            )
        )
        if full:
            agg = (
                self.store.graph(spark, snapshot=target)
                .groupBy(*self.group_cols).agg(F.count("*").alias("n_quads"))
            )
            mode = "full"
        else:
            delta = (
                self.store.added_quads(spark, cur, target)
                .groupBy(*self.group_cols).agg(F.count("*").alias("n_quads"))
            )
            agg = (
                self.view(spark).unionByName(delta)
                .groupBy(*self.group_cols).agg(F.sum("n_quads").alias("n_quads"))
            )
            mode = "incremental"

        out = self.state / f"view-{target}"
        if out.exists():
            shutil.rmtree(out)  # orphan of a crashed refresh — overwrite
        agg = agg.filter(F.col("n_quads") > 0)
        agg.write.parquet(str(out))
        rows = spark.read.parquet(str(out)).count()
        prev = cur
        if not gp.exists():
            GraphStore._durable_write(gp, ",".join(self.group_cols))
        GraphStore._durable_write(self.state / "CURSOR", str(target))
        # sweep every non-current view dir: the predecessor plus any
        # orphans a crashed refresh left behind
        for d in self.state.glob("view-*"):
            if d.name != f"view-{target}":
                shutil.rmtree(d, ignore_errors=True)
        return {"mode": mode, "from": prev, "to": target, "rows": rows}


class IncrementalPredicateCounts(IncrementalCountView):
    """The KG-health default: quad counts per predicate."""

    def __init__(self, store: GraphStore, state_dir: str):
        super().__init__(store, state_dir, group_cols=("predicate",))
