"""Outside-in benchmark of knowledge-graph construction with rio_spark.

Run from the repository root::

    python3 kgbench/run.py --workload ingest_rdf --seed 1 --seconds 5 --trace 0

One process, one client, closed loop.  The benchmark generates seeded
transcripts (``kgbench/gen.py``), starts a local Spark session sized to the
host (``kgbench/harness.py``), and drives the public API only: one
``rio_spark.pipeline.run_pipeline`` call into an
``operators.materialize.GraphStore``, then sequential single-subject
``GraphStore.lookup`` calls: at least 10, for at least ``--seconds``.  Every
output is checked against a Spark-free oracle (``kgbench/oracle.py``) outside
the timed regions.

The measured ``run_pipeline`` call is the session's first: a batch job pays
Spark's code generation and Python-worker start on every invocation, and a
warm-up call would double the run time.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` runs the pipeline
under a job group, then each layer's public function on its own, and prints
per-layer metrics read from Spark's status tracker and SQL status store
(``kgbench/layers.py``, ``kgbench/harvest.py``).

The last stdout line is the result ``{"correct", "attempted", "failed",
"metrics"}``.  The line before it is a ``record`` with every setting, the
corpus fingerprints (document count, bytes, content hash), the sample counts
behind each figure, and with ``--trace 1`` the spans.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import asdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))  # run as a script; fails below outside a checkout

from kgbench.harness import (  # noqa: E402
    LOOKUPS,
    N_BUCKETS,
    N_GROUPS,
    WORKLOADS,
    Case,
    Session,
    Tally,
    check_ingest,
    host_settings,
    launch,
    metric,
    shutdown,
    store_footprint,
    timed_lookup,
)

WORK = ROOT / ".kgbench_work"
E2E_METRICS = (
    "ingest_triples_per_s", "update_s", "lookup_p50_ms", "lookup_tail_ms",
    "store_bytes_per_quad", "ops_ok_share", "setup_s",
)


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the nearest-rank p90."""
    s = sorted(samples)
    k = math.ceil(0.9 * len(s)) - 1
    return 100.0 * (k + 1) / len(s), s[k]


def end_to_end(sess: Session, seconds: float, tally: Tally, record: dict) -> dict:
    store = sess.fresh_store()
    t = time.perf_counter()
    try:
        report = sess.ingest(store)
    except Exception:
        tally.error("run_pipeline raised")
        return {}
    update_s = time.perf_counter() - t

    subjects = iter(sess.case.subjects)
    lat: list[float] = []
    t = time.perf_counter()
    while len(lat) < LOOKUPS or time.perf_counter() - t < seconds:
        dt = timed_lookup(sess, store, next(subjects), tally)
        if dt is not None:
            lat.append(dt)
        elif tally.failed > LOOKUPS:
            break  # the run is already incorrect; stop issuing lookups

    check_ingest(sess, store, report, tally, "ingest")
    foot = store_footprint(sess, store)
    pct, tail_s = tail(lat) if lat else (0.0, 0.0)
    record.update(
        update=asdict(report) | {"wall_s": update_s},
        lookups={"n": len(lat), "tail_percentile": pct,
                 "ms": [round(1e3 * x, 1) for x in lat]},
        store=foot,
    )
    return {
        "ingest_triples_per_s": metric(report.triples_merged / update_s, "quads/s"),
        "update_s": metric(update_s, "s"),
        "lookup_p50_ms": metric(1e3 * statistics.median(lat), "ms") if lat else None,
        "lookup_tail_ms": metric(1e3 * tail_s, "ms") if lat else None,
        "store_bytes_per_quad": metric(foot["bytes"] / max(foot["quads"], 1), "B/quad"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = WORK / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    settings = host_settings()
    tally = Tally()
    spark = None
    try:
        t0 = time.perf_counter()
        # corpus generation and the oracle (pure Python) overlap the JVM start
        with ThreadPoolExecutor(1) as pool:
            pending = pool.submit(Case, args.workload, args.seed)
            spark = launch(work, settings)
            jvm_start_s = time.perf_counter() - t0
            case = pending.result()
        sess = Session(spark, case, work)
        setup_s = time.perf_counter() - t0
        record = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "n_groups": N_GROUPS, "n_buckets": N_BUCKETS,
            "corpus": case.fingerprints(),
            "settings": settings, "jvm_start_s": jvm_start_s, "setup_s": setup_s,
            "base_merges_s": sess.base_merges_s,
        }
        if args.trace:
            from kgbench.layers import traced

            metrics = traced(sess, tally, record, jvm_start_s)
        else:
            metrics = end_to_end(sess, args.seconds, tally, record)
            metrics["setup_s"] = metric(setup_s, "s")
            metrics["ops_ok_share"] = metric(
                (tally.attempted - tally.failed) / max(tally.attempted, 1), "ratio")
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        if WORK.exists() and not any(WORK.iterdir()):
            WORK.rmdir()
    record["problems"] = tally.problems[:20]
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": tally.failed == 0 and None not in metrics.values() and bool(metrics),
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed if tally.attempted else 1,
        "metrics": {k: v for k, v in metrics.items() if v is not None},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
