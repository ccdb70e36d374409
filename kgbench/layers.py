"""The traced run: per-layer metrics of one workload, read from outside.

1. ``run_pipeline`` under job group ``pipeline``: the session's first call,
   cold like the end-to-end run's, and checked against the oracle the same
   way.  ``trace.overhead_s`` is the time tracing adds around that call
   (job group, listener drain, status-store reads).
2. Each layer's public function on its own, under its own job group, with
   its output written to Spark's ``noop`` sink.  A layer's input is the
   previous layer's output, persisted and counted beforehand, outside any
   group, so a layer's seconds are its own.
3. The kernels are timed single-threaded in this process over the run's RDF
   documents.

Spans (name, start, end, parent, trace id) are kept in memory and printed
with the run record at the end.
"""

from __future__ import annotations

import statistics
import time
import uuid

from pyspark.sql import functions as F

from rio_spark.kernels import parse_nquads, parse_ntriples, parse_trig, parse_turtle
from rio_spark.operators.assemble import assemble_documents_salted
from rio_spark.operators.canonicalize import canonicalize, sameas_edges
from rio_spark.operators.extract import dedup_triples, errors_of, extract_triples, triples_of
from rio_spark.operators.linking import (
    detect_mentions,
    link_broadcast,
    link_entities,
    resolve_candidates,
)

from kgbench.harness import check_ingest, metric, peak_rss_mb, store_footprint, timed_lookup
from kgbench.harvest import Harvester

KERNELS = {
    "nt": lambda text, base: parse_ntriples(text),
    "nq": lambda text, base: parse_nquads(text),
    "ttl": parse_turtle,
    "trig": parse_trig,
}
LAYER_LOOKUPS = 5
LAYER_METRICS = (
    "kernels.nt_bytes_per_s", "kernels.nq_bytes_per_s", "kernels.ttl_bytes_per_s",
    "kernels.trig_bytes_per_s", "kernels.parse_s",
    "assemble.s", "assemble.docs_out", "assemble.shuffle_write_bytes", "assemble.tasks",
    "extract.s", "extract.python_run_s", "extract.python_start_s", "extract.bytes_to_python",
    "extract.bytes_from_python", "extract.rows_out", "extract.error_rows",
    "extract.kernel_share",
    "linking.s", "linking.candidate_rows", "linking.mentions_resolved",
    "linking.resolved_share",
    "canonicalize.s", "canonicalize.jobs", "canonicalize.alias_edges",
    "dedup.s", "dedup.rows_in", "dedup.rows_out",
    "materialize.merge_s", "materialize.files_live_before", "materialize.files_read",
    "materialize.files_written", "materialize.bytes_written", "materialize.rows_added",
    "materialize.lineage_s", "materialize.lookup_s", "materialize.lookup_files_read",
    "materialize.lookup_jobs",
    "pipeline.s", "pipeline.jobs", "pipeline.stages", "pipeline.tasks",
    "pipeline.failed_tasks", "pipeline.python_rows_out", "pipeline.parses_per_doc",
    "pipeline.layer_sum_share",
    "session.jvm_start_s", "session.peak_rss_mb", "session.persisted_rdds_left",
    "trace.overhead_s",
)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def kept(df):
    """Persist and count ``df`` (untimed input of the next layer)."""
    df = df.persist()
    return df, df.count()


def traced(sess, tally, record: dict, jvm_start_s: float) -> dict:
    """Per-layer metrics of ``sess``'s workload, with the spans in ``record``."""
    h = Harvester(sess.spark, uuid.uuid4().hex[:12])
    with h.span("trace"):
        out = _layers(sess, tally, h, jvm_start_s)
    if set(out) != set(LAYER_METRICS):
        raise RuntimeError(f"per-layer metrics out of sync: {sorted(set(out) ^ set(LAYER_METRICS))}")
    record["spans"] = [
        {"name": s.name, "trace_id": s.trace_id, "parent": s.parent,
         "start": s.start, "end": s.end}
        for s in h.spans
    ]
    return out


def _layers(sess, tally, h: Harvester, jvm_start_s: float) -> dict:
    spark, case = sess.spark, sess.case
    out: dict = {}

    def put(name: str, value: float, unit: str) -> None:
        out[name] = metric(float(value), unit)

    # -- pipeline: the session's cold call, as in the end-to-end run -----------
    store = sess.fresh_store()
    t = time.perf_counter()
    report, p = h.layer("pipeline", lambda: sess.ingest(store))
    traced_wall = time.perf_counter() - t
    persisted_left = len(spark.sparkContext._jsc.getPersistentRDDs())
    check_ingest(sess, store, report, tally, "traced ingest")

    # -- kernels: single-threaded calls on the run's documents -----------------
    per_fmt: dict[str, list[float]] = {f: [0, 0.0] for f in KERNELS}
    with h.span("kernels"):
        for c in case.run.convs:
            if c.fmt is None:
                continue
            text = c.text
            t = time.perf_counter()
            KERNELS[c.fmt](text, c.base_iri)
            per_fmt[c.fmt][0] += len(text.encode())
            per_fmt[c.fmt][1] += time.perf_counter() - t
    for f, (n_bytes, secs) in per_fmt.items():
        put(f"kernels.{f}_bytes_per_s", n_bytes / secs if secs else 0.0, "B/s")
    parse_s = sum(s for _, s in per_fmt.values())
    put("kernels.parse_s", parse_s, "s")

    # -- assemble ----------------------------------------------------------------
    _, a = h.layer("assemble", lambda: noop(assemble_documents_salted(sess.transcripts)))
    docs, n_docs = kept(
        assemble_documents_salted(sess.transcripts)
        .join(F.broadcast(sess.docs_meta), "conv_id", "left")
    )
    put("assemble.s", a.seconds, "s")
    put("assemble.docs_out", n_docs, "count")
    put("assemble.shuffle_write_bytes", a.metric("Exchange", "shuffle bytes written"), "B")
    put("assemble.tasks", a.tasks, "count")

    # -- extract -----------------------------------------------------------------
    rdf_docs = docs.filter(F.col("format").isNotNull())
    free_docs = docs.filter(F.col("format").isNull())
    _, e = h.layer("extract", lambda: noop(extract_triples(rdf_docs)))
    extracted, _ = kept(extract_triples(rdf_docs))
    rows_out = e.metric("MapInArrow", "number of output rows")
    python_run_s = e.metric("MapInArrow", "time to run Python workers")
    put("extract.s", e.seconds, "s")
    put("extract.python_run_s", python_run_s, "s")
    put("extract.python_start_s",
        e.metric("MapInArrow", "time to start Python workers")
        + e.metric("MapInArrow", "time to initialize Python workers"), "s")
    put("extract.bytes_to_python", e.metric("MapInArrow", "data sent to Python workers"), "B")
    put("extract.bytes_from_python",
        e.metric("MapInArrow", "data returned from Python workers"), "B")
    put("extract.rows_out", rows_out, "count")
    put("extract.error_rows", errors_of(extracted).count(), "count")
    put("extract.kernel_share", parse_s / python_run_s if python_run_s else 0.0, "ratio")

    # -- linking -----------------------------------------------------------------
    _, lk = h.layer("linking", lambda: noop(link_entities(free_docs, sess.dictionary)))
    linked, _ = kept(link_entities(free_docs, sess.dictionary))
    cands = link_broadcast(detect_mentions(free_docs), sess.dictionary)
    n_cands = cands.count()
    n_resolved = resolve_candidates(cands).count()
    put("linking.s", lk.seconds, "s")
    put("linking.candidate_rows", n_cands, "count")
    put("linking.mentions_resolved", n_resolved, "count")
    put("linking.resolved_share", n_resolved / n_cands if n_cands else 0.0, "ratio")

    # -- canonicalize --------------------------------------------------------------
    triples, _ = kept(triples_of(extracted).unionByName(linked))
    _, cn = h.layer("canonicalize", lambda: noop(canonicalize(triples)))
    canonical, n_canonical = kept(canonicalize(triples))
    put("canonicalize.s", cn.seconds, "s")
    put("canonicalize.jobs", cn.jobs, "count")
    put("canonicalize.alias_edges", sameas_edges(triples).count(), "count")

    # -- dedup ---------------------------------------------------------------------
    _, dd = h.layer("dedup", lambda: noop(dedup_triples(canonical)))
    deduped, n_dedup = kept(dedup_triples(canonical))
    put("dedup.s", dd.seconds, "s")
    put("dedup.rows_in", n_canonical, "count")
    put("dedup.rows_out", n_dedup, "count")

    # -- materialize: MERGE, lineage commit, file-pruned lookups -------------------
    store = sess.fresh_store()
    files_before = store_footprint(sess, store)["files"]
    added, mg = h.layer("materialize.merge", lambda: store.merge(spark, deduped))
    _, ln = h.layer("materialize.lineage",
                    lambda: store.commit_lineage(spark, "layer", "g0000", added))
    lookup_s = []
    jobs = files_read = 0
    for i, subject in enumerate(case.subjects[:LAYER_LOOKUPS]):
        _, lu = h.layer(f"materialize.lookup.{i}",
                        lambda: timed_lookup(sess, store, subject, tally))
        lookup_s.append(lu.seconds)
        jobs += lu.jobs
        files_read += lu.metric("Scan parquet", "number of files read")
    put("materialize.merge_s", mg.seconds, "s")
    put("materialize.files_live_before", files_before, "count")
    put("materialize.files_read", mg.metric("Scan parquet", "number of files read"), "count")
    put("materialize.files_written",
        mg.metric("Execute InsertIntoHadoopFsRelationCommand", "number of written files"),
        "count")
    put("materialize.bytes_written",
        mg.metric("Execute InsertIntoHadoopFsRelationCommand", "written output"), "B")
    put("materialize.rows_added", added, "count")
    put("materialize.lineage_s", ln.seconds, "s")
    put("materialize.lookup_s", statistics.median(lookup_s), "s")
    put("materialize.lookup_files_read", files_read / len(lookup_s), "count")
    put("materialize.lookup_jobs", jobs / len(lookup_s), "count")
    tally.op(added == case.expected_new, f"layer merge added {added}")

    for df in (docs, extracted, linked, triples, canonical, deduped):
        df.unpersist()

    # -- pipeline as a whole, and the session ---------------------------------------
    python_rows = p.metric("MapInArrow", "number of output rows")
    layer_sum = sum(out[k]["value"] for k in (
        "assemble.s", "extract.s", "linking.s", "canonicalize.s", "dedup.s",
        "materialize.merge_s", "materialize.lineage_s"))
    put("pipeline.s", p.seconds, "s")
    put("pipeline.jobs", p.jobs, "count")
    put("pipeline.stages", p.stages, "count")
    put("pipeline.tasks", p.tasks, "count")
    put("pipeline.failed_tasks", p.failed_tasks, "count")
    put("pipeline.python_rows_out", python_rows, "count")
    put("pipeline.parses_per_doc", python_rows / rows_out if rows_out else 0.0, "ratio")
    put("pipeline.layer_sum_share", layer_sum / p.seconds, "ratio")
    put("session.jvm_start_s", jvm_start_s, "s")
    put("session.peak_rss_mb", peak_rss_mb(spark), "MB")
    put("session.persisted_rdds_left", persisted_left, "count")
    put("trace.overhead_s", traced_wall - p.seconds, "s")
    return out
