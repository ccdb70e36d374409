"""Shared parts of the benchmark: host-fit launch, workloads, the Spark-side
session of a case, and the correctness checks."""

from __future__ import annotations

import os
import random
import resource
import shutil
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import pandas as pd

from rio_spark.operators.materialize import GraphStore
from rio_spark.pipeline import run_pipeline
from rio_spark.sources.entity_dictionary import entity_dictionary

from kgbench.gen import (
    META_COLUMNS,
    META_SCHEMA,
    TRANSCRIPT_COLUMNS,
    TRANSCRIPT_SCHEMA,
    Corpus,
    Mix,
    generate,
)
from kgbench.oracle import Truth

ROOT = Path(__file__).resolve().parent.parent
QUAD_COLUMNS = ["subject", "predicate", "object", "graph"]
QUAD_SCHEMA = "subject string, predicate string, object string, graph string"
SNAPSHOT_ID = "bench"
N_GROUPS = 1  # run_pipeline's commit groups; each adds a merge (see below)
N_BUCKETS = 8
LOOKUPS = 10  # timed lookups per run at least


# -- host-fit launch --------------------------------------------------------

def host_settings() -> dict:
    """Cores as ``nproc`` counts them, and a JVM heap of a quarter of host
    memory, 1-3 GiB (``get_spark``'s 16 GiB default does not fit small hosts)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    heap_mb = max(1024, min(3072, total_kb // 1024 // 4))
    return {"cores": cores, "heap": f"{heap_mb}m", "host_mem_mb": total_kb // 1024}


def launch(work: Path, settings: dict):
    """Start the Spark session; every path it writes stays under ``work``."""
    from rio_spark.session import get_spark

    for d in ("local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    env = {
        "RIO_SPARK_DRIVER_MEM": settings["heap"],
        # Python workers import rio_spark from the repository root
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "TMPDIR": str(work / "tmp"),
        # HotSpot writes its perf-counter file to /tmp whatever java.io.tmpdir says
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    os.environ.update(env)
    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": str(work / "tmp"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{settings['heap']}",
    }
    spark = get_spark("kgbench", cores=settings["cores"], extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    settings.update(env=env, spark_conf=conf)
    return spark


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the JVM plus this Python process."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return (hwm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


# -- workloads --------------------------------------------------------------

@dataclass(frozen=True)
class Workload:
    run: Mix  # the measured call's new conversations
    base: tuple = ()  # one Mix per merge that builds the base store in setup
    replay: int = 0  # already-committed conversations redelivered


_RDF = dict(nt=0.60, nq=0.12, ttl=0.12, trig=0.08, corrupt=0.03, sameas=0.10)
_CHAT = dict(nt=0.04, nq=0.02, ttl=0.02, trig=0.02, hot=0.02, sameas=0.10)
_MIXED = dict(nt=0.25, nq=0.05, ttl=0.06, trig=0.04, corrupt=0.02, hot=0.02, sameas=0.10)

# Sizes are set by the time budget: every run starts a JVM and pays one cold
# pipeline call (about 30 s on 4 cores), and each base merge costs 5-10 s.
WORKLOADS = {
    # RDF-dominated documents into an empty store
    "ingest_rdf": Workload(run=Mix(150, **_RDF)),
    # a chat-heavy delta with redelivered conversations into a committed base
    "store_update": Workload(run=Mix(80, **_CHAT), replay=20, base=(Mix(200, **_MIXED),)),
}


class Case:
    """One workload at one seed: corpora, oracle and lookup subjects."""

    def __init__(self, name: str, seed: int):
        self.name, self.seed = name, seed
        self.spec = WORKLOADS[name]
        self.base = [generate(seed * 1000 + k, mix, prefix=f"b{k}_")
                     for k, mix in enumerate(self.spec.base)]
        rng = random.Random(seed)
        new = generate(seed * 1000 + 999, self.spec.run, prefix="n_")
        committed = [c for b in self.base for c in b.convs]
        self.run = Corpus(new.convs + rng.sample(committed, self.spec.replay))
        self.base_truth = [Truth(b.convs) for b in self.base]
        self.run_truth = Truth(self.run.convs)
        base_quads = set().union(*(t.quads for t in self.base_truth))
        self.expected = base_quads | self.run_truth.quads
        self.expected_new = len(self.run_truth.quads - base_quads)
        self.by_subject: dict[str, set] = {}
        for q in self.expected:
            self.by_subject.setdefault(q[0], set()).add(q)
        # alternate subjects of this run's documents and of the base
        pools = [sorted({q[0] for q in self.run_truth.quads})]
        if base_quads:
            pools.append(sorted({q[0] for q in base_quads}))
        self.subjects = [rng.choice(pools[i % len(pools)]) for i in range(400)]

    def fingerprints(self) -> dict:
        return {
            "run": self.run.fingerprint(),
            "base": [b.fingerprint() for b in self.base],
            "expected_quads": len(self.expected),
            "expected_new_quads": self.expected_new,
            "expected_error_rows": len(self.run_truth.errors),
        }


class Session:
    """The Spark-side inputs of a case: transcript frames and the base store."""

    def __init__(self, spark, case: Case, work: Path):
        self.spark, self.case, self.work = spark, case, work
        # pandas inputs take the session's Arrow conversion path
        self.transcripts = spark.createDataFrame(
            pd.DataFrame(case.run.rows(), columns=TRANSCRIPT_COLUMNS), TRANSCRIPT_SCHEMA)
        self.docs_meta = spark.createDataFrame(
            pd.DataFrame(case.run.meta_rows(), columns=META_COLUMNS), META_SCHEMA)
        self.dictionary = entity_dictionary(spark)
        self.base_dir = work / "base"
        self.base_merges_s: list[float] = []
        if case.base:
            base = GraphStore(str(self.base_dir), n_buckets=N_BUCKETS)
            for k, truth in enumerate(case.base_truth):
                t = time.perf_counter()
                quads = spark.createDataFrame(
                    pd.DataFrame(sorted(truth.quads, key=str), columns=QUAD_COLUMNS),
                    QUAD_SCHEMA)
                n = base.merge(spark, quads)
                base.commit_lineage(spark, f"base{k}", "g0000", n)
                self.base_merges_s.append(time.perf_counter() - t)
        self._stores = 0

    def fresh_store(self) -> GraphStore:
        """A new store at the base state (empty when the case has no base)."""
        self._stores += 1
        path = self.work / f"store{self._stores}"
        if self.base_dir.exists():
            shutil.copytree(self.base_dir, path)
        return GraphStore(str(path), n_buckets=N_BUCKETS)

    def ingest(self, store: GraphStore):
        return run_pipeline(
            self.spark, self.transcripts, store, SNAPSHOT_ID,
            docs_meta=self.docs_meta, dictionary=self.dictionary,
            n_groups=N_GROUPS,
        )


# -- checks -----------------------------------------------------------------

class Tally:
    """Operations attempted and failed; a failed check counts as a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def error(self, what: str) -> None:
        traceback.print_exc(file=sys.stderr)
        self.op(False, what)


def quads_of(rows) -> set:
    return {(r["subject"], r["predicate"], r["object"], r["graph"]) for r in rows}


def check_ingest(sess: Session, store: GraphStore, report, tally: Tally, what: str) -> None:
    """The store holds exactly base ∪ run quads, and the report's counts agree."""
    case = sess.case
    got = quads_of(store.graph(sess.spark).collect())
    ok = (
        got == case.expected
        and report.triples_merged == case.expected_new
        and report.error_rows == len(case.run_truth.errors)
    )
    tally.op(ok, f"{what}: store {len(got)} quads (want {len(case.expected)}), "
                 f"merged {report.triples_merged} (want {case.expected_new}), "
                 f"errors {report.error_rows} (want {len(case.run_truth.errors)})")


def timed_lookup(sess: Session, store: GraphStore, subject: str, tally: Tally) -> float | None:
    """Seconds one checked ``GraphStore.lookup`` took; None when it failed."""
    try:
        t = time.perf_counter()
        rows = store.lookup(sess.spark, [subject]).collect()
        dt = time.perf_counter() - t
    except Exception:
        tally.error(f"lookup {subject} raised")
        return None
    ok = quads_of(rows) == sess.case.by_subject[subject]
    tally.op(ok, f"lookup {subject}: {len(rows)} rows")
    return dt if ok else None


def store_footprint(sess: Session, store: GraphStore) -> dict:
    files = store.files_df(sess.spark).collect()
    return {
        "files": len(files),
        "bytes": sum(r["bytes"] for r in files),
        "quads": sum(r["rows"] for r in files),
    }


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
