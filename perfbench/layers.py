"""The traced run: per-layer self times and counters.

Layers are the project's modules, each timed from outside by calling its
public functions:

* cumulative stage prefixes over the pages an iteration processes, each
  written to the ``noop`` sink — scan (``spark.read.parquet`` +
  ``ensure_parallelism``), + ``extract_stage``, + ``detect_mentions``,
  + pairs/classify (``extract_triples``) — give each layer's self time
  as the difference of consecutive prefixes;
* the write and resume layers are timed by spans around
  ``extract_triples`` and ``write_triples_with_manifest`` while the real
  ``resume_run`` runs; the write layer's self time is those spans minus
  the prefix through pairs/classify, and the resume layer's is the rest
  of ``resume_run``;
* the streaming layer is read from ``stream_triples`` over a few small
  files of the same pages;
* Spark's own counters (SQL plan metrics, stage task metrics,
  ``StreamingQuery.recentProgress``) are read after the work.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time

from oracle import data_files
from probes import SparkCounters

#: every per-layer metric and its unit, in report order
PER_LAYER = {
    "session.start_s": "s",
    "session.first_py_job_s": "s",
    "py.worker_start_s": "s",
    "py.worker_init_s": "s",
    "scan.s": "s",
    "scan.rows": "count",
    "scan.bytes": "bytes",
    "extract.s": "s",
    "mentions.s": "s",
    "mentions.tokens": "count",
    "mentions.mentions": "count",
    "mentions.candidate_windows": "count",
    "mentions.py_bytes_sent": "bytes",
    "mentions.py_bytes_returned": "bytes",
    "mentions.py_run_s": "s",
    "pairs_classify.s": "s",
    "pairs_classify.candidate_pairs": "count",
    "pairs_classify.triples": "count",
    "pairs_classify.useful_ratio": "ratio",
    "write.s": "s",
    "write.shuffle_bytes": "bytes",
    "write.files": "count",
    "write.bytes": "bytes",
    "write.manifest_job_s": "s",
    "write.driver_s": "s",
    "resume.s": "s",
    "resume.parts_skipped": "count",
    "resume.pages_pending": "count",
    "stream.batches": "count",
    "stream.trigger_s": "s",
    "stream.add_batch_s": "s",
    "stream.overhead_s": "s",
    "stream.jobs_per_batch": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "trace.overhead_s": "s",
    "memory.peak_rss_mb": "MB",
}

#: each prefix runs this often and keeps its fastest time, so one slow
#: round does not push a layer's self time negative
PREFIX_ROUNDS = 2


def now_ms() -> int:
    return int(time.time() * 1000)


def first_py_job(spark, cores: int) -> None:
    """The first job that starts Python workers: one Arrow batch per core
    through an identity ``mapInArrow``."""
    spark.range(cores, numPartitions=cores).mapInArrow(
        lambda batches: batches, "id long"
    ).collect()


def session_metrics(spark, start_s: float, py_job_s: float, py_job_ms: tuple[int, int]) -> dict:
    c = SparkCounters(spark)
    ex = c.executions(*py_job_ms)
    return {
        "session.start_s": start_s,
        "session.first_py_job_s": py_job_s,
        "py.worker_start_s": c.metric_sum(ex, "MapInArrow", "time to start Python workers"),
        "py.worker_init_s": c.metric_sum(
            ex, "MapInArrow", "time to initialize Python workers"
        ),
    }


def _noop(build) -> tuple[float, int]:
    """Time building a plan with ``build()`` and running it to the noop
    sink (plan building is driver work of the same layers)."""
    since = now_ms()
    t0 = time.perf_counter()
    build().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0, since


def prefix_metrics(r, pages) -> dict:
    """Self time of scan, extract, mentions and pairs/classify over
    ``pages`` (a ``part_id``-less pages DataFrame), plus their counters."""
    from deepie_spark.datagen.catalog import build_alias_trie, relation_rules_df
    from deepie_spark.operators.mentions import detect_mentions
    from deepie_spark.operators.pairs import mention_pairs
    from deepie_spark.plans.pipeline import (
        classify_pairs_rules,
        extract_stage,
        extract_triples,
        triples_from_classified,
    )
    from deepie_spark.session import ensure_parallelism
    from pyspark.sql import functions as F

    spark = r.spark
    trie = r.trie if r.trie is not None else build_alias_trie()
    c = SparkCounters(spark)
    stages = {
        "scan": lambda: ensure_parallelism(pages),
        "extract": lambda: extract_stage(ensure_parallelism(pages)),
        "mentions": lambda: detect_mentions(extract_stage(ensure_parallelism(pages)), trie),
        "pairs_classify": lambda: extract_triples(spark, pages, trie=r.trie),
    }
    cum: dict[str, float] = {}
    since: dict[str, int] = {}
    for _ in range(PREFIX_ROUNDS):
        for name, build in stages.items():
            s, since[name] = _noop(build)
            cum[name] = min(cum.get(name, s), s)
    out = {
        "scan.s": cum["scan"],
        "extract.s": cum["extract"] - cum["scan"],
        "mentions.s": cum["mentions"] - cum["extract"],
        "pairs_classify.s": cum["pairs_classify"] - cum["mentions"],
        "_through_pairs_s": cum["pairs_classify"],
    }

    scan_ex = c.executions(since["scan"], since["extract"])
    out["scan.rows"] = c.metric_sum(scan_ex, "Scan parquet", "number of output rows")
    out["scan.bytes"] = c.metric_sum(scan_ex, "Scan parquet", "size of files read")
    men_ex = c.executions(since["mentions"], since["pairs_classify"])
    for key, metric in (
        ("mentions.py_bytes_sent", "data sent to Python workers"),
        ("mentions.py_bytes_returned", "data returned from Python workers"),
        ("mentions.py_run_s", "time to run Python workers"),
    ):
        out[key] = c.metric_sum(men_ex, "MapInArrow", metric)

    # counts, from one cached mention table (untimed)
    heads = [t for t, node in trie.items() if any(k != "$" for k in node)]
    mentions = detect_mentions(
        extract_stage(ensure_parallelism(pages)), trie, include_tokens=True
    ).persist()
    try:
        counts = mentions.agg(
            F.sum(F.size("tokens")).alias("tokens"),
            F.sum(F.size("mentions")).alias("mentions"),
            F.sum(F.size(F.filter("tokens", lambda t: t.isin(heads)))).alias("windows"),
        ).first()
        pairs = mention_pairs(mentions, max_distance=10).persist()
        n_pairs = pairs.count()
        n_triples = triples_from_classified(
            classify_pairs_rules(pairs, relation_rules_df(spark))
        ).count()
        pairs.unpersist()
    finally:
        mentions.unpersist()
    out["mentions.tokens"] = int(counts["tokens"] or 0)
    out["mentions.mentions"] = int(counts["mentions"] or 0)
    out["mentions.candidate_windows"] = int(counts["windows"] or 0)
    out["pairs_classify.candidate_pairs"] = n_pairs
    out["pairs_classify.triples"] = n_triples
    out["pairs_classify.useful_ratio"] = n_triples / max(1, n_pairs)
    return out


class Spans:
    """Wall-clock spans around calls to the project's public functions,
    installed by replacing the module attributes the callers look up."""

    #: module → functions, where the callers look them up: ``resume_run``
    #: finds the write in ``plans.resume``, and the benchmark's pipeline
    #: function imports ``extract_triples`` when it is called
    TARGETS = {
        "deepie_spark.plans.pipeline": ("extract_triples",),
        "deepie_spark.plans.resume": ("write_triples_with_manifest",),
    }

    def __init__(self):
        self.spans: list[dict] = []

    def _wrap(self, name, fn):
        def traced(*args, **kwargs):
            span = {"name": name, "start_ms": now_ms()}
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                span["s"] = time.perf_counter() - t0
                span["end_ms"] = now_ms()
                self.spans.append(span)

        return traced

    @contextlib.contextmanager
    def installed(self):
        import importlib

        saved = []
        for mod_name, names in self.TARGETS.items():
            mod = importlib.import_module(mod_name)
            for name in names:
                fn = getattr(mod, name)
                saved.append((mod, name, fn))
                setattr(mod, name, self._wrap(name, fn))
        try:
            yield self
        finally:
            for mod, name, fn in saved:
                setattr(mod, name, fn)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def parquet_files(out_dir: str) -> dict[str, int]:
    """Size of every data file under a ``part_id``-partitioned dir."""
    return {f: os.path.getsize(f) for f in data_files(out_dir)}


def write_metrics(r, spans: Spans, out_dir: str, wall_s: float, through_pairs_s: float) -> dict:
    """Write and resume layer metrics from one traced ``resume_run``.

    Building the triples plan (``extract_triples``) plus the
    ``write_triples_with_manifest`` call run every layer once; the write
    layer's self time is that minus the noop prefix through pairs/classify.
    The resume layer is what remains of the ``resume_run`` wall time."""
    c = SparkCounters(r.spark)
    writes = spans.named("write_triples_with_manifest")
    builds = spans.named("extract_triples")
    written = parquet_files(out_dir)
    shuffle = 0
    manifest_s = []
    driver_s = []
    for w in writes:
        ex = c.executions(w["start_ms"], w["end_ms"])
        done = [e for e in ex if e["end_ms"] is not None]
        spark_s = sum(e["end_ms"] - e["start_ms"] for e in done) / 1e3
        driver_s.append(max(0.0, w["s"] - spark_s))
        if done:
            manifest_s.append((done[-1]["end_ms"] - done[-1]["start_ms"]) / 1e3)
        shuffle += c.job_totals([j for e in ex for j in e["jobs"]])["shuffle_write_bytes"]
    med = statistics.median
    per_batch = [w["s"] + b["s"] for w, b in zip(writes, builds)]
    out = {
        "write.s": med(per_batch) - through_pairs_s if per_batch else 0.0,
        "write.shuffle_bytes": shuffle,
        "write.files": len(written),
        "write.bytes": sum(written.values()),
        "write.manifest_job_s": med(manifest_s) if manifest_s else 0.0,
        "write.driver_s": med(driver_s) if driver_s else 0.0,
    }
    out["resume.s"] = wall_s - sum(per_batch)
    return out


def stream_metrics(r, result: dict, since_ms: int, until_ms: int) -> dict:
    progress = result.get("progress", [])
    if not progress:
        return {k: 0 for k in PER_LAYER if k.startswith("stream.")}
    c = SparkCounters(r.spark)
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in progress]
    med = statistics.median
    return {
        "stream.batches": len(progress),
        "stream.trigger_s": med(trig),
        "stream.add_batch_s": med(add),
        "stream.overhead_s": med([t - a for t, a in zip(trig, add)]),
        "stream.jobs_per_batch": len(c.jobs_between(since_ms, until_ms)) / len(progress),
    }


def job_metrics(spark, since_ms: int, until_ms: int) -> dict:
    c = SparkCounters(spark)
    jobs = c.jobs_between(since_ms, until_ms)
    return {"spark.jobs": len(jobs), "spark.tasks": c.job_totals(jobs)["tasks"]}
