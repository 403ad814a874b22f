"""The workloads: how each builds its inputs and runs one iteration of
the production job.

Every iteration commits into fresh output, manifest and checkpoint
directories, so iterations are independent and each one is checked
against the oracle on its own.  Why each workload exists, and which
layer it stresses, is in ``README.md`` beside this file.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from inputs import documents, gazetteer_catalog, split_files, write_pages

#: pages per workload at ``--scale 1``, sized so that ten runs of each
#: workload, cold JVM included, fit in well under an hour on 4 cores
BULK_PAGES = 8_000
GAZETTEER_PAGES = 2_500
GAZETTEER_TRAPS_PER_HEAD = 24
GAZETTEER_DISTRACTORS = 100_000
#: the traced run's stream probe: this many files of this many pages
STREAM_FILES = 3
STREAM_PAGES_PER_FILE = 200


@dataclass
class Run:
    """Inputs and state of one benchmark run of one workload."""

    spark: object
    work: str
    pages_dir: str = ""
    n_pages: int = 0
    #: alias trie; ``None`` runs the project's 15-alias catalog
    trie: dict | None = None
    stream: bool = False
    schema: object = None
    params: dict = field(default_factory=dict)
    _iterations: int = 0

    def fresh_dirs(self) -> tuple[str, str, str]:
        """New (triples, manifest, checkpoint) dirs for one iteration."""
        self._iterations += 1
        base = os.path.join(self.work, f"iter-{self._iterations:03d}")
        return (
            os.path.join(base, "triples"),
            os.path.join(base, "manifest"),
            os.path.join(base, "checkpoint"),
        )

    def pages_with_part(self):
        from deepie_spark.plans.pipeline import part_id_col

        return self.spark.read.parquet(self.pages_dir).withColumn(
            "part_id", part_id_col()
        )


def _pages(r: Run, n: int, seed: int, name: str) -> None:
    r.pages_dir = os.path.join(r.work, name)
    r.n_pages = write_pages(r.spark, documents(n, seed), r.pages_dir)


def prepare_bulk(r: Run, seed: int, scale: float) -> None:
    _pages(r, max(1, round(BULK_PAGES * scale)), seed, "pages")


def prepare_gazetteer(r: Run, seed: int, scale: float) -> None:
    from deepie_spark.datagen.catalog import build_alias_trie

    _pages(r, max(1, round(GAZETTEER_PAGES * scale)), seed, "pages")
    catalog = gazetteer_catalog(
        seed, GAZETTEER_TRAPS_PER_HEAD, round(GAZETTEER_DISTRACTORS * scale)
    )
    r.trie = build_alias_trie(catalog)
    r.params["catalog_aliases"] = len(catalog)


#: workload name → writes its inputs for a seed and an input scale
PREPARE = {"bulk": prepare_bulk, "gazetteer": prepare_gazetteer}


def stream_probe(r: Run, scale: float) -> Run:
    """The first pages of ``r`` split into small files, for
    ``stream_triples`` with one file per trigger (the traced run measures
    the streaming layer on it)."""
    p = Run(spark=r.spark, work=os.path.join(r.work, "stream-probe"))
    p.pages_dir = os.path.join(p.work, "pages")
    per_file = max(1, round(STREAM_PAGES_PER_FILE * scale))
    split_files(r.pages_dir, p.pages_dir, per_file, limit=STREAM_FILES * per_file)
    p.schema = p.spark.read.parquet(p.pages_dir).schema
    p.stream = True
    return p


def iteration(r: Run, out: str, man: str, ckpt: str) -> dict:
    """Run the production job once, from reading the pages parquet to the
    committed triples and manifest.  Returns the wall time and the time
    of each batch (a batch job is one batch)."""
    spark = r.spark
    if r.stream:
        from deepie_spark.streaming.pipeline_stream import stream_triples

        t0 = time.perf_counter()
        q = stream_triples(
            spark, r.pages_dir, out, man, ckpt,
            schema=r.schema, max_files_per_trigger=1, available_now=True,
        )
        finished = q.awaitTermination(150)
        wall = time.perf_counter() - t0
        if not finished:
            q.stop()
            raise TimeoutError("stream did not finish within 150 s")
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return {
            "wall_s": wall,
            "batch_s": [p["durationMs"]["triggerExecution"] / 1e3 for p in progress],
            "progress": progress,
        }

    from deepie_spark.plans.pipeline import extract_triples
    from deepie_spark.plans.resume import resume_run

    t0 = time.perf_counter()
    resume_run(
        spark, r.pages_with_part(), out, man,
        lambda todo: extract_triples(spark, todo.drop("part_id"), trie=r.trie),
    )
    wall = time.perf_counter() - t0
    return {"wall_s": wall, "batch_s": [wall]}
