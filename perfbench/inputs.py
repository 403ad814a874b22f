"""Seeded input generators for the pages→triples benchmark.

The program under test only ever sees what these functions write: a
``pages(url, warc_ts, html, text, lang)`` parquet table, an alias
catalog, and for the stream probe some of the pages split into small
files.  Documents
follow the shape of the synthetic ``documents`` table the project's
fixtures use (a closed 30-word vocabulary, 10 to 100 words per page,
words drawn uniformly), so every one of the 15 catalog aliases occurs
densely, the way the flagship corpus exercises the pipeline.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
N_SOURCES = 20


def documents(n: int, seed: int) -> pa.Table:
    """``documents(doc_id, text, lang, source)``: ``n`` pages, seeded."""
    rng = np.random.default_rng(seed)
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[
        rng.integers(0, len(VOCAB), int(lens.sum()))
    ]
    offs = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offs[1:])
    text = [" ".join(words[offs[i] : offs[i + 1]]) for i in range(n)]
    # doc ids are spread out so urls differ from seed to seed as well
    doc_id = rng.permutation(np.arange(n, dtype=np.int64) * 7 + rng.integers(7))
    return pa.table(
        {
            "doc_id": doc_id,
            "text": text,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i}" for i in rng.integers(0, N_SOURCES, n)],
        }
    )


def write_pages(spark, docs: pa.Table, pages_dir: str) -> int:
    """Render ``docs`` into the pages table with the project's own html
    wrapper (``datagen.pages``), as one parquet file like the fixture
    table; returns the page count."""
    from deepie_spark.datagen.pages import pages_from_documents

    pages_from_documents(spark.createDataFrame(docs)).coalesce(1).write.parquet(
        pages_dir
    )
    return docs.num_rows


def split_files(pages_dir: str, out_dir: str, pages_per_file: int, limit: int) -> None:
    """Copy the first ``limit`` pages into files of ``pages_per_file``
    rows each, named in arrival order."""
    table = pq.read_table(pages_dir).slice(0, limit)
    os.makedirs(out_dir)
    for i, start in enumerate(range(0, table.num_rows, pages_per_file)):
        pq.write_table(
            table.slice(start, pages_per_file),
            os.path.join(out_dir, f"pages-{i:05d}.parquet"),
            coerce_timestamps="us",  # Spark reads micros, not nanos
        )


def gazetteer_catalog(
    seed: int, traps_per_head: int, n_distractors: int
) -> list[tuple[int, str, str, str, float]]:
    """The catalog-size workload's alias list, ``(id, alias, type,
    subtype, prior)`` as in ``datagen.catalog``:

    * 25 two-token phrases of corpus words (each occurs about once per
      900 tokens) carry entity types the relation rules pair, so some
      triples come out;
    * every corpus word heads ``traps_per_head`` two-token aliases whose
      second token never occurs, so every token of every page opens
      candidate windows that never complete;
    * ``n_distractors`` single-token aliases never match.

    Tokens that never occur carry digits, which corpus words do not.
    """
    catalog: list[tuple[int, str, str, str, float]] = []
    types = ["PER", "ORG", "GPE", "FAC", "VEH"]
    for i, first in enumerate(VOCAB[:5]):
        for j, second in enumerate(VOCAB[10:15]):
            etype = types[(i + j) % len(types)]
            catalog.append((len(catalog) + 1, f"{first} {second}", etype, "NAM", 0.9))
    for head in VOCAB:
        for k in range(traps_per_head):
            catalog.append((len(catalog) + 1, f"{head} zq{seed}h{k}", "ORG", "NOM", 0.5))
    for k in range(n_distractors):
        catalog.append((len(catalog) + 1, f"zq{seed}d{k}", "LOC", "NOM", 0.1))
    return catalog
