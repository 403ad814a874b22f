"""Output checks: the triple multiset against an independent oracle, and
the lineage manifest against the parquet footers.

The oracle is the discrete operator chain — the pandas mention matcher,
``mention_pairs`` and the broadcast-join rule classifier — so it shares
no code with the production path's Arrow matcher or its fused in-row
pairing + classification.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: triple columns compared, in a fixed order with fixed dtypes
COLUMNS = {
    "subj": object,
    "pred": object,
    "obj": object,
    "subj_type": object,
    "obj_type": object,
    "prob": np.float64,
    "url": object,
    "pos1": np.int64,
    "pos2": np.int64,
    "part_id": np.int64,
}


def digest(table: pa.Table) -> tuple[int, int]:
    """Order-independent multiset digest: (rows, sum of row hashes mod
    2**64).  Two tables with equal digests hold the same rows with the
    same multiplicities, up to a 64-bit hash collision."""
    df = table.select(list(COLUMNS)).to_pandas()
    df = df.astype(COLUMNS)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
    return len(df), int(h.sum(dtype=np.uint64))


def oracle_digest(spark, pages_dir: str, trie: dict | None) -> tuple[int, int]:
    """Digest of the triples the discrete operators derive from every page
    under ``pages_dir`` with alias ``trie`` (``None``: the project's
    catalog)."""
    from deepie_spark.datagen.catalog import build_alias_trie, relation_rules_df
    from deepie_spark.operators.mentions import detect_mentions_pandas
    from deepie_spark.operators.pairs import mention_pairs
    from deepie_spark.plans.pipeline import (
        classify_pairs_rules,
        extract_stage,
        triples_from_classified,
    )

    pages = spark.read.parquet(pages_dir)
    mentions = detect_mentions_pandas(extract_stage(pages), trie or build_alias_trie())
    pairs = mention_pairs(mentions, max_distance=10)
    triples = triples_from_classified(
        classify_pairs_rules(pairs, relation_rules_df(spark))
    )
    return digest(triples.toArrow())


def data_files(out_dir: str) -> list[str]:
    """Parquet data files of a ``part_id``-partitioned triples dir."""
    return glob.glob(os.path.join(out_dir, "part_id=*", "*.parquet"))


def _footer_rows(out_dir: str) -> dict[int, int]:
    rows: dict[int, int] = {}
    for f in data_files(out_dir):
        pid = int(os.path.basename(os.path.dirname(f)).split("=", 1)[1])
        rows[pid] = rows.get(pid, 0) + pq.ParquetFile(f).metadata.num_rows
    return rows


def check_output(out_dir: str, manifest_dir: str, want: tuple[int, int]) -> list[str]:
    """Problems with one committed run; empty when it is correct."""
    problems = []
    table = pq.read_table(out_dir, partitioning="hive")
    got = digest(table)
    if got != want:
        problems.append(
            f"triple multiset differs from the oracle: {got[0]} rows"
            f" (digest {got[1]}) vs {want[0]} rows (digest {want[1]})"
        )
    man = pq.read_table(manifest_dir).to_pandas()
    man = man[man["status"] == "done"]
    recorded = {
        int(k): int(v) for k, v in man.groupby("part_id")["n_triples"].sum().items()
    }
    on_disk = _footer_rows(out_dir)
    if recorded != on_disk:
        bad = sorted(
            p for p in set(recorded) | set(on_disk)
            if recorded.get(p) != on_disk.get(p)
        )
        problems.append(
            f"manifest n_triples differs from footer rows for part_ids {bad[:8]}"
        )
    return problems


def parquet_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(f) for f in data_files(out_dir))
