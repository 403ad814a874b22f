"""Driver-contract surface: every oracle belongs to a query, only the
rows-only entries lack an oracle, the oracles read only the tables the
oracle check registers, and the 50 entries the driver gate signs read
no events."""

import duckdb
import pytest

import __spark_entry__ as entry

ROWS_ONLY = {"pipeline_triples", "mentions_tagged", "embedding_pca"}
DRIVER_WINDOW = 50


@pytest.fixture(scope="module")
def surface():
    return entry.queries(), entry.oracle_sql()


def _unbound(sf_dir, tables, oracles):
    """Bind each oracle against empty tables shaped like ``tables``;
    return {name: error} for those that read any other table."""
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE TABLE {t} AS SELECT * FROM '{sf_dir}/{t}.parquet' LIMIT 0"
        )
    bad = {}
    for name, sql in oracles.items():
        try:
            con.execute("EXPLAIN " + sql)
        except duckdb.Error as e:
            bad[name] = str(e).splitlines()[0]
    return bad


def test_every_oracle_names_a_query(surface):
    queries, oracles = surface
    assert set(oracles) - set(queries) == set()


def test_only_rows_only_entries_lack_an_oracle(surface):
    queries, oracles = surface
    assert set(queries) - set(oracles) == ROWS_ONLY


def test_oracles_read_no_tpch_table(surface, sf_dir):
    _, oracles = surface
    assert _unbound(sf_dir, ["events", "documents", "embeddings"], oracles) == {}


def test_driver_window_reads_no_events(surface, sf_dir):
    queries, oracles = surface
    window = {n: oracles[n] for n in list(queries)[:DRIVER_WINDOW]}
    assert _unbound(sf_dir, ["documents", "embeddings"], window) == {}
