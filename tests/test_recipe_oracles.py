"""Registered entries against their DuckDB oracles at sf0.001 — the same
value-hash comparison ``tools/check_entry.py`` runs by hand at sf0.01, here
in the tier-1 suite: every recipe-built engine (mutated or derived-text
index) plus one entry per family whose spec is built in its registration
(span, similarity, custom norm table, parser, multi-phrase, fuzzy-blended,
synonym)."""

import os

import duckdb
import pytest

from tools.check_entry import SF_DIR as CHECK_SF_DIR, TABLES, compare

SF_DIR = os.path.join(os.path.dirname(CHECK_SF_DIR), "sf0.001")
ENTRIES = [
    "ft_after_update_topk",
    "ft_after_expunge_topk",
    "ft_asof_topk",
    "ft_after_atomic_update_topk",
    "ft_after_dbq_topk",
    "ft_rtg",
    "ft_dv_boost_topk",
    "ft_copyfield_topk",
    "ft_spancontain_topk",
    "ft_tfidf_topk",
    "ft_queryparser_topk",
    "ft_multiphrase_topk",
    "ft_fuzzy_blended_topk",
    "ft_synonymquery_topk",
    "ft_omitnorms_topk",
    "ft_bm25_tuned_topk",
]

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="sf0.001 testdata absent"
)


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield c
    c.close()


@pytest.mark.parametrize("name", ENTRIES)
def test_recipe_entry_matches_oracle(spark, con, name):
    import __spark_entry__ as entry

    got = entry.queries()[name](spark, SF_DIR).toPandas()
    want = con.sql(entry.oracle_sql()[name]).df()
    assert len(got) > 0
    assert compare(name, got, want) == []
