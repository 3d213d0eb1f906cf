"""The one entry registry (``ops/registry.register``) without Spark: a taken
name is refused, so a copy-paste slip cannot silently replace another entry
and its oracle; the driver sees every entry once, and every full-text entry
carries its DuckDB oracle."""

import pytest

from lucene_solr_spark.driver_queries import all_oracles, all_queries
from lucene_solr_spark.ops import registry


def test_taken_name_is_refused(monkeypatch):
    monkeypatch.setattr(registry, "_QUERIES", {})
    monkeypatch.setattr(registry, "_ORACLES", {})
    registry.register("ft_x", lambda spark, sf_dir: None, "SELECT 1")
    with pytest.raises(ValueError, match="ft_x"):
        registry.register("ft_x", lambda spark, sf_dir: None, "SELECT 2")
    assert registry._ORACLES == {"ft_x": "SELECT 1"}


def test_every_entry_registered_once():
    names = list(all_queries())
    assert len(names) == len(set(names)) == 311


def test_every_fulltext_entry_has_an_oracle():
    oracles = all_oracles()
    missing = [n for n in all_queries() if n.startswith("ft_") and n not in oracles]
    assert not missing
