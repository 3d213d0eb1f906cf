"""Streaming stored-query monitor (lucene/monitor over a doc stream with
per-doc MemoryIndex matching): the streaming face must converge to the
batch face (engine.monitor_matches over a persisted corpus index) on the
same documents — the Monitor-vs-IndexSearcher agreement the reference's
monitor tests assert."""

import os

import pytest

SF = "/root/testdata/sf0.001"

REGISTRY = {
    "alert_and": ("and2", ("merge", "batch"), 0),
    "alert_msm": ("or_minshould", ("vector", "stream", "filter"), 2),
    "alert_phrase": ("phrase2", ("table", "hash"), 0),
    "alert_not": ("and_not", ("scan", "join"), 0),
}


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_stream_converges_to_batch_monitor(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lucene_solr_spark.engine import get_engine
    from lucene_solr_spark.streaming.monitor import monitor_stream

    batch = get_engine(spark, SF, "simple").monitor_matches(REGISTRY).toPandas()
    want = {(q, int(d)) for q, d in zip(batch.query_id, batch.doc_id)}
    assert want, "fixture registry must alert on the corpus"

    # stream the SAME docs in 3 arrival chunks
    import duckdb

    pdf = duckdb.sql(
        f"SELECT doc_id, text FROM '{os.path.join(SF, 'documents.parquet')}' ORDER BY doc_id"
    ).df()
    src = tmp_path / "stream_src"
    src.mkdir()
    n = len(pdf)
    step = (n + 2) // 3
    for i in range(0, n, step):
        pq.write_table(
            pa.Table.from_pandas(pdf.iloc[i:i + step], preserve_index=False),
            str(src / f"arrival-{i // step}.parquet"),
        )
    out = str(tmp_path / "alerts")
    monitor_stream(
        spark, str(src), str(tmp_path / "ckpt"), out,
        "doc_id long, text string", REGISTRY,
    )
    got_pdf = spark.read.parquet(out).toPandas()
    got = {(q, int(d)) for q, d in zip(got_pdf.query_id, got_pdf.doc_id)}
    assert got == want

    # restart durability: draining again with the same checkpoint emits
    # nothing new (the topic offset persisted)
    monitor_stream(
        spark, str(src), str(tmp_path / "ckpt"), out,
        "doc_id long, text string", REGISTRY,
    )
    again = spark.read.parquet(out).count()
    assert again == len(got_pdf)


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_presearcher_prunes_large_registry(spark):
    """TermFilteredPresearcher analog: a 10^4-query registry over mostly
    out-of-corpus vocabulary — evaluated candidates must be ≪ registry size
    while the match set stays IDENTICAL to the exhaustive path."""
    import duckdb
    import pandas as pd

    from lucene_solr_spark.index.build import ANALYZERS
    from lucene_solr_spark.search.query import parse_fixture_query
    from lucene_solr_spark.streaming.monitor import (
        Presearcher, match_frame,
    )

    an = ANALYZERS["simple"]()
    pdf = duckdb.sql(
        f"SELECT doc_id, text FROM '{os.path.join(SF, 'documents.parquet')}' ORDER BY doc_id"
    ).df()
    frame = an.analyze_batch(pdf["text"].reset_index(drop=True))

    # 10^4 standing queries: a small slice targets corpus vocabulary, the
    # bulk uses synthetic out-of-corpus terms (the realistic alerting shape:
    # most standing queries are dormant for any given batch)
    corpus_words = ["merge", "batch", "vector", "stream", "filter",
                    "table", "hash", "scan", "join", "sort"]
    registry = {}
    for i in range(10_000):
        if i % 100 == 0:
            a, b = corpus_words[i // 100 % 10], corpus_words[(i // 100 + 1) % 10]
            registry[f"q{i:05d}"] = parse_fixture_query(an, "and2", [a, b], 0)
        elif i % 7 == 0:
            registry[f"q{i:05d}"] = parse_fixture_query(
                an, "or2", [f"zzqx{i}", f"zzqy{i}"], 0
            )
        else:
            registry[f"q{i:05d}"] = parse_fixture_query(
                an, "and2", [f"zzqa{i}", f"zzqb{i}"], 0
            )

    pre = Presearcher(registry)
    pairs, n_eval = pre.match(frame, len(pdf))
    assert n_eval < len(registry) / 20, (
        f"presearcher evaluated {n_eval}/{len(registry)} queries — not pruning"
    )
    exhaustive = match_frame(frame, len(pdf), registry)
    assert sorted(pairs) == sorted(exhaustive)
    assert pairs, "the corpus-vocabulary slice must alert"


def test_presearcher_anytoken_and_disjunction_safety():
    """Safety rules: a pure MUST_NOT query is always a candidate (ANYTOKEN);
    a disjunction is a candidate when ANY disjunct's representative is
    present; a conjunction's single representative never loses matches."""
    import pandas as pd

    from lucene_solr_spark.index.build import ANALYZERS
    from lucene_solr_spark.search.query import parse_fixture_query
    from lucene_solr_spark.streaming.monitor import Presearcher, match_frame

    an = ANALYZERS["simple"]()
    from lucene_solr_spark.search.query import BooleanSpec, TermClause

    registry = {
        "conj": parse_fixture_query(an, "and2", ["alpha", "beta"], 0),
        "disj": parse_fixture_query(an, "or2", ["gamma", "delta"], 0),
        # no positive clause: must always be a candidate (ANYTOKEN fallback)
        "neg": BooleanSpec(must_not=[TermClause("noise")]),
    }
    pre = Presearcher(registry)
    texts = pd.Series(["alpha beta here", "only delta here", "nothing else"])
    frame = an.analyze_batch(texts)
    assert pre.anytoken == ["neg"]
    pairs, n_eval = pre.match(frame, 3)
    assert sorted(pairs) == sorted(match_frame(frame, 3, registry))
    assert ("delta" in {t for t in frame["term"].astype(str)})
    assert n_eval == 3  # conj + disj have representatives present; neg is ANYTOKEN


@pytest.mark.skipif(not os.path.isdir(SF), reason="driver testdata absent")
def test_batch_monitor_presearch_prunes_and_matches_identically(spark):
    """Batch-face presearcher: the index-dictionary probe prunes standing
    queries with no representative term in the corpus; matches are
    IDENTICAL to the exhaustive path."""
    from lucene_solr_spark.engine import get_engine

    eng = get_engine(spark, SF, "simple")
    big = dict(REGISTRY)
    for i in range(200):   # dormant queries: vocabulary absent from corpus
        big[f"dormant{i:03d}"] = ("and2", (f"zzqa{i}", f"zzqb{i}"), 0)

    cand = eng._monitor_candidate_specs(big)
    assert set(cand) == set(REGISTRY), (
        "exactly the corpus-vocabulary registry slice must survive pruning"
    )
    with_pre = eng.monitor_matches(big).toPandas()
    without = eng.monitor_matches(big, presearch=False).toPandas()
    a = {(q, int(d)) for q, d in zip(with_pre.query_id, with_pre.doc_id)}
    b = {(q, int(d)) for q, d in zip(without.query_id, without.doc_id)}
    assert a == b and a, "presearch changed the match set"

    all_dormant = {f"d{i}": ("and2", (f"zzqc{i}", f"zzqd{i}"), 0) for i in range(5)}
    assert eng.monitor_matches(all_dormant).count() == 0


def test_presearcher_falls_back_to_anytoken_on_or_group_and_multiphrase():
    """A positive clause with no representative-term rule (a nested OR
    group, a multi-phrase) makes its query an ANYTOKEN candidate instead of
    failing the registry — unless a sibling MUST clause has a
    representative, which alone prunes soundly; the pruned match equals the
    exhaustive one."""
    import pandas as pd

    from lucene_solr_spark.index.build import ANALYZERS
    from lucene_solr_spark.search.query import (
        BooleanSpec, MultiPhraseClause, OrGroupClause, TermClause,
    )
    from lucene_solr_spark.streaming.monitor import Presearcher, match_frame

    an = ANALYZERS["simple"]()
    registry = {
        "grp": BooleanSpec(must=[TermClause("alpha"), OrGroupClause(("beta", "delta"))]),
        "grp_should": BooleanSpec(should=[OrGroupClause(("gamma", "zzabsent"))]),
        "mphr": BooleanSpec(must=[MultiPhraseClause((("only",), ("delta", "beta")), (0, 1))]),
        "term": BooleanSpec(must=[TermClause("nothing")]),
    }
    pre = Presearcher(registry)
    assert sorted(pre.anytoken) == ["grp_should", "mphr"]
    assert "grp" not in pre.anytoken and "grp" not in pre.candidates_from_terms({"beta"})
    texts = pd.Series(["alpha beta here", "only delta here", "gamma alpha", "nothing else"])
    frame = an.analyze_batch(texts)
    pairs, n_eval = pre.match(frame, len(texts))
    assert n_eval == 4
    assert sorted(pairs) == sorted(match_frame(frame, len(texts), registry))
    assert sorted(pairs) == [(0, "grp"), (1, "mphr"), (2, "grp_should"), (3, "term")]
