"""The correctness gate: engine crawl order + seen set == oracle
(SURVEY.md §5.2 item 2; BASELINE.json correctness criterion)."""

from __future__ import annotations

import pytest

from axora_spark import datagen, oracle
from axora_spark.plans import crawl


@pytest.fixture(scope="module")
def fixture_pages():
    return datagen.link_graph_rows(n_pages=120, seed=42)


@pytest.fixture(scope="module")
def cfg(fixture_pages):
    return datagen.fixture_config(fixture_pages)


def _run_engine(spark, catalog, cfg, pages, **kw):
    from axora_spark import schemas
    corpus = spark.createDataFrame(pages, schemas.LINK_GRAPH)
    return crawl.run_crawl(spark, catalog, cfg, corpus, **kw)


def test_crawl_matches_oracle(spark, catalog, cfg, fixture_pages):
    want = oracle.simulate(fixture_pages, cfg)
    _run_engine(spark, catalog, cfg, fixture_pages)

    got_admitted = [
        (r.wave, r.host, r.rank, r.url, r.depth)
        for r in catalog.read(spark, "admitted")
        .orderBy("wave", "host", "rank").collect()
    ]
    assert got_admitted == want.admitted

    got_seen = {r.url for r in catalog.read(spark, "seen").collect()}
    assert got_seen == want.seen


def test_crawl_nontrivial(spark, catalog, cfg, fixture_pages):
    """Guard against a vacuously-passing oracle: the fixture crawl must
    exercise multiple waves, deferrals, and both hosts."""
    want = oracle.simulate(fixture_pages, cfg)
    assert want.waves_run >= 3
    assert len(want.admitted) > 40
    hosts = {h for _, h, _, _, _ in want.admitted}
    assert len(hosts) >= 5
    # deferrals actually happened (budget bound)
    assert any(m["deferred"] > 0 for m in want.per_wave_metrics)


def test_bloom_path_identical(spark, catalog, cfg, fixture_pages):
    """Force the sharded-bloom pre-filter on from wave 1: results must be
    byte-identical (FPR never drops unseen URLs)."""
    want = oracle.simulate(fixture_pages, cfg)
    _run_engine(spark, catalog, cfg, fixture_pages, bloom_threshold=1)
    got_admitted = [
        (r.wave, r.host, r.rank, r.url, r.depth)
        for r in catalog.read(spark, "admitted")
        .orderBy("wave", "host", "rank").collect()
    ]
    assert got_admitted == want.admitted
    got_seen = {r.url for r in catalog.read(spark, "seen").collect()}
    assert got_seen == want.seen


@pytest.mark.parametrize("bloom_threshold", [100_000, 1])
def test_metrics_table_matches_oracle(spark, catalog, cfg, fixture_pages,
                                      bloom_threshold):
    """Pin the A5 metrics table (wave × host): per-wave sums of
    candidates/admitted/deferred equal the oracle's per-wave counts, rows
    exist only for hosts with candidates, per-host admitted equals the
    admitted table, deferred = candidates − admitted, and deduped is the
    discovered∪deferred rows the next frontier did not keep."""
    want = oracle.simulate(fixture_pages, cfg).per_wave_metrics
    _run_engine(spark, catalog, cfg, fixture_pages,
                bloom_threshold=bloom_threshold)
    rows = catalog.read(spark, "metrics").collect()
    assert rows

    keys = [(r.wave, r.host) for r in rows]
    assert len(keys) == len(set(keys))
    for r in rows:
        assert r.candidates > 0, r
        assert r.deferred == r.candidates - r.admitted, r
        assert r.deduped >= 0, r

    fields = ("candidates", "admitted", "deferred", "deduped")
    sums: dict[int, dict[str, int]] = {}
    for r in rows:
        s = sums.setdefault(r.wave, dict.fromkeys(fields, 0))
        for k in fields:
            s[k] += getattr(r, k)
    assert sorted(sums) == [m["wave"] for m in want]
    for m in want:
        got = sums[m["wave"]]
        assert [got[k] for k in fields[:3]] == \
            [m[k] for k in fields[:3]], m["wave"]

    adm = {(r.wave, r.host): r.n for r in catalog.read(spark, "admitted")
           .groupBy("wave", "host").count()
           .withColumnRenamed("count", "n").collect()}
    assert adm == {(r.wave, r.host): r.admitted for r in rows
                   if r.admitted > 0}

    # deduped = |discovered ∪ deferred| − |next frontier|, per wave
    nxt = {r.wave: r.n_rows for r in catalog.read(spark, "lineage")
           .filter("`table` = 'frontier' AND wave >= 0").collect()}
    for m in want:
        assert sums[m["wave"]]["deduped"] == \
            m["links_discovered"] + m["deferred"] - nxt[m["wave"]], m
