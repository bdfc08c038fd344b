"""Registry invariants: the driver's 50-query correctness window and
the at-rest store catalog."""

import dataclasses

from lofar_bf_pulsar_scripts_spark import registry as R
from lofar_bf_pulsar_scripts_spark.plans import lake

SF_DIR = "/root/testdata/sf0.001"

# every query that probes a catalog store
STORE_QUERIES = (
    "ivf_topk_filtered",
    "lsh_ann_topk_stored",
    "lsh_recall_at_5",
    "ivf_pq_stored_top3",
    "hybrid_rrf_search",
    "semantic_dedup_stats",
    "incremental_near_dup",
    "incremental_components",
    "trained_pq_adc_top3",
    "trained_ivf_pq_rerank_top3",
    "trained_ivf_pq_upsert",
    "forget_documents_stores",
)


def test_promote_is_the_head_of_the_driver_window():
    names = [s.name for s in R._SPECS]
    assert len(names) == len(set(names))
    assert len(R._PROMOTE) == len(set(R._PROMOTE))
    assert sorted(set(R._PROMOTE) - set(names)) == []
    assert len(R._PROMOTE) <= 50
    head = {s.name for s in R.specs()[: len(R._PROMOTE)]}
    assert head == set(R._PROMOTE)


def test_store_paths_are_distinct():
    paths = [R._store_path(SF_DIR, name) for name in R._STORES]
    assert len(set(paths)) == len(paths)


def test_every_build_argument_and_tag_moves_the_store_path(monkeypatch):
    for name, s in R._STORES.items():
        base = R._store_path(SF_DIR, name)
        for field in ("args", "tags"):
            for k, v in getattr(s, field).items():
                changed = {**getattr(s, field), k: ("changed", v)}
                monkeypatch.setitem(
                    R._STORES, name, dataclasses.replace(s, **{field: changed})
                )
                assert R._store_path(SF_DIR, name) != base, (name, k)
                monkeypatch.setitem(R._STORES, name, s)


def test_derived_store_path_follows_its_source_store(monkeypatch):
    derived = [n for n, s in R._STORES.items() if s.source in R._STORES]
    assert derived
    for name in derived:
        src = R._STORES[name].source
        base = R._store_path(SF_DIR, name)
        s = R._STORES[src]
        k = next(iter(s.args))
        monkeypatch.setitem(
            R._STORES, src,
            dataclasses.replace(s, args={**s.args, k: ("changed", s.args[k])}),
        )
        assert R._store_path(SF_DIR, name) != base, (name, src)
        monkeypatch.setitem(R._STORES, src, s)


def test_no_query_builds_a_store_prebuild_did_not(spark, monkeypatch):
    """Once prebuild_stores has run, building every store-consuming
    query's DataFrame promotes no new store into place."""
    assert set(STORE_QUERIES) <= set(R.queries())
    R.prebuild_stores(spark, SF_DIR)
    swap = lake._swap_store_into_place
    built = []

    def spy(spark_, tmp, path):
        built.append(path)
        swap(spark_, tmp, path)

    monkeypatch.setattr(lake, "_swap_store_into_place", spy)
    qs = R.queries()
    for name in STORE_QUERIES:
        qs[name](spark, SF_DIR)
    assert built == []
