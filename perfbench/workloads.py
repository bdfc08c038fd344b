"""The benchmark's workloads: which data, which stores, which queries.

Every query runs through the registry's public query functions
(``registry.queries()[name](spark, sf_dir)``). A workload's data is
the table set ``datagen`` writes; ``factor`` > 1 replicates it with the
repo's ``tools/scale_probe.py build --docs-mode realistic``.
"""

from __future__ import annotations

from dataclasses import dataclass


def _minhash_bands(spark, sf_dir: str) -> str:
    """The corpus MinHash band store that ``incremental_near_dup``
    probes, built through ``plans.lake.ensure_minhash_bands`` at the
    registry's own key under ``tempfile.gettempdir()``."""
    from lofar_bf_pulsar_scripts_spark import registry

    return registry._ensure_band_store(spark, sf_dir)


STORES = {"minhash_bands": _minhash_bands}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    warmup: str
    factor: int = 1
    stores: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="pulsar_search_10x",
            why=(
                "the paper's fold, robust-statistics and detrend pipelines on a "
                "10x replica: execution dominates, eager jobs are few"
            ),
            queries=("fold_profile", "trimmed_stats", "sigma_clip_events", "detrend_events"),
            warmup="profile_stats",
            factor=10,
        ),
        Workload(
            name="dedup_lake_stream",
            why=(
                "LSH dedup clusters, a probe of a MinHash band store built cold in "
                "set-up and a Python-state streaming as-of join: jobs run while "
                "the DataFrame is built"
            ),
            queries=("dup_clusters", "incremental_near_dup", "streaming_asof_exact"),
            warmup="pii_redaction_stats",
            stores=("minhash_bands",),
        ),
    )
}
