"""Benchmark harness: runs the registry queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...}

Each query is executed through the same registry the correctness gate
uses; timing includes plan + execution, excluding session startup and
first-touch JVM warmup (one warmup query runs first).  Each per-query
time is the min over two full fixed-order passes.

Execution action: ``df.write.format("noop")`` — NOT ``count()``.
Catalyst prunes unused columns through a final count, so count() on an
Aggregate drops the aggregate expressions themselves (and column-prunes
the scan down to the group keys).  The noop sink executes the complete
projection — what a downstream consumer pays.

Totals are reported twice: ``value`` (full registry) and
``headline_value`` (registry.HEADLINE_QUERIES, ~58 structurally
distinct plans), because ~40 sub-second micro-gates in the full set
carry ±1.3x position/JIT noise.  Two fixed-cost canaries — a 400M-row
range sum (``sec``) and a 1-task noop job (``ovh_sec``) — are sampled
at five fixed positions per pass and kept as raw ``canary_samples`` in
BENCH_QUERIES.json.  This record is a plain timer: comparing code
versions is the paired parent/change run of ``BENCHMARK.json``
(perfbench/README.md), on one host, not a model across hosts.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lofar_bf_pulsar_scripts_spark.session import get_spark
from lofar_bf_pulsar_scripts_spark.registry import HEADLINE_QUERIES
from __spark_entry__ import queries

# Print-priority set (kept from r1): one per operator family; the
# truncated stdout line keeps these entries first.
HEADLINE = [
    "fold_profile",
    "fold_subints",
    "pricing_summary",
    "catalog_union",
    "sigma_clip_events",
    "user_sessions",
    "nearest_supplier",
    "asof_latest_event",
    "trimmed_stats",
    "boxcar_best_hourly",
]

# Driver-visible print continuity (r14 VERDICT item 2): the union of
# the query names the committed r13 and r14 records PRINTED.  The
# truncated stdout line keeps HEADLINE, then these, then the slowest
# remaining entries — so a query that once entered the driver's
# round-over-round comparison surface never silently drops out of it
# again just because an optimization made it fast (r14 evicted three
# of its own biggest wins that way).
PRINT_PRIORITY = [
    "bigram_lm_quality",
    "blind_search_pipeline",
    "bloom_incremental_screen",
    "delete_closure_ids",
    "dsir_importance",
    "dup_clusters",
    "forget_documents_stores",
    "hier_assign_agreement",
    "hierarchical_assign_counts",
    "hybrid_rrf_search",
    "image_phash_pairs",
    "incremental_components",
    "incremental_near_dup",
    "ivf_pq_rerank_top3",
    "ivf_pq_top3",
    "lsh_ann_topk",
    "lsh_ann_topk_stored",
    "lsh_bucket_sizes",
    "lsh_multiprobe_topk",
    "lsh_recall_at_5",
    "lta_superquery_manifest",
    "near_dedup_pipeline",
    "pii_redaction_stats",
    "pq_adc_top3",
    "qq_normalize_stats",
    "quality_dedup_keep",
    "streaming_asof_exact",
    "streaming_asof_joins_exact",
    "streaming_crossmatch_exact",
    "streaming_funnel_joins_exact",
    "trained_ivf_pq_rerank_top3",
    "trained_ivf_pq_upsert",
    "trained_pq_adc_top3",
    "training_data_pipeline",
]

# Full fixed-order passes; each query keeps its min.  A single pass
# carries ~9% total variance from position-dependent GC/cache state;
# two min-of-2 records of the same code agree to ~2-3%.
PASSES = 2


def execute(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="bench")
    qs = queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]

    def min_wall(make_df, runs: int) -> float:
        best = float("inf")
        for _ in range(runs):
            t0 = time.time()
            execute(make_df())
            best = min(best, time.time() - t0)
        return best

    def cpu_job():
        # double product: long sum-of-squares overflows int64
        return spark.range(0, 400_000_000, 1, 32).selectExpr(
            "sum(CAST(id AS DOUBLE) * id) AS s"
        )

    def canary_sample(at: str, runs: int) -> dict:
        # Two fixed-cost, data-independent probes, each min over
        # ``runs``: a 400M-row range sum (CPU throughput) and a 1-row,
        # 1-task job (scheduler/commit floor).
        return {
            "at": at,
            "sec": round(min_wall(cpu_job, runs), 3),
            "ovh_sec": round(
                min_wall(lambda: spark.range(0, 1, 1, 1), runs), 4
            ),
        }

    # One-time at-rest store builds happen BEFORE the timed passes and
    # are reported as their own field: on a cold container the first
    # query of each store family otherwise pays (and is charged for)
    # the build.
    from lofar_bf_pulsar_scripts_spark.registry import prebuild_stores

    store_build = prebuild_stores(spark, sf_dir)

    # JVM/codegen warmup on the smallest query
    execute(qs[names[0]](spark, sf_dir))
    canary_samples = [canary_sample("start", 3)]
    n = len(names)
    # canary checkpoints: after the 25/50/75% query and at pass end
    marks = sorted({max(1, n // 4), max(1, n // 2), max(1, 3 * n // 4)})
    timings: dict[str, float] = {}
    for p in range(PASSES):
        for i, name in enumerate(names):
            t0 = time.time()
            execute(qs[name](spark, sf_dir))
            dt = round(time.time() - t0, 3)
            if p == 0 or dt < timings[name]:
                timings[name] = dt
            if (i + 1) in marks:
                canary_samples.append(canary_sample(f"p{p}q{i + 1}", 2))
        canary_samples.append(canary_sample(f"p{p}end", 3))
    total = round(sum(timings.values()), 3)
    headline_ts = {n_: timings[n_] for n_ in HEADLINE_QUERIES if n_ in timings}
    payload = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "action": "noop_write",
        "passes": PASSES,
        "headline_value": round(sum(headline_ts.values()), 3),
        "headline_count": len(headline_ts),
        "canary_start_sec": canary_samples[0]["sec"],
        "canary_end_sec": canary_samples[-1]["sec"],
        "store_build_sec": store_build,
        # the core count the bench actually ran with ($SPARK_GRAFT_CPUS
        # drives the local[...] master) — not os.cpu_count(), which
        # mislabeled the driver's low-core scaling record as cpus:32
        # (r14 VERDICT)
        "cpus": (
            int(os.environ["SPARK_GRAFT_CPUS"])
            if os.environ.get("SPARK_GRAFT_CPUS", "*").isdigit()
            else os.cpu_count()
        ),
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    full_payload = dict(payload)
    full_payload["canary_samples"] = canary_samples
    # The driver records only the LAST 2000 chars of stdout and
    # json-parses that tail: with ~160 per-query entries the full line
    # is ~2.5 KB and would not parse. Keep the full per-query dict on
    # disk, and print a line guaranteed to fit: if the full line is too
    # long, the printed "queries" keeps the headline set, then
    # PRINT_PRIORITY, then the slowest remaining entries, and points at
    # the file for the rest.
    with open(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_QUERIES.json"
        ),
        "w",
    ) as fh:
        json.dump(full_payload, fh, indent=1)
        fh.write("\n")
    full = json.dumps(payload, separators=(",", ":"))
    budget = 1900
    if len(full) > budget:
        keep = dict.fromkeys(n_ for n_ in HEADLINE if n_ in timings)
        for n_ in PRINT_PRIORITY:
            if n_ in timings:
                keep.setdefault(n_)
        for n_, _ in sorted(timings.items(), key=lambda kv: -kv[1]):
            keep.setdefault(n_)
        # shed the bulky non-query detail from the PRINTED line only
        # (all of it stays in BENCH_QUERIES.json): the per-store build
        # breakdown collapses to its total and the canary samples drop
        del payload["store_build_sec"]
        payload["store_build_total_sec"] = round(
            sum(store_build.values()), 3
        )
        for k in ("canary_start_sec", "canary_end_sec"):
            payload.pop(k, None)
        payload["queries"] = {}
        payload["queries_omitted"] = 0
        payload["full_queries_file"] = "BENCH_QUERIES.json"
        base = len(json.dumps(payload, separators=(",", ":"))) + 8
        shown: dict[str, float] = {}
        for n_ in keep:
            entry = len(json.dumps({n_: timings[n_]}, separators=(",", ":")))
            if base + entry > budget:
                break
            shown[n_] = timings[n_]
            base += entry
        payload["queries"] = shown
        payload["queries_omitted"] = len(timings) - len(shown)
        full = json.dumps(payload, separators=(",", ":"))
    print(full)


if __name__ == "__main__":
    main()
