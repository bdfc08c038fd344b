"""Round-13: merge_components_store under a PRODUCTION-SPARSE batch
(r12 VERDICT item 2) — the r12 probe's replica density touched all 64
buckets, so its measured exponent (0.40) was the full-rewrite worst
case.  This pins the proportional-IO law at fixture scale:
buckets_rewritten is bounded by the touched components' bucket set,
never n_buckets, and untouched bucket directories keep their files
byte-identical.  The timed 10x/100x counterpart is recorded in
SCALE.md wave 17, "Sparse-touch components merge"."""

import glob
import os

from pyspark.sql import functions as F

from lofar_bf_pulsar_scripts_spark.operators.pipeline import (
    connected_components,
)
from lofar_bf_pulsar_scripts_spark.plans.lake import (
    merge_components_store,
    read_components_store,
    write_components_store,
)

N_BUCKETS = 64
NEW = 10**6


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def test_sparse_merge_rewrites_only_touched_buckets(spark, tmp_path):
    # 999 nodes in 333 three-node chains -> 333 components spread
    # across (essentially) all 64 buckets
    base = [(n, n + 1) for n in range(0, 999, 3)] + [
        (n + 1, n + 2) for n in range(0, 999, 3)
    ]
    comp = connected_components(
        _edges(spark, base), src_col="id_a", dst_col="id_b"
    )
    path = str(tmp_path / "comp")
    write_components_store(comp, path, n_buckets=N_BUCKETS)
    n_dirs = len(glob.glob(path + "/cbucket=*"))
    assert n_dirs > 32  # the store really is spread out
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(path + "/cbucket=*/*.parquet")
    }
    # nightly-shaped batch: 3 appended nodes + ONE true merge -> 4
    # touched components out of 333
    batch = [(NEW + s, s) for s in (0, 300, 600)] + [(0, 300)]
    rep = merge_components_store(spark, path, _edges(spark, batch))
    assert rep["new_nodes"] == 3
    assert rep["relabeled_components"] >= 1
    # proportionality: <= 2 bucket targets per touched component
    # (old label + new label), NOT n_buckets
    assert 0 < len(rep["buckets_rewritten"]) <= 8, rep
    # untouched bucket dirs kept their files byte-identical
    touched = {f"cbucket={b}/" for b in rep["buckets_rewritten"]}
    after = {
        f: os.path.getmtime(f)
        for f in glob.glob(path + "/cbucket=*/*.parquet")
    }
    untouched = [
        f for f in before if not any(t in f for t in touched)
    ]
    assert len(untouched) >= n_dirs - len(rep["buckets_rewritten"])
    for f in untouched:
        assert f in after and after[f] == before[f], f
    # merged content == full recompute over base + batch
    got = sorted(
        (r["node"], r["component"])
        for r in read_components_store(spark, path).collect()
    )
    want = sorted(
        (r["node"], r["component"])
        for r in connected_components(
            _edges(spark, base + batch), src_col="id_a", dst_col="id_b"
        ).collect()
    )
    assert got == want
    # the rewritten bucket set is EXACTLY the touched labels' buckets
    moved = {w for w in want if w not in set(
        (r[0], r[1]) for r in (
            (rr["node"], rr["component"]) for rr in comp.collect()
        )
    )}
    labels = {c for _, c in moved} | {
        old_c for old_n, old_c in (
            (r["node"], r["component"]) for r in comp.collect()
        ) if (old_n, old_c) not in set(want)
    }
    expected = {
        r["b"]
        for r in spark.createDataFrame(
            [(int(c),) for c in labels], "c long"
        ).select(
            F.pmod(F.xxhash64("c"), F.lit(N_BUCKETS)).cast("int").alias("b")
        ).collect()
    }
    assert set(rep["buckets_rewritten"]) == expected, (
        rep["buckets_rewritten"], expected,
    )
