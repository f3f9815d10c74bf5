"""Incremental (minor) clustering: zorder.cluster_incremental + the
maintain minor/major policy split.

The LSM discipline for 10^12-image tables: appends decay the Z-order
layout; re-clustering the WHOLE table per append cycle costs ∝ table, so
the minor pass sorts only the never-clustered delta (NULL zorder stats)
into one new sorted run, and the major full rewrite runs only when runs
pile past the policy cap. Reference parity: no analog (single-node
library); engine role = Iceberg rewrite_data_files(strategy='sort')
scoped to new files.
"""

import os

import pytest

from nessie_spark.lakehouse import jobs, zorder
from nessie_spark.lakehouse.maintain import (
    MaintenancePolicy,
    plan_maintenance,
    table_health,
)
from nessie_spark.lakehouse.scan import plan_files, scan
from nessie_spark import synth
from tests.conftest import make_table

TARGET = 256 * 1024


def _clustered_base(spark, tmp_path, n=256):
    t, _ = make_table(spark, str(tmp_path / "tbl"), n=n)
    zorder.cluster(spark, t, target_bytes=TARGET, job_id="full0")
    return t.refresh()


def _append_batch(spark, t, n=96, seed=7, files=6):
    df = synth.images_df(spark, n, seed=seed)
    bounds = synth.lognormal_file_boundaries(n, seed=seed, mean_rows=n // files)
    jobs.append(spark, t, df, job_id=f"app-{seed}", file_boundaries=bounds)
    return t.refresh()


def test_incremental_rewrites_only_the_delta(spark, tmp_path):
    t = _clustered_base(spark, tmp_path)
    clustered_paths = {e["file_path"] for e in t.file_entries().to_pylist()}
    t = _append_batch(spark, t)
    before_ids = {r.image_id for r in scan(spark, t).select("image_id").collect()}
    delta = [
        e for e in t.file_entries(columns=["file_path", "zorder_lo"]).to_pylist()
        if e["zorder_lo"] is None
    ]
    assert delta, "append must produce unclustered files"

    res = zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="zd1")
    assert res.snapshot_id is not None
    # cost ∝ delta: exactly the unclustered files were inputs
    assert res.input_files == len(delta)
    t = t.refresh()

    after = t.file_entries(columns=["file_path", "zorder_lo", "zorder_hi"]).to_pylist()
    after_paths = {e["file_path"] for e in after}
    # every pre-existing clustered file carried forward untouched
    assert clustered_paths <= after_paths
    # the delta files are gone, every survivor has zorder stats
    assert not any(e["file_path"] in after_paths for e in delta)
    assert all(e["zorder_lo"] is not None for e in after)
    # the new run is internally disjoint (touching boundaries allowed)
    run = sorted(
        (e for e in after if e["file_path"] not in clustered_paths),
        key=lambda e: e["zorder_lo"],
    )
    for a, b in zip(run, run[1:]):
        assert b["zorder_lo"] >= a["zorder_hi"]
    # row-set identity
    after_ids = {r.image_id for r in scan(spark, t).select("image_id").collect()}
    assert after_ids == before_ids


def test_incremental_improves_pruning(spark, tmp_path):
    """A phash-range scan prunes WITHIN the new sorted run — the point of
    sorting the delta instead of merely bin-packing it."""
    t = _clustered_base(spark, tmp_path)
    base_paths = {e["file_path"] for e in t.file_entries().to_pylist()}
    t = _append_batch(spark, t, n=256, seed=7, files=12)
    zorder.cluster_incremental(spark, t, target_bytes=64 * 1024, job_id="zd2")
    t = t.refresh()
    run = [
        e
        for e in t.file_entries(
            columns=["file_path", "min_phash", "max_phash"]
        ).to_pylist()
        if e["file_path"] not in base_paths
    ]
    assert len(run) >= 3, "fixture must yield a multi-file run"
    # probe the first run file's own phash span: curve order gives the run
    # phash locality, so at least one sibling run file must be skipped
    lo, hi = run[0]["min_phash"], run[0]["max_phash"]
    planned = {e["file_path"] for e in plan_files(t, phash_range=(lo, hi))}
    assert run[0]["file_path"] in planned
    assert len([e for e in run if e["file_path"] in planned]) < len(run)
    # and the pruned scan still returns exactly the matching rows
    assert scan(spark, t, phash_range=(lo, hi)).count() == len(
        [r for r in scan(spark, t).select("phash").collect() if lo <= r.phash <= hi]
    )


def test_incremental_noop_and_idempotent(spark, tmp_path):
    t = _clustered_base(spark, tmp_path)
    r0 = zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="zd3")
    assert r0.snapshot_id is None and r0.input_files == 0  # nothing decayed
    t = _append_batch(spark, t)
    r1 = zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="zd4")
    assert r1.snapshot_id is not None
    # same job_id again = committed-marker short-circuit, same snapshot
    r2 = zorder.cluster_incremental(
        spark, t.refresh(), target_bytes=TARGET, job_id="zd4"
    )
    assert r2.snapshot_id == r1.snapshot_id and r2.input_files == 0


def test_incremental_scan_skips_zorder_delta(spark, tmp_path):
    """zorder-delta is a pure rewrite: incremental append reads cross it."""
    from nessie_spark.lakehouse.scan import scan_incremental

    t = _clustered_base(spark, tmp_path)
    snap0 = t.current_snapshot_id
    t = _append_batch(spark, t, n=64, seed=9)
    zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="zd5")
    t = t.refresh()
    delta = scan_incremental(spark, t, from_snapshot_id=snap0)
    assert delta.count() == 64  # the append only, rewrite invisible


def test_maintain_minor_major_split(spark, tmp_path):
    policy = MaintenancePolicy(
        target_bytes=TARGET,
        compact_min_small_files=10_000,  # isolate the clustering decision
        incremental_cluster_max_pct=0.5,
        max_sorted_runs=2,
    )
    t = _clustered_base(spark, tmp_path)
    h0 = table_health(t, policy)
    assert h0.sorted_runs == 1 and h0.unclustered_files == 0
    assert "cluster" not in plan_maintenance(h0, policy)
    assert "cluster-delta" not in plan_maintenance(h0, policy)

    # small decay → minor
    t = _append_batch(spark, t, n=96, seed=11)
    h1 = table_health(t, policy)
    assert h1.unclustered_files > 0
    assert plan_maintenance(h1, policy).count("cluster-delta") == 1
    assert "cluster" not in plan_maintenance(h1, policy)

    # two minor runs layered → runs exceed the cap → major
    zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="m1")
    t = _append_batch(spark, t.refresh(), n=96, seed=12)
    zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="m2")
    t = t.refresh()
    h2 = table_health(t, policy)
    assert h2.sorted_runs > policy.max_sorted_runs
    plan = plan_maintenance(h2, policy)
    assert "cluster" in plan and "cluster-delta" not in plan

    # huge decay relative to the table → major even with runs under cap
    big = MaintenancePolicy(
        target_bytes=TARGET, incremental_cluster_max_pct=0.01,
        max_sorted_runs=99, compact_min_small_files=10_000,
    )
    t2 = _clustered_base(spark, tmp_path / "b")
    t2 = _append_batch(spark, t2, n=128, seed=13)
    h3 = table_health(t2, big)
    assert h3.unclustered_bytes_pct > big.incremental_cluster_max_pct
    plan3 = plan_maintenance(h3, big)
    assert "cluster" in plan3 and "cluster-delta" not in plan3


def test_maintain_executes_cluster_delta(spark, tmp_path):
    from nessie_spark.lakehouse.maintain import maintain

    policy = MaintenancePolicy(
        target_bytes=TARGET, compact_min_small_files=10_000,
        incremental_cluster_max_pct=0.9, max_sorted_runs=8,
        expire_retain_last=None, rewrite_manifests_min=10_000,
    )
    t = _clustered_base(spark, tmp_path)
    t = _append_batch(spark, t, n=96, seed=21)
    rep = maintain(spark, t, policy=policy, job_id="sweep1")
    assert rep.actions == ["cluster-delta"]
    assert rep.snapshots["cluster-delta"] is not None
    assert rep.health_after.unclustered_files == 0
    assert rep.health_after.sorted_runs == 2


def test_cluster_records_plan_shape_in_lineage(spark, tmp_path, capfd):
    """The staged plan's shape — scatter bins, gather groups, and whether
    each min-parallelism floor engaged — lands in the job's lineage
    metrics for both the full and the incremental rewrite; nothing is
    printed to stderr."""
    from nessie_spark.lakehouse import lineage

    t = _clustered_base(spark, tmp_path)
    t = _append_batch(spark, t)
    zorder.cluster_incremental(spark, t, target_bytes=TARGET, job_id="d1")
    for job in ("full0", "d1"):
        (unit,) = lineage.read_phase(t.root, job, "morton").to_pylist()
        m = dict(unit["metrics"])
        assert m["n_scatter_bins"] >= 1 and m["n_gather_groups"] >= 1
        # a table far below width x 64 MB: the scatter floor shrinks the
        # bins, and the gather floor lifts the one data-sized group
        assert m["scatter_floor_engaged"] == 1.0
        assert m["gather_floor_engaged"] == float(m["n_gather_groups"] > 1)
    assert "[zorder]" not in capfd.readouterr().err
