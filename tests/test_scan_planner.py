"""Two-tier scan planning (lakehouse/scan.py):

Tier 1 — manifest-LIST key pruning: rewrite_manifests range-partitions
entries on min_key, so each rewritten manifest covers a narrow key slice
and a point lookup / key-range scan drops whole manifests from the plan
before any entry is read.

Tier 2 — distributed file pruning: past PLAN_DISTRIBUTED_ENTRIES the
per-file stats checks run as a Spark job over the manifest parquet and
only the surviving paths collect; must return the same file set as the
driver loop for every predicate shape.
"""

from nessie_spark import synth
from nessie_spark.lakehouse import jobs, zorder
from nessie_spark.lakehouse.manifest import rewrite_manifests
from nessie_spark.lakehouse.scan import (
    plan_files, prune_manifest_summaries, scan,
)
from tests.conftest import make_table


def _paths(entries):
    return sorted(e["file_path"] for e in entries)


def test_rewrite_manifests_key_clusters_and_prunes(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=400)
    res = rewrite_manifests(spark, t, target_manifests=4)
    assert res.snapshot_id is not None
    t = t.refresh()
    mans = sorted(
        t.manifest_summaries(), key=lambda m: (m["min_key"] is None, m["min_key"])
    )
    assert 2 <= len(mans) <= 4
    assert sum(m["n_entries"] for m in mans) == len(t.file_entries())
    # range partitioning ⇒ manifests' key ranges are disjoint (sorted by
    # min_key, each manifest ends before the next begins)
    for a, b in zip(mans, mans[1:]):
        assert a["max_key"] < b["min_key"]
    # tier-1: a point lookup keeps exactly the one covering manifest
    key = mans[1]["min_key"]
    kept = prune_manifest_summaries(mans, key_eq=key)
    assert [m["manifest_path"] for m in kept] == [mans[1]["manifest_path"]]
    # and a key-range spanning two manifests keeps exactly those two
    kept = prune_manifest_summaries(
        mans, key_range=(mans[0]["max_key"], mans[1]["min_key"])
    )
    assert len(kept) == 2
    # NULL-stat manifests are never pruned (unknown ⇒ possible hit)
    kept = prune_manifest_summaries(
        mans + [{"manifest_path": "x", "n_entries": 1, "min_key": None, "max_key": None}],
        key_eq=key,
    )
    assert any(m["manifest_path"] == "x" for m in kept)


def test_distributed_planner_matches_driver(spark, tmp_path):
    t, _ = make_table(spark, str(tmp_path / "tb"), n=400)
    # mixed layout: a Z-order rewrite (wide key ranges, blooms carry the
    # point lookups) plus a fresh append (narrow key range)
    zorder.cluster(spark, t, target_bytes=64 * 1024, job_id="z")
    t = t.refresh()
    from pyspark.sql import functions as F

    fresh = synth.images_df(spark, 64, seed=7).withColumn(
        "image_id", F.concat(F.lit("zz-"), F.col("image_id"))
    )
    jobs.append(spark, t, fresh, job_id="a2")
    t = t.refresh()
    entries = t.file_entries(columns=["file_path", "min_phash", "max_phash"]).to_pylist()
    mid_phash = sorted(e["min_phash"] for e in entries)[len(entries) // 2]
    cases = [
        {},
        {"key_eq": "img_000000000123"},
        {"key_eq": "img_nonexistent_zz"},
        {"phash_range": (mid_phash, mid_phash + 2**59)},
        {"wh_range": (1, 10**9)},
        {"key_range": ("img_000000000100", "img_000000000200")},
    ]
    for kw in cases:
        drv = plan_files(t, planner="driver", **kw)
        dist = plan_files(t, spark=spark, planner="distributed", **kw)
        assert _paths(drv) == _paths(dist), kw
    # the point lookup actually pruned (bloom tier alive in both planners)
    assert 1 <= len(plan_files(t, spark=spark, planner="distributed",
                               key_eq="img_000000000123")) < len(entries)


def test_scan_distributed_parity_with_mor_deletes(spark, tmp_path):
    from nessie_spark.lakehouse.deletes import delete_where

    t, _ = make_table(spark, str(tmp_path / "tb"), n=300)
    delete_where(spark, t, "phash % 7 = 0", job_id="d1")
    t = t.refresh()
    a = scan(spark, t, planner="driver").select("image_id")
    b = scan(spark, t, planner="distributed").select("image_id")
    rows_a = sorted(r.image_id for r in a.collect())
    rows_b = sorted(r.image_id for r in b.collect())
    assert rows_a == rows_b and len(rows_a) > 0
    # predicate + planner compose
    ka = scan(spark, t, key_range=("img_000000000050", "img_000000000150"),
              planner="distributed").count()
    kb = scan(spark, t, key_range=("img_000000000050", "img_000000000150")).count()
    assert ka == kb


def _spark_jobs(spark, group: str, fn):
    """Run ``fn`` under its own job group; return (result, #Spark jobs)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_planned_reads_run_no_listing_or_schema_job(spark, tmp_path):
    """Manifests are the file index: a DataFrame over manifest-planned
    files is built without any Spark job — no parallel listing of the
    paths (Spark lists more than 32 paths in a job unless told otherwise)
    and no schema-inference job — and a full scan collects in ONE job."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nessie_spark.lakehouse.expire import _live_paths_df

    t, _ = make_table(spark, str(tmp_path / "tb"), n=320, mean_rows=6)
    live = t.file_entries(columns=["file_path", "min_phash", "max_phash"]).to_pylist()
    assert len(live) >= 40
    lo = sorted(e["min_phash"] for e in live)[len(live) // 4]
    hi = sorted(e["max_phash"] for e in live)[3 * len(live) // 4]
    assert len(plan_files(t, phash_range=(lo, hi))) > 32

    full, n = _spark_jobs(spark, "build-scan", lambda: scan(spark, t))
    assert n == 0
    _, n = _spark_jobs(
        spark, "build-range", lambda: scan(spark, t, phash_range=(lo, hi))
    )
    assert n == 0
    _, n = _spark_jobs(spark, "build-files", lambda: t.files_df(spark))
    assert n == 0
    _, n = _spark_jobs(
        spark, "build-live",
        lambda: _live_paths_df(spark, t, {t.current_snapshot_id}),
    )
    assert n == 0

    rows, n = _spark_jobs(spark, "collect-scan", full.collect)
    assert n == 1
    want = pa.concat_tables(
        pq.read_table(os.path.join(t.root, e["file_path"]), columns=full.columns)
        for e in plan_files(t)
    )

    def norm(row):
        return tuple(bytes(v) if isinstance(v, bytearray) else v for v in row)

    got = sorted(norm(tuple(r)) for r in rows)
    assert got == sorted(norm(tuple(r.values())) for r in want.to_pylist())
    assert len(got) == 320
