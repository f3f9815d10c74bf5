"""Copy-on-write MERGE batches interleaved with pinned reads.

Input: a hard-link copy of the pristine small-file table of ``rewrite.py``
and ``N_BATCHES`` merge batches pre-generated to Parquet during set-up. Each
batch edits the captions of ``UPDATES`` rows drawn with a bias towards
recent ids and inserts ``INSERTS`` new rows. A cycle merges one batch (``merge.merge_into``), then reads the new snapshot:
``key_eq`` lookups, one ``key_range`` scan, one ``phash_range`` scan, and
one read of the tagged base snapshot. The run ends with housekeeping
(``manifest.rewrite_manifests``, ``expire.expire_snapshots``,
``expire.gc_orphans``). Pixels are copied, never decoded: the table,
merge, scan, manifest and expire layers do the work.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from harness import Run, quantile
from rewrite import N_IMAGES, images_slice, live_entries

N_BATCHES = 16  # the warm-up batch and more cycles than a run can reach
UPDATES = 48
INSERTS = 16
LOOKUPS = 4
# edits and lookups hit the id that is k places from the newest with
# probability ~ exp(-k / RECENT_SCALE): mostly the newest few data files
RECENT_SCALE = 64
KEY_RANGE = 64
PHASH_SPAN = 1 << 60  # 1/16 of the int64 phash space
# merge rewrites matched files at about the input file size (16 rows of
# about 18 KB), so the table stays a small-file table from cycle to cycle
MERGE_TARGET_BYTES = 320 * 1024


def _iid(i: int) -> str:
    return f"img_{i:012d}"


class Mutate:
    """The merge-and-read half of a ``lakehouse`` cycle."""

    def __init__(self, run: Run, pristine: str):
        self.run = run
        self.pristine = pristine
        self.root = os.path.join(run.work, "mutable", "images")
        self.batch_dir = os.path.join(run.work, "batches")
        self.rng = np.random.default_rng(run.seed)
        self.merge_bytes_added: list[int] = []
        self.batch_bytes: list[int] = []
        self.live_files_by_cycle: dict[int, int] = {}

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        """Copy the pristine table, pre-generate the batches, warm up."""
        from nessie_spark.lakehouse.table import Table

        run, spark = self.run, self.run.spark
        shutil.copytree(os.path.dirname(self.pristine), os.path.dirname(self.root),
                        copy_function=os.link)
        n_ins = INSERTS * N_BATCHES
        inserts = run.timed_setup(
            "inserts",
            lambda: images_slice(spark, run.seed * 1000 + 999, N_IMAGES, N_IMAGES + n_ins).toArrow(),
        )
        self.table = Table.load(self.root)
        run.timed_setup("batches", self._make_batches, inserts)
        self.base_snap = self.table.current_snapshot_id
        self.table.create_tag("base", self.base_snap)

    def _make_batches(self, inserts: pa.Table) -> None:
        """Write every merge batch and build the expected table state after
        each one (captions and phashes by image_id)."""
        from nessie_spark.lakehouse.scan import IMAGES_DDL
        from nessie_spark.lakehouse.writer import arrow_schema_from_ddl

        schema = arrow_schema_from_ddl(IMAGES_DDL)
        base = pa.concat_tables([
            pq.read_table(os.path.join(self.root, e["file_path"]))
            for e in live_entries(self.root)
        ]).cast(schema).to_pandas().set_index("image_id", drop=False)
        ins = inserts.cast(schema).to_pandas().set_index("image_id", drop=False)
        self.base_rows = dict(zip(base["image_id"], base["caption"]))
        rows = pd.concat([base, ins])  # full source rows by image_id
        model = {i: (c, p) for i, c, p in zip(base["image_id"], base["caption"], base["phash"])}
        os.makedirs(self.batch_dir)
        self.models, self.expected = [], []
        n_live = N_IMAGES
        for k in range(N_BATCHES):
            back = np.floor(self.rng.exponential(RECENT_SCALE, UPDATES)).astype(int)
            ids = sorted({_iid(i) for i in (n_live - 1 - back).clip(0, n_live - 1)})
            upd = rows.loc[ids].copy()
            upd["caption"] = [f"{model[i][0]} (edit {k})" for i in ids]
            new = rows.loc[[_iid(i) for i in range(n_live, n_live + INSERTS)]]
            src = pd.concat([upd, new])
            path = os.path.join(self.batch_dir, f"batch-{k:03d}.parquet")
            pq.write_table(pa.Table.from_pandas(src, preserve_index=False).cast(schema), path)
            self.batch_bytes.append(os.path.getsize(path))
            model = dict(model)
            for i, c, p in zip(src["image_id"], src["caption"], src["phash"]):
                model[i] = (c, int(p))
            self.models.append(model)
            self.expected.append((len(upd), len(new)))
            n_live += INSERTS

    def warmup(self) -> None:
        """Untimed: merge batch 0 and read the new snapshot once."""
        from nessie_spark.lakehouse import merge
        from nessie_spark.lakehouse.scan import scan

        spark = self.run.spark
        merge.merge_into(spark, self.table, spark.read.parquet(self._batch(0)),
                         job_id="merge-000", target_bytes=MERGE_TARGET_BYTES)
        self.table = self.table.refresh()
        scan(spark, self.table, key_eq=_iid(N_IMAGES - 1)).collect()
        scan(spark, self.table, phash_range=(0, PHASH_SPAN), columns=["image_id"]).collect()
        scan(spark, self.table, snapshot_id=self.base_snap, columns=["image_id"]).collect()

    def _batch(self, k: int) -> str:
        return os.path.join(self.batch_dir, f"batch-{k:03d}.parquet")

    # -- one cycle -------------------------------------------------------
    def cycle(self, i: int) -> None:
        from nessie_spark.lakehouse import merge
        from nessie_spark.lakehouse import scan as S

        run, spark = self.run, self.run.spark
        k = i + 1  # batch 0 is the warm-up merge
        if k >= N_BATCHES:
            raise RuntimeError("mutate: out of pre-generated batches")
        model = self.models[k]
        n_upd, n_ins = self.expected[k]
        before = {e["file_path"] for e in live_entries(self.root)}
        res = run.call(
            "merge",
            lambda: merge.merge_into(
                spark, self.table, spark.read.parquet(self._batch(k)),
                job_id=f"merge-{k:03d}", target_bytes=MERGE_TARGET_BYTES),
            check=lambda r: r.updated == n_upd and r.inserted == n_ins,
            span="merge.merge_into",
        )
        self.table = self.table.refresh()
        snap = self.table.current_snapshot_id
        after = live_entries(self.root)
        added = [e for e in after if e["file_path"] not in before]
        self.merge_bytes_added.append(sum(e["file_size_bytes"] for e in added))
        self.live_files_by_cycle[i] = len(after)
        if res is not None:
            run.count("merge.files_rewritten", res.matched_files)
            changed = max(1, res.updated + res.inserted + res.deleted)
            run.count("merge.rows_rewritten_per_row_changed",
                      sum(e["record_count"] for e in added) / changed)
        run.count("table.manifests", len(self.table.manifest_paths()))

        n_live = N_IMAGES + INSERTS * (k + 1)
        for _ in range(LOOKUPS):
            iid = _iid(int(n_live - 1 - min(n_live - 1, self.rng.exponential(RECENT_SCALE))))
            want = [(iid, model[iid][0])]
            run.call(
                "key_eq",
                lambda: S.scan(spark, self.table, snapshot_id=snap, key_eq=iid,
                               columns=["image_id", "caption"]).collect(),
                check=lambda rows, want=want: [(r.image_id, r.caption) for r in rows] == want,
                span="scan.scan",
            )
        lo = int(self.rng.integers(0, n_live - KEY_RANGE))
        lo_id, hi_id = _iid(lo), _iid(lo + KEY_RANGE - 1)
        want_kr = {(j, model[j][0]) for j in model if lo_id <= j <= hi_id}
        run.call(
            "key_range",
            lambda: S.scan(spark, self.table, snapshot_id=snap, key_range=(lo_id, hi_id),
                           columns=["image_id", "caption"]).collect(),
            check=lambda rows: {(r.image_id, r.caption) for r in rows} == want_kr
            and len(rows) == len(want_kr),
            span="scan.scan",
        )
        p_lo = int(self.rng.integers(-(1 << 63), (1 << 63) - PHASH_SPAN))
        p_hi = p_lo + PHASH_SPAN
        want_pr = {j for j, (_, p) in model.items() if p_lo <= p <= p_hi}
        run.call(
            "phash_range",
            lambda: S.scan(spark, self.table, snapshot_id=snap, phash_range=(p_lo, p_hi),
                           columns=["image_id", "phash"]).collect(),
            check=lambda rows: {r.image_id for r in rows} == want_pr and len(rows) == len(want_pr),
            span="scan.scan",
        )
        run.call(
            "old_snapshot",
            lambda: S.scan(spark, self.table, snapshot_id=self.base_snap,
                           columns=["image_id", "caption"]).collect(),
            check=self._is_base,
            span="scan.scan",
        )
        self.last_model = model

    def _is_base(self, rows) -> bool:
        return len(rows) == len(self.base_rows) and {
            r.image_id: r.caption for r in rows
        } == self.base_rows

    # -- end of run ------------------------------------------------------
    def finish(self) -> None:
        from nessie_spark.lakehouse.scan import scan

        run, spark = self.run, self.run.spark
        run.call("housekeeping", self._housekeeping, span="housekeeping")
        self.housekeeping_s = run.timed("housekeeping")[0]
        self.table = self.table.refresh()
        final = scan(spark, self.table, columns=["image_id", "caption"]).collect()
        want = {j: c for j, (c, _) in self.last_model.items()}
        run.check("mutate.final_scan",
                  len(final) == len(want) and {r.image_id: r.caption for r in final} == want)
        old = scan(spark, self.table, ref="base", columns=["image_id", "caption"]).collect()
        run.check("mutate.base_snapshot_after_gc", self._is_base(old))

    def _housekeeping(self) -> None:
        from nessie_spark.lakehouse import expire, manifest

        run, spark = self.run, self.run.spark
        with run.span("manifest.rewrite_manifests", top=False):
            manifest.rewrite_manifests(spark, self.table.refresh())
        with run.span("expire.expire_snapshots", top=False):
            rep = expire.expire_snapshots(spark, self.table.refresh(), retain_last=2)
        with run.span("expire.gc_orphans", top=False):
            orphans = expire.gc_orphans(spark, self.table.refresh())
        run.count("expire.files_deleted", len(rep.deleted_data_files) + len(orphans))

    def detail(self) -> dict:
        run = self.run
        lookups = run.timed("key_eq")
        ranges = run.timed("key_range") + run.timed("phash_range")
        n = len(run.timed("merge"))
        return {
            "merge_p50_s": statistics.median(run.timed("merge")),
            "lookup_p50_ms": 1000 * quantile(lookups, 0.5),
            "lookup_p90_ms": 1000 * quantile(lookups, 0.9),
            "lookup_samples": len(lookups),
            "range_scan_p50_ms": 1000 * quantile(ranges, 0.5),
            "housekeeping_s": self.housekeeping_s,
            "merge_write_amp": sum(self.merge_bytes_added) / sum(self.batch_bytes[1:n + 1]),
            "merges": n,
        }
