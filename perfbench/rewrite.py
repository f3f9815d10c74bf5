"""Compaction then Z-order clustering, both re-encoding pixels.

Input: an image+caption table of ``N_IMAGES`` synthetic images, 32-128 px,
80% PNG and 20% JPEG, 5% hot phashes, written as small files with
log-normal row counts (mean ``MEAN_ROWS`` rows). The pristine table is built
once; every cycle rewrites a fresh hard-link copy of it (data files are
immutable, so the copy shares their bytes) with
``compact.compact(reencode=True)`` then ``zorder.cluster(reencode=True)``.
Pixel work (decode, re-encode, PSNR verify) and the parquet writer dominate.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from harness import Run

N_IMAGES = 768
MEAN_ROWS = 16
WH = (32, 128)
# Output files per CPU. The target file size is derived from the table's
# bytes so that both jobs write FILES_PER_CPU x width files whatever the
# seed: with a few dozen tasks, a task count that is not a multiple of the
# width leaves cores idle in the last wave and moves the time by up to a
# third from seed to seed.
FILES_PER_CPU = 2
SLICES = 3
SAMPLE_LOSSY = 32
SAMPLE_LOSSLESS = 16


def images_slice(spark, seed: int, lo: int, hi: int):
    """Synthetic images with ids ``lo..hi-1``, generated from ``seed``."""
    from pyspark.sql import functions as F

    from nessie_spark import synth

    return synth.images_df(spark, hi - lo, seed=seed, wh=WH).withColumn(
        "image_id",
        F.format_string("img_%012d", F.substring("image_id", 5, 12).cast("long") + lo),
    )


def build_table(spark, root: str, n: int, seed: int, slices: int) -> list:
    """Create the small-file table at ``root``; return the ``slices``
    appends (callables) of ``n / slices`` images each, every slice generated
    with its own derived seed."""
    from nessie_spark import synth
    from nessie_spark.lakehouse import jobs

    table = jobs.create_images_table(root)

    def part(k: int):
        lo, hi = n * k // slices, n * (k + 1) // slices
        sub_seed = seed * 1000 + k

        def go():
            bounds = [b + lo for b in synth.lognormal_file_boundaries(
                hi - lo, seed=sub_seed, mean_rows=MEAN_ROWS)]
            jobs.append(spark, table, images_slice(spark, sub_seed, lo, hi),
                        job_id=f"ingest-{k}", file_boundaries=bounds)

        return go

    return [part(k) for k in range(slices)]


def target_bytes(table_bytes: int, width: int) -> int:
    return -(-table_bytes // (FILES_PER_CPU * width))


def live_entries(root: str) -> list[dict]:
    from nessie_spark.lakehouse.table import Table

    return Table.load(root).file_entries(
        columns=["file_path", "file_size_bytes", "record_count"]
    ).to_pylist()


def read_live(root: str, columns: list[str]) -> pa.Table:
    ents = live_entries(root)
    return pa.concat_tables(
        [pq.read_table(os.path.join(root, e["file_path"]), columns=columns) for e in ents]
    )


def rewrite_once(spark, root: str, target: int, run: Run | None = None) -> None:
    """One maintenance job: compact, then cluster the compacted table. With
    ``run``, both calls are timed and their file counts recorded."""
    from nessie_spark.lakehouse import compact, zorder
    from nessie_spark.lakehouse.table import Table

    def call(kind, fn):
        return fn() if run is None else run.call(kind, fn)

    before = {e["file_path"] for e in live_entries(root)}
    c = call("compact", lambda: compact.compact(
        spark, Table.load(root), target_bytes=target, job_id="bench-compact", reencode=True))
    mid = live_entries(root)
    z = call("zorder", lambda: zorder.cluster(
        spark, Table.load(root), target_bytes=target, job_id="bench-zorder", reencode=True))
    if run is None:
        return
    after = live_entries(root)
    mid_paths = {e["file_path"] for e in mid}
    run.count("compact.bytes_out", sum(e["file_size_bytes"] for e in mid if e["file_path"] not in before))
    run.count("zorder.bytes_out", sum(e["file_size_bytes"] for e in after if e["file_path"] not in mid_paths))
    if c is not None:
        run.count("compact.files_in", c.input_files)
        run.count("compact.files_out", c.output_files)
    if z is not None:
        run.count("zorder.files_in", z.input_files)
        run.count("zorder.files_out", z.output_files)


class Rewrite:
    """The rewrite half of a ``lakehouse`` cycle."""

    def __init__(self, run: Run, pristine: str):
        self.run = run
        self.pristine = pristine

    def setup(self) -> None:
        total = sum(e["file_size_bytes"] for e in live_entries(self.pristine))
        self.target = target_bytes(total, self.run.width)
        self._reference()

    def _reference(self) -> None:
        """Untimed: the pristine rows the checks compare against."""
        tbl = read_live(self.pristine, ["image_id", "caption", "fmt", "bytes"])
        self.captions = dict(zip(tbl.column("image_id").to_pylist(),
                                 tbl.column("caption").to_pylist()))
        self.bytes_before = sum(e["file_size_bytes"] for e in live_entries(self.pristine))
        rng = np.random.default_rng(self.run.seed)
        fmts = np.array(tbl.column("fmt").to_pylist())
        ids = np.array(tbl.column("image_id").to_pylist())
        pick = []
        for fmt, k in (("jpeg", SAMPLE_LOSSY), ("png", SAMPLE_LOSSLESS)):
            idx = np.flatnonzero(fmts == fmt)
            pick.extend(rng.choice(idx, min(k, len(idx)), replace=False).tolist())
        self.sample = {
            str(ids[i]): (str(fmts[i]), tbl.column("bytes")[int(i)].as_py()) for i in pick
        }
        self.images = tbl  # the micro-benchmark re-times the codec on these

    def _copy(self, name: str) -> str:
        root = os.path.join(self.run.work, name, "images")
        shutil.copytree(os.path.dirname(self.pristine), os.path.dirname(root),
                        copy_function=os.link)
        return root

    def warmup(self) -> None:
        root = self._copy("warmup")
        rewrite_once(self.run.spark, root, self.target)
        shutil.rmtree(os.path.dirname(root))

    def cycle(self, i: int) -> None:
        root = self._copy(f"cycle{i}")
        rewrite_once(self.run.spark, root, self.target, self.run)
        self.run.check("rewrite.rows", self._check(root))
        self.bytes_after = sum(e["file_size_bytes"] for e in live_entries(root))
        shutil.rmtree(os.path.dirname(root))

    def _check(self, root: str) -> bool:
        """image_id set and caption bytes unchanged, row count preserved,
        decoded pixels within 40 dB (lossy) or exact (lossless) on a seeded
        sample."""
        from nessie_spark.lakehouse import kernels as K

        tbl = read_live(root, ["image_id", "caption"])
        ids = tbl.column("image_id").to_pylist()
        if len(ids) != len(self.captions) or dict(zip(ids, tbl.column("caption").to_pylist())) != self.captions:
            return False
        got = _rows_for(root, list(self.sample))
        self.min_psnr = 99.0
        for iid, (fmt, before) in self.sample.items():
            if iid not in got:
                return False
            a = K.decode(before, fmt)
            b = K.decode(got[iid], fmt)
            if a.shape != b.shape:
                return False
            if fmt == "png":
                if not np.array_equal(a, b):
                    return False
            else:
                self.min_psnr = min(self.min_psnr, K.psnr(a, b))
        return self.min_psnr >= 40.0

    def detail(self) -> dict:
        import statistics

        per_cycle = [c + z for c, z in zip(self.run.timed("compact"), self.run.timed("zorder"))]
        return {
            "rewrite_images_per_s": N_IMAGES / statistics.median(per_cycle),
            "rewrite_bytes_ratio": self.bytes_after / self.bytes_before,
            "rewrite_min_psnr_db": getattr(self, "min_psnr", None),
            "images": N_IMAGES,
        }


def _rows_for(root: str, ids: list[str]) -> dict[str, bytes]:
    wanted = pa.array(ids)
    out: dict[str, bytes] = {}
    for e in live_entries(root):
        t = pq.read_table(os.path.join(root, e["file_path"]), columns=["image_id", "bytes"])
        t = t.filter(pc.is_in(t.column("image_id"), value_set=wanted))
        out.update(zip(t.column("image_id").to_pylist(), t.column("bytes").to_pylist()))
    return out
