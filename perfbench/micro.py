"""Single-threaded timing of the executor-side pixel codec and file writer.

These functions run inside Spark tasks, where a driver-side wrapper cannot
see them. The traced ``lakehouse`` run times them here, in the driver process
with one BLAS thread, on a seeded sample of that run's own images, so a
codec change shows up as a per-image cost next to the end-to-end rate.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa

SAMPLE = 96
REPEATS = 3


def _median_time(fn, repeats: int = REPEATS) -> float:
    """Median wall time of ``repeats`` calls of ``fn``."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def codec_and_writer(images: pa.Table, seed: int, work: str) -> dict[str, float]:
    from nessie_spark.lakehouse import jpegvec
    from nessie_spark.lakehouse import kernels as K
    from nessie_spark.lakehouse.writer import write_table_file

    rng = np.random.default_rng(seed)
    fmts = np.array(images.column("fmt").to_pylist())
    out: dict[str, float] = {}
    picks = {}
    for fmt in ("jpeg", "png"):
        idx = np.flatnonzero(fmts == fmt)
        picks[fmt] = np.sort(rng.choice(idx, min(SAMPLE, len(idx)), replace=False))
        datas = [images.column("bytes")[int(i)].as_py() for i in picks[fmt]]
        sec = _median_time(lambda: K.reencode_verify(datas, [fmt] * len(datas)))
        out[f"kernels.reencode_verify.{fmt}_ms_per_img"] = 1000 * sec / len(datas)

    jpegs = [images.column("bytes")[int(i)].as_py() for i in picks["jpeg"]]
    sec = _median_time(lambda: jpegvec.decode_batch(list(jpegs)))
    out["jpegvec.decode_batch.ms_per_img"] = 1000 * sec / len(jpegs)
    pxs = jpegvec.decode_batch(list(jpegs))
    sec = _median_time(lambda: jpegvec.encode_batch(
        pxs, K.JPEG_QUALITY, restart_mcu=K.JPEG_RESTART_MCU, want_recon=True))
    out["jpegvec.encode_batch.ms_per_img"] = 1000 * sec / len(pxs)

    tbl = images.take(pa.array(np.concatenate([picks["jpeg"], picks["png"]])))
    path = os.path.join(work, "micro", "write.parquet")
    size = write_table_file(tbl, path)
    sec = _median_time(lambda: write_table_file(tbl, path))
    out["writer.write_table_file.mb_per_s"] = size / 2**20 / sec
    os.remove(path)
    return out
