"""``lakehouse``: the table-maintenance workload.

One small-file image+caption table is built per run (``rewrite.py``). Each
cycle does two independent things a table owner does:

1. rewrite a fresh hard-link copy of that table with compaction then Z-order
   clustering, re-encoding every image (``rewrite.Rewrite``): the pixel
   codec and the parquet writer do most of the work;
2. merge one caption-edit batch into a long-lived copy and read the new
   snapshot back (``mutate.Mutate``): the table, merge and scan layers do
   the work and no pixel is decoded.

The run ends with housekeeping on the merged copy (manifest rewrite,
snapshot expiry, orphan GC). The two halves share the set-up cost of one
Spark session and one generated table; the traced run splits their time by
layer.
"""

from __future__ import annotations

import os

import harness
from harness import Run, repeated_build
from mutate import Mutate
from rewrite import N_IMAGES, SLICES, Rewrite, build_table


class Lakehouse:
    def __init__(self, run: Run):
        self.run = run
        pristine = os.path.join(run.work, "pristine", "images")
        self.pristine = pristine
        self.rewrite = Rewrite(run, pristine)
        self.mutate = Mutate(run, pristine)

    @property
    def images(self):
        return self.rewrite.images

    @property
    def live_files_by_cycle(self) -> dict[int, int]:
        return self.mutate.live_files_by_cycle

    def setup(self) -> None:
        run = self.run
        run.timed_setup("warmup.workers", harness.warm_workers, run.spark, run.width)
        parts = build_table(run.spark, self.pristine, N_IMAGES, run.seed, SLICES)
        repeated_build(run, "synth.images_df", parts)
        self.rewrite.setup()
        self.mutate.setup()
        # the first rewrite, merge and scans of a session run 1.2-3x slower
        # than later ones (JIT, first use of the codec in each worker): one
        # untimed cycle first
        run.timed_setup("warmup.cycle", self._warmup)

    def _warmup(self) -> None:
        self.rewrite.warmup()
        self.mutate.warmup()

    def cycle(self, i: int) -> None:
        self.rewrite.cycle(i)
        self.mutate.cycle(i)

    def finish(self) -> None:
        self.mutate.finish()

    def detail(self) -> dict:
        return {**self.rewrite.detail(), **self.mutate.detail()}
