"""Per-layer metrics of a traced run.

Times are self times (a span minus its child spans) from the traced cycles,
averaged per cycle, except ``scan.*.ms`` which are per scan call. Counts are
averaged over the run's cycles. Every workload reports every metric; a layer
the workload does not run reports 0. Which end-to-end figure each layer
should move is listed in ``perfbench/README.md``.
"""

from __future__ import annotations

import statistics

from queries import QUERIES

PER_LAYER: list[tuple[str, str, str]] = [
    # rewrite: driver-side planning and commit around the pixel work
    ("compact.s", "s", "lower"),
    ("zorder.s", "s", "lower"),
    ("plans.ffd.ffd_pack.ms", "ms", "lower"),
    ("zorder.equi_depth_bounds.ms", "ms", "lower"),
    ("lineage.read_phase.ms", "ms", "lower"),
    ("compact.files_in", "count", "higher"),
    ("compact.files_out", "count", "lower"),
    ("zorder.files_in", "count", "lower"),
    ("zorder.files_out", "count", "lower"),
    ("compact.bytes_out", "bytes", "lower"),
    ("zorder.bytes_out", "bytes", "lower"),
    # executor-side codec and writer, single-threaded on the run's images
    ("kernels.reencode_verify.jpeg_ms_per_img", "ms/img", "lower"),
    ("kernels.reencode_verify.png_ms_per_img", "ms/img", "lower"),
    ("jpegvec.decode_batch.ms_per_img", "ms/img", "lower"),
    ("jpegvec.encode_batch.ms_per_img", "ms/img", "lower"),
    ("writer.write_table_file.mb_per_s", "MB/s", "higher"),
    # table metadata
    ("table.commit.ms", "ms", "lower"),
    ("table.write_manifest.ms", "ms", "lower"),
    ("table.manifests", "count", "lower"),
    # merge and scan
    ("merge.merge_into.s", "s", "lower"),
    ("merge.files_rewritten", "count", "lower"),
    ("merge.rows_rewritten_per_row_changed", "ratio", "lower"),
    ("scan.scan.ms", "ms", "lower"),
    ("scan.plan_files.ms", "ms", "lower"),
    ("scan.files_read_frac", "fraction", "lower"),
    # housekeeping
    ("manifest.rewrite_manifests.s", "s", "lower"),
    ("expire.expire_snapshots.s", "s", "lower"),
    ("expire.gc_orphans.s", "s", "lower"),
    ("expire.files_deleted", "count", "higher"),
    # operators
    *[
        item
        for q in QUERIES
        for item in (
            (f"operators.{q}.s", "s", "lower"),
            (f"operators.{q}.build_s", "s", "lower"),
            (f"operators.{q}.exchanges", "count", "lower"),
        )
    ],
    # Spark work per traced cycle, from the status tracker by job group
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    # set-up
    ("session.get_spark.s", "s", "lower"),
    ("synth.images_df.s", "s", "lower"),
    ("sfgen.generate.s", "s", "lower"),
    # traced minus untraced time of a cycle's calls, over untraced
    ("trace.overhead_pct", "%", "lower"),
]

_PER_CYCLE_S = {
    "compact.s": "compact",
    "zorder.s": "zorder",
    "merge.merge_into.s": "merge.merge_into",
}
_PER_CYCLE_MS = {
    "plans.ffd.ffd_pack.ms": "plans.ffd.ffd_pack",
    "zorder.equi_depth_bounds.ms": "zorder.equi_depth_bounds",
    "lineage.read_phase.ms": "lineage.read_phase",
    "table.commit.ms": "table.commit",
    "table.write_manifest.ms": "table.write_manifest",
}
_COUNTS = [
    "compact.files_in", "compact.files_out", "zorder.files_in", "zorder.files_out",
    "compact.bytes_out", "zorder.bytes_out", "table.manifests",
    "merge.files_rewritten", "merge.rows_rewritten_per_row_changed",
    "expire.files_deleted",
]
_HOUSEKEEPING = ["manifest.rewrite_manifests", "expire.expire_snapshots", "expire.gc_orphans"]
_SETUP = ["session.get_spark", "synth.images_df", "sfgen.generate"]


def per_layer(run, workload, micro: dict, cycle_sums: list[float]) -> dict[str, tuple[float, str]]:
    tracer = run.tracer
    traced = {i for i, on in enumerate(run.traced_cycles) if on}
    untraced = [i for i, on in enumerate(run.traced_cycles) if not on]
    if len(untraced) > 1:
        untraced = untraced[1:]  # the first cycle may still be cold
    n = max(1, len(traced))
    own = tracer.self_times(traced)
    v: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}

    for key, span in _PER_CYCLE_S.items():
        v[key] = own.get(span, 0.0) / n
    for key, span in _PER_CYCLE_MS.items():
        v[key] = 1000 * own.get(span, 0.0) / n

    scans = [s for s in tracer.spans if s["cycle"] in traced and s["name"] == "scan.scan"]
    plans = [s for s in tracer.spans if s["cycle"] in traced and s["name"] == "scan.plan_files"
             and _root(tracer, s)["name"] == "scan.scan"]
    if scans:
        v["scan.scan.ms"] = 1000 * own.get("scan.scan", 0.0) / len(scans)
    if plans:
        plan_self = sum(s["end"] - s["start"] for s in plans)
        v["scan.plan_files.ms"] = 1000 * plan_self / len(plans)
        live = getattr(workload, "live_files_by_cycle", {})
        fracs = [s["attrs"]["files_planned"] / live[s["cycle"]] for s in plans if live.get(s["cycle"])]
        if fracs:
            v["scan.files_read_frac"] = statistics.mean(fracs)

    for key in _COUNTS:
        if run.counts.get(key):
            v[key] = statistics.mean(run.counts[key])

    end = tracer.self_times({-2})
    for span in _HOUSEKEEPING:
        v[f"{span}.s"] = end.get(span, 0.0)

    for q in QUERIES:
        secs = [c.seconds for c in run.calls if c.kind == q and c.cycle in traced]
        if secs:
            v[f"operators.{q}.s"] = statistics.median(secs)
            builds = [b for c, b in workload.build_s[q].items() if c in traced]
            v[f"operators.{q}.build_s"] = statistics.median(builds)
            v[f"operators.{q}.exchanges"] = workload.exchanges.get(q, 0)

    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        v[f"spark.{key}"] = tracer.top_attr_sum(key, traced) / n

    for name in _SETUP:
        v[f"{name}.s"] = run.setup_parts.get(name, 0.0)

    v.update(micro)

    if traced and untraced:
        t = statistics.median(cycle_sums[i] for i in traced)
        u = statistics.median(cycle_sums[i] for i in untraced)
        v["trace.overhead_pct"] = 100 * (t - u) / u

    units = {name: unit for name, unit, _ in PER_LAYER}
    return {k: (v[k], units[k]) for k in v}


def _root(tracer, span: dict) -> dict:
    while span["parent"] is not None:
        span = tracer.spans[span["parent"]]
    return span
