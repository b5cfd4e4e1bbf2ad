"""Per-layer metrics of a traced run: which wrappers go where, and how
spans, counters and the folded Spark event log become the ``per_layer``
metrics of BENCHMARK.json. Layers are the program's modules."""

from __future__ import annotations

import os
import statistics

from spans import Tracer, fold_event_logs, tree_stats


SLO_MS = 40.0  # the reference's REST latency target


def _median(values) -> float:
    return statistics.median(values) if values else 0.0


def _pct(values, q: float) -> float:
    """Nearest-rank percentile."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def install(bench) -> None:
    """Wrap the public functions the workloads reach, at the module
    attributes their callers look them up from."""
    from pyspark import SparkContext

    from feature_store_spark.pipelines import drivers, txn
    from feature_store_spark.serving import store as serving
    from feature_store_spark.streaming import pipeline

    tr = Tracer()
    bench.tracer = tr
    tr.counters["invalidated"] = 0

    def tree_before(args, kwargs):
        root = kwargs.get("root", args[1] if len(args) > 1 else None)
        return root, tree_stats(root)

    def tree_after(state, rec, _result):
        root, (b0, f0) = state
        b1, f1 = tree_stats(root)
        rec["bytes"], rec["files"] = b1 - b0, f1 - f0

    tr.wrap(drivers, "run_daily_pipeline", "drivers.daily")
    for name in ("derive_user_features", "derive_transaction_features",
                 "derive_risk_features"):
        tr.wrap(drivers, name, "features.plan")
    tr.wrap(txn, "upsert_manifest", "txn.upsert", tree_before, tree_after)
    tr.wrap(txn, "upsert_manifest_partitioned", "txn.upsert_partitioned",
            tree_before, tree_after)
    tr.wrap(txn, "vacuum", "txn.vacuum")
    tr.wrap(drivers, "export_warehouse", "sinks.export_warehouse")
    tr.wrap(drivers, "run_table_maintenance", "txn.maintenance")
    tr.wrap(drivers, "run_quality_report", "drivers.quality")
    tr.wrap(pipeline, "run_streaming_upsert_manifest", "streaming.drain")
    tr.wrap(serving, "refresh_serving_from_changes", "serving.refresh")

    # the quality operators return lazy frames that run_quality_report
    # collects right after: tag and leave the job group set, so that collect
    # runs under the operator's own group
    def sticky(module, attr, group):
        original = getattr(module, attr)

        def tagged(*args, **kwargs):
            SparkContext._active_spark_context.setJobGroup(group, group)
            return original(*args, **kwargs)

        setattr(module, attr, tagged)
        tr._undo.append((module, attr, original))

    sticky(drivers, "freshness_report", "aggregates.freshness")
    sticky(drivers, "completeness_report", "aggregates.completeness")
    sticky(drivers, "stats_with_outliers", "aggregates.outliers")

    store = bench.store
    invalidate = store.invalidate

    def counting_invalidate(user_id):
        n = invalidate(user_id)
        tr.counters["invalidated"] += n
        return n

    store.invalidate = counting_invalidate


PER_LAYER_UNITS = {
    "session.start_s": "s",
    "features.plan_s": "s",
    "drivers.daily_self_s": "s",
    "txn.upsert_s": "s",
    "txn.upsert_calls": "count",
    "txn.upsert_partitioned_s": "s",
    "txn.bytes_written_per_commit": "bytes",
    "txn.files_written_per_commit": "count",
    "txn.maintenance_s": "s",
    "txn.vacuum_s": "s",
    "sinks.export_warehouse_s": "s",
    "aggregates.freshness_s": "s",
    "aggregates.completeness_s": "s",
    "aggregates.outliers_s": "s",
    "serving.hit_ratio": "ratio",
    "serving.absent_group_ratio": "ratio",
    "serving.lookup_p95_ms": "ms",
    "serving.lookup_samples": "count",
    "serving.within_40ms_ratio": "ratio",
    "serving.hit_us_p50": "us",
    "serving.miss_ms_p50": "ms",
    "serving.spark_jobs_per_lookup": "count",
    "serving.spark_jobs_per_batch": "count",
    "serving.preload_s": "s",
    "serving.cache_entries": "count",
    "serving.refresh_s": "s",
    "serving.invalidated_per_refresh": "count",
    "streaming.drain_s": "s",
    "streaming.batches": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.busy_ratio": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.task_skew": "ratio",
}


def per_layer(bench, traced_wall_s: float) -> dict:
    """Fold spans, counters and the event log; call after the last Spark
    session has stopped, so the event logs are complete."""
    tr = bench.tracer
    t = bench.s.times
    groups = fold_event_logs(os.path.join(bench.work, "eventlog"))
    # untagged jobs ran before the tracer was installed (warm-up, set-up)
    traced = {g: v for g, v in groups.items() if g != "-"}
    n_daily = len(tr.durations("drivers.daily"))
    n_quality = len(tr.durations("drivers.quality"))
    commits = [s for s in tr.spans if s["name"] in ("txn.upsert", "txn.upsert_partitioned")
               and "bytes" in s]
    points = t.get("point", [])
    refreshes = tr.durations("serving.refresh")
    stats = bench.store.stats()
    per_daily_plan = (sum(tr.durations("features.plan")) / n_daily) if n_daily else 0.0

    def jobs(group: str) -> int:
        return traced.get(group, {}).get("jobs", 0)

    def group_wall(group: str, n: int) -> float:
        return traced.get(group, {}).get("job_wall_s", 0.0) / n if n else 0.0

    def total(key: str) -> float:
        return sum(v[key] for v in traced.values())

    skews = [x for v in traced.values() for x in v["stage_skews"]]
    executor_s = total("executor_run_s")
    m = {
        "session.start_s": _median(t.get("session_start", [])),
        "features.plan_s": per_daily_plan,
        "drivers.daily_self_s": _median(tr.self_times("drivers.daily")),
        "txn.upsert_s": _median(tr.durations("txn.upsert")),
        "txn.upsert_calls": len(tr.durations("txn.upsert")),
        "txn.upsert_partitioned_s": _median(tr.durations("txn.upsert_partitioned")),
        "txn.bytes_written_per_commit": _median([s["bytes"] for s in commits]),
        "txn.files_written_per_commit": _median([s["files"] for s in commits]),
        "txn.maintenance_s": _median(tr.durations("txn.maintenance")),
        "txn.vacuum_s": _median(tr.durations("txn.vacuum")),
        "sinks.export_warehouse_s": _median(tr.durations("sinks.export_warehouse")),
        "aggregates.freshness_s": group_wall("aggregates.freshness", n_quality),
        "aggregates.completeness_s": group_wall("aggregates.completeness", n_quality),
        "aggregates.outliers_s": group_wall("aggregates.outliers", n_quality),
        # the Zipf requests' own cache_hit flags: store.stats() also counts
        # the warm-up and the ingest cycles' verification lookups
        "serving.hit_ratio": (bench.counters.get("zipf_hits", 0) / bench.counters["zipf_units"]
                              if bench.counters.get("zipf_units") else 0.0),
        "serving.absent_group_ratio": (bench.counters.get("absent", 0) / len(points)
                                       if points else 0.0),
        "serving.lookup_p95_ms": _pct(points, 0.95) * 1e3,
        "serving.lookup_samples": len(points),
        "serving.within_40ms_ratio": (sum(p * 1e3 < SLO_MS for p in points) / len(points)
                                      if points else 0.0),
        "serving.hit_us_p50": _median(t.get("point_hit", [])) * 1e6,
        "serving.miss_ms_p50": _median(t.get("point_miss", [])) * 1e3,
        "serving.spark_jobs_per_lookup": jobs("serving.point") / len(points) if points else 0.0,
        "serving.spark_jobs_per_batch": (jobs("serving.batch") / len(t["batch"])
                                         if t.get("batch") else 0.0),
        "serving.preload_s": _median(t.get("preload", [])),
        "serving.cache_entries": stats["cache_entries"],
        "serving.refresh_s": _median(refreshes),
        "serving.invalidated_per_refresh": (tr.counters["invalidated"] / len(refreshes)
                                            if refreshes else 0.0),
        "streaming.drain_s": _median(tr.durations("streaming.drain")),
        "streaming.batches": bench.counters.get("stream_batches", 0),
        "spark.jobs": total("jobs"),
        "spark.stages": total("stages"),
        "spark.tasks": total("tasks"),
        "spark.executor_run_s": executor_s,
        "spark.busy_ratio": executor_s / (traced_wall_s * bench.shape["cpus"]),
        "spark.shuffle_read_bytes": total("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.input_bytes": total("input_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.task_skew": max(skews) if skews else 0.0,
    }
    bench.counters["job_groups"] = {
        g: {k: v[k] for k in ("jobs", "stages", "tasks", "executor_run_s", "job_wall_s")}
        for g, v in sorted(traced.items())}
    return {k: (float(v), PER_LAYER_UNITS[k]) for k, v in m.items()}
