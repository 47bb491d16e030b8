"""Per-layer metrics of a traced run, computed from the spans and the
Spark event log. Times of repeated spans are per call, Spark task
totals are per step of the timed phase; a metric of a layer that a
workload does not exercise reads 0."""

from __future__ import annotations

from spans import Attribution

from wl_curate import SUITE

WORKLOAD = [
    ("ops_failed_ratio", "ratio", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("ingest_events_per_s", "1/s", "higher"),
    ("ingest_commit_p50_s", "s", "lower"),
    ("ingest_commit_tail_s", "s", "lower"),
    ("rw_read_p50_s", "s", "lower"),
    ("rw_read_tail_s", "s", "lower"),
    ("curate_wall_s", "s", "lower"),
]

LAYERS = [
    ("session.get_spark_s", "s", "lower"),
    ("streaming.ingest.add_batch_s", "s", "lower"),
    ("streaming.ingest.query_planning_s", "s", "lower"),
    ("streaming.ingest.wal_commit_s", "s", "lower"),
    ("streaming.ingest.latest_offset_s", "s", "lower"),
    ("streaming.ingest.input_rows", "count", "higher"),
    ("streaming.ingest.rows_after_reduce", "count", "lower"),
    ("embed.rows_embedded", "count", "lower"),
    ("embed.useful_ratio", "ratio", "higher"),
    ("collection.upsert.self_s", "s", "lower"),
    ("collection.upsert.jobs", "count", "lower"),
    ("collection.delete_keys_df.self_s", "s", "lower"),
    ("collection.delete_keys_df.jobs", "count", "lower"),
    ("operators.lease.acquires", "count", "lower"),
    ("operators.lease.acquire_s", "s", "lower"),
    ("operators.lease.release_s", "s", "lower"),
    ("collection.maybe_compact.self_s", "s", "lower"),
    ("collection.compact.count", "count", "lower"),
    ("collection.compact.self_s", "s", "lower"),
    ("collection.compact.rows_rewritten", "count", "lower"),
    ("collection.bytes_written_per_user_byte", "ratio", "lower"),
    ("collection.log_rows_per_live_row", "ratio", "lower"),
    ("collection.search.build_s", "s", "lower"),
    ("collection.search.collect_s", "s", "lower"),
    ("collection.query.self_s", "s", "lower"),
    ("operators.filter_expr.translate_s", "s", "lower"),
    ("operators.knn.rows_scanned", "count", "lower"),
    ("operators.knn.rows_per_s", "1/s", "higher"),
    ("operators.ivf.build_s", "s", "lower"),
    ("operators.ivf.search_batch_s", "s", "lower"),
    ("operators.ivf.recall_at5", "ratio", "higher"),
    ("operators.merge.merge_into_s", "s", "lower"),
    ("operators.merge.commit_optimistic_s", "s", "lower"),
    ("operators.dedup.jaccard_pairs_s", "s", "lower"),
    ("operators.dedup.minhash_lsh_candidates_s", "s", "lower"),
    ("operators.dedup.dedup_components_s", "s", "lower"),
]
for _q in SUITE:
    LAYERS += [(f"queries.{_q}.build_s", "s", "lower"),
               (f"queries.{_q}.exec_s", "s", "lower"),
               (f"queries.{_q}.jobs", "count", "lower")]

SPARK = [
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.executor_run_s", "s", "lower"),
    ("spark.executor_cpu_s", "s", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("spark.scheduler_delay_s", "s", "lower"),
    ("spark.deserialize_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "B", "lower"),
    ("spark.shuffle_read_bytes", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.input_bytes", "B", "lower"),
    ("spark.output_bytes", "B", "lower"),
    ("spark.driver_s", "s", "lower"),
    ("trace.unattributed_jobs", "count", "lower"),
]

PER_LAYER = WORKLOAD + LAYERS + SPARK


def _find(attr: Attribution, name: str) -> int | None:
    for s in attr.spans:
        if s["name"] == name:
            return s["id"]
    return None


def compute(attr: Attribution, res: dict, get_spark_s: float) -> dict[str, float]:
    timed = _find(attr, "timed")
    steps = max(1, attr.aggregate("step", timed)["count"]) if timed is not None else 1
    out = {name: 0.0 for name, _, _ in PER_LAYER}
    out["session.get_spark_s"] = get_spark_s
    out["ops_failed_ratio"] = res["failed"] / max(1, res["attempted"])
    for name, _, _ in WORKLOAD:
        if name in res["detail"]:
            out[name] = float(res["detail"][name])

    def per_call(span: str, field: str = "wall_s", scope: int | None = timed) -> float:
        a = attr.aggregate(span, scope)
        return a[field] / a["count"] if a["count"] else 0.0

    out["collection.upsert.self_s"] = per_call("collection.upsert", "self_s")
    out["collection.upsert.jobs"] = per_call("collection.upsert", "jobs")
    out["collection.delete_keys_df.self_s"] = per_call("collection.delete_keys_df", "self_s")
    out["collection.delete_keys_df.jobs"] = per_call("collection.delete_keys_df", "jobs")
    out["operators.lease.acquires"] = attr.aggregate("operators.lease.acquire", timed)["count"] / steps
    out["operators.lease.acquire_s"] = per_call("operators.lease.acquire")
    out["operators.lease.release_s"] = per_call("operators.lease.release")
    out["collection.maybe_compact.self_s"] = per_call("collection.maybe_compact", "self_s")
    compact = attr.aggregate("collection.compact", timed)
    out["collection.compact.count"] = compact["count"]
    out["collection.compact.self_s"] = compact["self_s"] / compact["count"] if compact["count"] else 0.0
    out["collection.compact.rows_rewritten"] = compact["output_rows"]
    out["collection.search.build_s"] = per_call("collection.search")
    out["collection.search.collect_s"] = per_call("collection.search.collect")
    out["collection.query.self_s"] = per_call("collection.query", "self_s")
    out["operators.filter_expr.translate_s"] = per_call("operators.filter_expr.translate")
    knn = attr.aggregate("collection.search.collect", timed)
    if knn["count"]:
        out["operators.knn.rows_scanned"] = knn["scan_rows"] / knn["count"]
        out["operators.knn.rows_per_s"] = knn["scan_rows"] / max(knn["wall_s"], 1e-9)
    extra = res.get("layer_extra", {})
    t = attr.aggregate("timed", None) if timed is not None else None
    if t and extra.get("upserted_keys"):
        out["embed.rows_embedded"] = t["python_rows"] / steps
        out["embed.useful_ratio"] = extra["upserted_keys"] / max(1.0, t["python_rows"])
        out["collection.bytes_written_per_user_byte"] = t["output_bytes"] / max(1, extra["user_bytes"])
        # the full-log reads; a point lookup's scan is pruned by its filter
        reads = [attr.aggregate(n, timed) for n in ("read.exact", "read.filtered")]
        n_reads = sum(a["count"] for a in reads)
        if n_reads:
            out["collection.log_rows_per_live_row"] = sum(a["scan_rows"] for a in reads) / (
                n_reads * max(1, extra["live_rows"]))
    out["operators.ivf.build_s"] = per_call("operators.ivf.build_ivf")
    out["operators.ivf.search_batch_s"] = per_call("operators.ivf.search_batch")
    for span in ("operators.merge.merge_into", "operators.merge.commit_optimistic",
                 "operators.dedup.jaccard_pairs", "operators.dedup.minhash_lsh_candidates",
                 "operators.dedup.dedup_components"):
        out[f"{span}_s"] = per_call(span)
    for q in SUITE:
        out[f"queries.{q}.build_s"] = per_call(f"queries.{q}.build")
        out[f"queries.{q}.exec_s"] = per_call(f"queries.{q}.exec")
        out[f"queries.{q}.jobs"] = (attr.aggregate(f"queries.{q}.build", timed)["jobs"]
                                    + attr.aggregate(f"queries.{q}.exec", timed)["jobs"]) / max(
            1, attr.aggregate(f"queries.{q}.exec", timed)["count"])
    if t:
        for name, _, _ in SPARK[:-1]:
            out[name] = t[name.split(".", 1)[1]] / steps
    out["trace.unattributed_jobs"] = attr.unattributed
    for k, v in extra.items():
        if k in out:
            out[k] = float(v)
    return out
