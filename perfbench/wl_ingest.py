"""ingest_rw: S3 notifications streamed into a collection, with reads.

Set-up bulk-loads the initial objects (384-d ``embed.text_embed_udf``,
hermetic stub) into a ``VectorCollection`` and starts
``streaming.ingest.ingest_stream`` on a text file stream parsed by
``parse_s3_events``, one file per trigger, with ``object_text`` set to
the generator's key → text table and auto-compaction on. Each
closed-loop step writes one notification file, waits on
``processAllAvailable()``, then runs four reads against a second,
unloaded handle on the collection: two exact top-10 searches near a
just-upserted vector, one search filtered on ``tags["color"] == "red"``
and one ``query(filter='key == "…"')`` point lookup.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np

import checks
import gen
from common import median, tail

N_INITIAL, N_NEW, RECORDS, DIM, K, SETUPS = 2000, 500, 100, 384, 10, 3
# A file adds ~90 log rows (distinct keys) against ~N_INITIAL live rows,
# so with this ratio the log outgrows it on every second batch: batches
# 2, 4, 6, ... compact. Two untimed cycles: in the first steps of a fresh
# JVM the JIT compiler threads burn ~10 CPU-seconds per commit, and with
# one warm-up cycle they were still busy in the timed steps, which then
# varied by up to 30% from run to run. Whole timed cycles then give every run
# the same share of compacting commits.
COMPACT_EVERY = 2
COMPACT_RATIO = 1.0 + (COMPACT_EVERY - 0.5) * 90 / N_INITIAL
WARMUP_STEPS = 2 * COMPACT_EVERY


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        out.append(p if isinstance(p, dict) else json.loads(p.json))
    return out


def _setup(ctx, texts_path: str, initial_path: str, i: int):
    from pyspark.sql import functions as F

    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.embed import text_embed_udf
    from python_vectordbapp_ceph_spark.streaming.ingest import ingest_stream, parse_s3_events

    spark = ctx.spark
    paths = {k: ctx.run.sub("work", f"ingest_{k}_{i}") for k in ("coll", "ckpt", "in")}
    os.makedirs(paths["in"])
    t0 = time.perf_counter()
    coll = VectorCollection(spark, paths["coll"], DIM)
    init = spark.read.parquet(initial_path)
    coll.upsert(init.select("key", "url", text_embed_udf(F.col("text")).alias("embedding"), "tags"))
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(paths["in"])
    query = ingest_stream(parse_s3_events(raw), coll, endpoint=gen.EventGenerator.ENDPOINT,
                          checkpoint_dir=paths["ckpt"], object_text=spark.read.parquet(texts_path),
                          compact_log_ratio=COMPACT_RATIO, available_now=False)
    query.processAllAvailable()
    return coll, query, paths, time.perf_counter() - t0


def run(ctx) -> dict:
    from python_vectordbapp_ceph_spark.collection import VectorCollection
    from python_vectordbapp_ceph_spark.embed import stub_text_embedding

    t_begin = time.perf_counter()
    rng = np.random.default_rng(ctx.seed)
    g = gen.EventGenerator(rng, N_INITIAL, N_NEW)
    vecs = np.array([stub_text_embedding(t) for t in g.texts], dtype=np.float32)
    index = {k: i for i, k in enumerate(g.keys)}
    texts_path = ctx.run.sub("work", "texts.parquet")
    initial_path = ctx.run.sub("work", "initial.parquet")
    g.write_texts(texts_path)
    g.write_initial(initial_path)
    staging = ctx.run.sub("work", "staging")
    os.makedirs(staging)

    setups, query = [], None
    with ctx.tracer.span("setup"):
        for i in range(SETUPS):
            if query is not None:
                query.stop()
            coll, query, paths, secs = _setup(ctx, texts_path, initial_path, i)
            setups.append(secs)
    reader = VectorCollection(ctx.spark, paths["coll"], DIM)

    commit, reads, steps, progress = [], [], [], []
    records = user_bytes = upserted = after_reduce = 0
    attempted = failed = 0

    def live_topk(qv, color: str | None):
        keys = [k for k in g.live_list if color is None or g.live[k][1]["color"] == color]
        base = vecs[[index[k] for k in keys]]
        return keys, checks.l2(base, qv)

    def one_step(step: int) -> None:
        nonlocal records, user_bytes, upserted, after_reduce, attempted, failed
        ctx.tracer.step = step
        with ctx.tracer.span("step"):
            body, put_keys, touched = g.batch(RECORDS)
            name = f"events-{step:05d}.json"
            with open(os.path.join(staging, name), "w") as f:
                f.write(body)
            attempted += 1
            n_reads = len(reads)
            with ctx.tracer.span("ingest.commit"):
                t0 = time.perf_counter()
                os.rename(os.path.join(staging, name), os.path.join(paths["in"], name))
                query.processAllAvailable()
                commit.append(time.perf_counter() - t0)
            records += RECORDS
            user_bytes += len(body)
            after_reduce += len(touched)
            upserted += len(put_keys)

            ops = [("exact", put_keys[int(rng.integers(len(put_keys)))]),
                   ("exact", put_keys[int(rng.integers(len(put_keys)))]),
                   ("filtered", g.live_list[int(rng.integers(len(g.live_list)))])]
            for kind, key in ops:
                qv = gen.perturbed(rng, vecs[index[key]], scale=0.01)
                attempted += 1
                try:
                    with ctx.tracer.span(f"read.{kind}"):
                        t0 = time.perf_counter()
                        df = reader.search(qv, k=K, filter='tags["color"] == "red"'
                                           if kind == "filtered" else "")
                        with ctx.tracer.span("collection.search.collect"):
                            rows = df.collect()
                        reads.append(time.perf_counter() - t0)
                except Exception:  # noqa: BLE001 - a failed read is counted, not fatal
                    failed += 1
                    continue
                keys, dist = live_topk(qv, "red" if kind == "filtered" else None)
                if not checks.topk_ok([(r["key"], r["distance"]) for r in rows], keys, dist, K):
                    failed += 1
            dead = [k for k in touched if k not in g.live]
            key = dead[0] if step % 2 == 0 and dead else g.live_list[int(rng.integers(len(g.live_list)))]
            attempted += 1
            try:
                with ctx.tracer.span("read.point"):
                    t0 = time.perf_counter()
                    rows = reader.query(filter=f'key == "{key}"').collect()
                    reads.append(time.perf_counter() - t0)
                want = g.live.get(key)
                ok = (not rows) if want is None else (
                    len(rows) == 1 and rows[0]["url"] == want[0] and rows[0]["tags"] == want[1])
                failed += not ok
            except Exception:  # noqa: BLE001
                failed += 1
            steps.append(commit[-1] + sum(reads[n_reads:]))

    # the first micro-batches, the first compaction and the first reads
    # run cold code paths
    with ctx.tracer.span("warmup"):
        for step in range(1, WARMUP_STEPS + 1):
            one_step(step)
    del commit[:], reads[:], steps[:]
    records = user_bytes = upserted = after_reduce = 0
    # an idle trigger reports the id of the next batch, so only batches
    # that read rows identify work already done
    seen_batches = {p["batchId"] for p in _progress(query) if p["numInputRows"] > 0}
    step = WARMUP_STEPS
    with ctx.tracer.span("timed"):
        t_start = time.perf_counter()
        before_timed = t_start - t_begin
        # whole cycles, as many as are expected to end within --seconds
        cycles = 0
        while cycles == 0 or (time.perf_counter() - t_start) * (cycles + 1) / cycles <= ctx.seconds:
            cycles += 1
            for _ in range(COMPACT_EVERY):
                step += 1
                one_step(step)
        wall = time.perf_counter() - t_start

    for p in _progress(query):
        if p["batchId"] not in seen_batches and p["numInputRows"] > 0:
            seen_batches.add(p["batchId"])
            progress.append(p)
    query.stop()

    # the whole collection against the last-writer-wins replay
    attempted += 1
    with ctx.tracer.span("verify"):
        got = {r["key"]: (r["url"], r["tags"]) for r in
               reader.snapshot().select("key", "url", "tags").collect()}
    failed += got != g.live

    def dur(field: str) -> float:
        return median([p["durationMs"].get(field, 0) / 1e3 for p in progress])

    c_tail, c_p = tail(commit)
    r_tail, r_p = tail(reads)
    return {
        "attempted": attempted, "failed": failed,
        # a step is what one client waits for: its commit, then its reads
        "e2e": {"setup_s": median(setups), "op_p50_s": median(steps)},
        "detail": {
            "throughput_per_s": records / wall,
            "ingest_events_per_s": records / wall,
            "ingest_commit_p50_s": median(commit),
            "ingest_commit_tail_s": c_tail, "ingest_commit_tail_percentile": c_p,
            "ingest_commit_samples": len(commit), "commit_s": commit,
            "rw_read_p50_s": median(reads),
            "rw_read_tail_s": r_tail, "rw_read_tail_percentile": r_p,
            "rw_read_samples": len(reads), "step_s": steps,
            "setup_runs_s": setups, "live_rows": len(g.live),
            "phase_s": {"before_timed": before_timed, "timed": wall},
        },
        "layer_extra": {
            "streaming.ingest.add_batch_s": dur("addBatch"),
            "streaming.ingest.query_planning_s": dur("queryPlanning"),
            "streaming.ingest.wal_commit_s": dur("walCommit"),
            "streaming.ingest.latest_offset_s": dur("latestOffset"),
            "streaming.ingest.input_rows": median([p["numInputRows"] for p in progress]),
            "streaming.ingest.rows_after_reduce": after_reduce / max(1, len(commit)),
            "upserted_keys": upserted, "user_bytes": user_bytes, "live_rows": len(g.live),
        },
    }
