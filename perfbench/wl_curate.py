"""curate: a fixed suite of LLM-data-curation and relational queries.

The tables are the repository's scale-factor-0.01 fixtures (TPC-H-ish
star schema plus documents and embeddings, generated with seed 42),
copied unchanged into ``data/sf0.01``; only the four the suite reads are
kept. The seed chooses the order of the members in each timed pass.

Set-up is loading those tables (file listing, schema, parquet footers),
timed seven times. An untimed verify pass runs every member once, which
also warms the JIT and the Python workers, and compares each result with
its DuckDB oracle (``queries.ORACLES``) by the canonical row/column
comparison of ``queries._compare.canon``; members without an oracle get
a schema and non-empty check. One untimed pass with the ``noop`` sink
follows, because the JIT is still compiling the members' code after the
verify pass. The timed phase then runs whole passes
over the suite in a seed-permuted order (at least two, and as many as
are expected to end within ``--seconds``), each member forced with the
``noop`` sink and followed by ``release_caches()``.
"""

from __future__ import annotations

import os
import time

import numpy as np

import checks
from common import median

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
TABLES = ("lineitem", "orders", "documents", "embeddings")

SUITE = ("q_tpch_q6", "q_merge_into", "q_graph_components", "q_dedup_near",
         "q_ivf_batch_search")
# members without an oracle: the columns they must produce
SCHEMAS = {
    "q_dedup_near": ["id_a", "id_b"],
    "q_ivf_batch_search": ["q_id", "vec_id", "cluster_id", "distance"],
}
# a set-up is ~0.6 s and the first one runs cold, so take the median of
# enough of them that the warm ones decide it
SETUPS = 7
MIN_PASSES = 2


def _ivf_recall(rows: list, sf_dir: str) -> float:
    """Recall of ``q_ivf_batch_search``'s per-query top-k (its queries are
    the first embeddings themselves) against numpy brute force."""
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
    ids, vecs = t["vec_id"], np.array(t["embedding"], dtype=np.float32)
    pos = {v: i for i, v in enumerate(ids)}
    got: dict[int, list[int]] = {}
    for q_id, vec_id, _, _ in rows:
        got.setdefault(q_id, []).append(vec_id)
    hits = total = 0
    for q, keys in got.items():
        d = checks.l2(vecs, vecs[pos[q]])
        truth = [ids[i] for i in np.lexsort((np.array(ids), np.round(d, 6)))[:len(keys)]]
        hits += len(set(keys) & set(truth))
        total += len(keys)
    return hits / max(1, total)


def _verify(df, name: str, oracles: dict, con) -> tuple[bool, list]:
    """(result correct, result rows) of one suite member."""
    from python_vectordbapp_ceph_spark.queries._compare import canon

    rows = [tuple(r) for r in df.collect()]
    if name not in oracles:
        return list(df.columns) == SCHEMAS[name] and len(rows) > 0, rows
    cur = con.execute(oracles[name])
    ocols = [d[0] for d in cur.description]
    return canon(list(df.columns), rows) == canon(ocols, [tuple(r) for r in cur.fetchall()]), rows


def run(ctx) -> dict:
    import duckdb

    from python_vectordbapp_ceph_spark.cache import release_caches
    from python_vectordbapp_ceph_spark.io import load_table
    from python_vectordbapp_ceph_spark.queries import ORACLES

    t_begin = time.perf_counter()
    rng = np.random.default_rng(ctx.seed)
    spark, tr = ctx.spark, ctx.tracer

    setups = []
    with tr.span("setup"):
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            for t in TABLES:
                load_table(spark, SF_DIR, t)
            setups.append(time.perf_counter() - t0)

    from python_vectordbapp_ceph_spark.queries import QUERIES

    members = {q: QUERIES[q] for q in SUITE}
    attempted = failed = 0
    recall = 0.0
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    verify_s = {}
    with tr.span("verify"):
        for name in SUITE:
            attempted += 1
            t0 = time.perf_counter()
            try:
                ok, rows = _verify(members[name](spark, SF_DIR), name, ORACLES, con)
            except Exception:  # noqa: BLE001 - a failed member is counted, not fatal
                ok, rows = False, []
            failed += not ok
            if name == "q_ivf_batch_search" and ok:
                recall = _ivf_recall(rows, SF_DIR)
            release_caches()
            verify_s[name] = time.perf_counter() - t0
    con.close()

    # the verify pass runs each member cold; the first noop pass after it
    # was still 13-24% slower than later ones, so it is not timed either
    with tr.span("warmup"):
        for name in SUITE:
            members[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            release_caches()
    t_verified = time.perf_counter()
    per_item: dict[str, list[float]] = {q: [] for q in SUITE}
    items, pass_s = [], []
    passes = 0
    with tr.span("timed"):
        t_start = time.perf_counter()
        # whole passes, as many as are expected to end within --seconds
        while passes < MIN_PASSES or (
                time.perf_counter() - t_start) * (passes + 1) / passes <= ctx.seconds:
            passes += 1
            t_pass = time.perf_counter()
            for name in map(str, rng.permutation(SUITE)):
                tr.step += 1
                attempted += 1
                with tr.span("step"):
                    t0 = time.perf_counter()
                    try:
                        with tr.span(f"queries.{name}.build"):
                            df = members[name](spark, SF_DIR)
                        with tr.span(f"queries.{name}.exec"):
                            df.write.format("noop").mode("overwrite").save()
                    except Exception:  # noqa: BLE001
                        failed += 1
                    release_caches()
                    dt = time.perf_counter() - t0
                per_item[name].append(dt)
                items.append(dt)
            pass_s.append(time.perf_counter() - t_pass)
        wall = time.perf_counter() - t_start

    return {
        "attempted": attempted, "failed": failed,
        # the operation a user of the suite waits for is a whole pass; a
        # median over members of very different cost would jump between them
        "e2e": {"setup_s": median(setups), "op_p50_s": median(pass_s)},
        "detail": {
            "throughput_per_s": len(items) / wall,
            "curate_wall_s": sum(median(v) for v in per_item.values()),
            "passes": passes, "pass_s": pass_s, "items": len(items),
            "item_s": per_item,
            "setup_runs_s": setups, "verify_s": verify_s,
            "phase_s": {"before_timed": t_verified - t_begin, "timed": wall},
        },
        "layer_extra": {"operators.ivf.recall_at5": recall},
    }
