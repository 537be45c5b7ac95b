"""The benchmark's workloads, each a single-client closed loop.

Each workload function takes a ``Bench`` (see run.py), sets up ``SETUPS``
times, runs its loop until the run's time is spent, checks every answer,
and returns its metrics. Everything the program is given comes from the
run's seed.
"""

from __future__ import annotations

import importlib
import os
import shutil
import statistics
import sys
import time
from typing import Any, Callable

import numpy as np

import core
import datagen
from mirror import CollectionMirror, normalize_rows

SETUPS = 3  # set-up repetitions per run; setup_s is their median

# vector_mixed: a clustered corpus at the reference benchmark's dimension
VEC_ROWS, VEC_DIM, VEC_CLUSTERS, VEC_CATS = 2048, 1024, 32, 8
VEC_BATCH_QUERIES = 2
VEC_GET_IDS = 16
VEC_BETTER_THAN = 0.7
# an ingest step: upsert of VEC_INGEST rows, a share of them existing ids,
# plus VEC_REPEATS rows repeating ids of the batch; then deletes and a save
VEC_INGEST, VEC_UPDATE_SHARE, VEC_REPEATS, VEC_DELETES = 128, 0.3, 4, 4
# the closed loop repeats this rotation (see _closed_loop)
VEC_ROTATION = (
    "query", "query_where", "query_bt", "get", "query",
    "query_bt", "query_where", "query_batch", "ingest",
)
# warm-up: the ingest step first, so the loop reads a collection save() wrote
VEC_WARMUP = ("ingest", "query", "query_where", "query_bt", "get", "query_batch")

# pipeline: a multi-table join (six load_table reads), a vector join through
# Arrow and a streaming query; a pass runs them in this order
PIPELINE_QUERIES = ("tpch_q5_regional", "knn_join", "streaming_hourly_counts")
TOP_K = 10


def _setup_median(bench, cycle: Callable[[int], Any]) -> tuple[float, Any]:
    """Run ``cycle`` SETUPS times, each after stopping the previous cycle's
    session; return the median wall time and the last cycle's state."""
    walls, state = [], None
    for i in range(SETUPS):
        bench.stop_session()
        t0 = time.perf_counter()
        state = cycle(i)
        walls.append(time.perf_counter() - t0)
    bench.detail["setup_walls_s"] = walls
    return statistics.median(walls), state


def _closed_loop(bench, warmup, rotation, step: Callable[[str], None]) -> list[float]:
    """Run ``step(kind)`` once for each kind in ``warmup``, untimed; then
    whole ``rotation``s of steps until the run's seconds are spent, so every
    run's samples have the same mix. Returns each rotation's wall time.

    In a traced run every other step is traced and the rest are not, so the
    run can compare its own traced and untraced latencies; rotations have an
    odd length, so each kind alternates between the two."""
    if len(rotation) % 2 == 0:
        raise ValueError("a rotation needs an odd number of steps")
    t0 = time.perf_counter()
    bench.warming = True
    with bench.tracer.op(-1):
        for kind in warmup:
            step(kind)
    bench.warming = False
    bench.detail["warmup_s"] = time.perf_counter() - t0
    walls: list[float] = []
    i = 0
    cpu0, gc0 = bench.cpu_seconds(), bench.gc_seconds()
    t_end = time.perf_counter() + bench.seconds
    while time.perf_counter() < t_end:
        r0 = time.perf_counter()
        for kind in rotation:
            bench.tracer.enabled = bench.trace and i % 2 == 0
            with bench.tracer.op(i), bench.tracer.span("bench.step"):
                step(kind)
            i += 1
        walls.append(time.perf_counter() - r0)
    bench.tracer.enabled = bench.trace
    bench.detail["rotations"] = len(walls)
    bench.detail["cpu_ms_per_step"] = 1000.0 * (bench.cpu_seconds() - cpu0) / i
    bench.detail["gc_ms_per_step"] = 1000.0 * (bench.gc_seconds() - gc0) / i
    bench.detail["steps_per_s"] = i / sum(walls)
    return walls


# -- vector workloads -----------------------------------------------------


def _rows_topk(rows) -> list[tuple[str, float]]:
    return [(r["__id__"], r["__metrics__"]) for r in rows]


def vector_mixed(bench) -> dict[str, Any]:
    from pyspark.sql import functions as F

    from nano_vectordb_rs_spark import VectorCollection

    rng = np.random.default_rng([bench.seed, 1])  # the loop's queries and batches
    ids0 = datagen.vector_ids(VEC_ROWS)

    def cycle(i: int):
        spark = bench.start_session()
        x, labels = datagen.clustered_vectors(
            np.random.default_rng([bench.seed, 0]), VEC_ROWS, VEC_DIM, VEC_CLUSTERS
        )
        cats = labels % VEC_CATS
        # the stored collection holds unit vectors, as upsert would leave them
        table = datagen.vector_table(ids0, normalize_rows(x), cats)
        store = os.path.join(bench.run_dir, "collection")
        shutil.rmtree(store, ignore_errors=True)
        datagen.write_collection(table, store)
        with bench.tracer.span("collection.open"):
            col = VectorCollection.open(spark, VEC_DIM, store)
        col.query(x[0].tolist(), top_k=TOP_K).collect()  # warm-up
        return spark, col, x, cats

    setup_s, (spark, col, x, cats) = _setup_median(bench, cycle)
    mirror = CollectionMirror(VEC_DIM)
    mirror.upsert(ids0, x, cats)
    next_id = VEC_ROWS
    durable_rows = 0

    def near_stored() -> np.ndarray:
        j = int(rng.choice(np.flatnonzero(mirror.live)))
        return mirror.vec[j] + np.float32(0.03) * rng.standard_normal(VEC_DIM).astype(np.float32)

    def query(kind: str) -> None:
        q = near_stored()
        cat = int(rng.integers(0, VEC_CATS)) if kind == "query_where" else None
        bt = VEC_BETTER_THAN if kind == "query_bt" else None
        where = F.col("cat") == cat if cat is not None else None
        rows = bench.query(col, q, TOP_K, better_than=bt, where=where)
        if rows is not None:
            bench.check_answer(mirror.check_topk(_rows_topk(rows), q, TOP_K, bt, cat))

    def get() -> None:
        live = np.flatnonzero(mirror.live)
        want = [mirror.ids[j] for j in rng.choice(live, VEC_GET_IDS - 4, replace=False)]
        want += [f"absent{j}" for j in rng.integers(0, 10**6, 4)]
        rows = bench.get(col, want)
        if rows is not None:
            bench.check_answer(mirror.check_get(want, [(r["__id__"], r["vector"]) for r in rows]))

    def query_batch() -> None:
        qs = [near_stored() for _ in range(VEC_BATCH_QUERIES)]
        rows = bench.query_batch(col, qs, TOP_K)
        if rows is not None:
            problems = []
            for n, q in enumerate(qs):
                got = sorted((r for r in rows if r["__query_id__"] == f"q{n}"), key=lambda r: r["rank"])
                problems.append(mirror.check_topk(_rows_topk(got), q, TOP_K))
            bench.check_answer(next((p for p in problems if p), None))

    def ingest() -> None:
        nonlocal next_id, durable_rows
        n_upd = int(VEC_INGEST * VEC_UPDATE_SHARE)
        upd = [mirror.ids[j] for j in rng.choice(np.flatnonzero(mirror.live), n_upd, replace=False)]
        new = datagen.vector_ids(VEC_INGEST - n_upd, next_id)
        path = os.path.join(bench.run_dir, "batches", f"b{next_id}.parquet")
        next_id += len(new)
        batch_ids = upd + new
        rng.shuffle(batch_ids)
        # a few ids repeat later in the batch with another vector: the last row wins
        batch_ids += [batch_ids[int(j)] for j in rng.integers(0, VEC_INGEST, VEC_REPEATS)]
        xb = np.stack([near_stored() for _ in batch_ids])
        cb = rng.integers(0, VEC_CATS, len(batch_ids))
        datagen.write_parquet(datagen.vector_table(batch_ids, xb, cb), path)
        expected = mirror.upsert(batch_ids, xb, cb)
        report = bench.upsert(col, spark.read.parquet(path))
        if report is not None:
            bench.check_answer(None if report == expected else "upsert report differs")
        gone = [mirror.ids[j] for j in rng.choice(np.flatnonzero(mirror.live), VEC_DELETES, replace=False)]
        mirror.delete(gone)
        bench.delete(col, gone)
        # exact counters, read outside the timed calls: the upsert cache leak
        # shows as one more persistent RDD per upsert
        bench.cached_rdds.append(core.persistent_rdds(spark))
        bench.plan_nodes.append(core.plan_nodes(col.df))
        if bench.save(col) and not bench.warming:
            durable_rows += len(expected["updated"]) + len(expected["inserted"])

    def step(kind: str) -> None:
        if kind == "ingest":
            ingest()
        elif kind == "get":
            get()
        elif kind == "query_batch":
            query_batch()
        else:
            query(kind)

    _closed_loop(bench, VEC_WARMUP, VEC_ROTATION, step)

    # the durable state must equal the mirror: read back a sample and the count
    live = np.flatnonzero(mirror.live)
    check_ids = [mirror.ids[j] for j in live[:: max(1, len(live) // 64)]]
    rows = col.get(check_ids).collect()
    bench.check_answer(mirror.check_get(check_ids, [(r["__id__"], r["vector"]) for r in rows]))
    bench.check(col.count() == len(mirror), "row count after the loop")

    stored, _ = core.dir_bytes_files(col.path)
    d = bench.detail
    d["stored_bytes_per_vector_byte"] = stored / (len(mirror) * VEC_DIM * 4)
    batch_ms = bench.samples("query_batch")
    d["batch_query_qps"] = statistics.median(VEC_BATCH_QUERIES / (ms / 1000.0) for ms in batch_ms)
    busy_s = (sum(bench.samples("upsert")) + sum(bench.samples("save"))) / 1000.0
    d["ingest_vectors_per_s"] = durable_rows / busy_s
    return bench.result(setup_s, "query")


# -- declared-query pipeline ----------------------------------------------


def _oracle_hashes(fixture: str, names: tuple[str, ...], oracles: dict[str, str], work: str):
    import duckdb

    from nano_vectordb_rs_spark.sources.tables import TABLES

    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{os.path.join(work, 'duck')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixture}/{t}.parquet')")
    out = {}
    for name in names:
        df = con.execute(oracles[name]).df()
        out[name] = (sorted(df.columns), core.hash_rows(list(df.columns), df.itertuples(index=False, name=None)))
    con.close()
    return out


def _wrap_load_table(bench) -> None:
    """Put a span around ``load_table`` in every program module that binds
    that name, so schema-inference reads are attributed to the sources layer."""
    from nano_vectordb_rs_spark.sources import tables

    orig = tables.load_table

    def load_table(spark, sf_dir, name):
        with bench.tracer.span("sources.load_table"):
            return orig(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        modname = getattr(mod, "__name__", "")
        if modname.startswith("nano_vectordb_rs_spark.") and getattr(mod, "load_table", None) is orig:
            mod.load_table = load_table


def pipeline(bench) -> dict[str, Any]:
    entry = importlib.import_module("__spark_entry__")
    queries = entry.queries()
    if bench.trace:
        _wrap_load_table(bench)
    fixture = os.path.join(bench.run_dir, "fixture")

    def layer(name: str) -> str:
        return "streaming" if "streaming" in queries[name].__module__ else "operators"

    def cycle(i: int):
        spark = bench.start_session()
        datagen.write_fixture(bench.seed, fixture)
        from nano_vectordb_rs_spark.sources.tables import TABLES, load_table

        for t in TABLES:
            load_table(spark, fixture, t)
        queries["knn_topk"](spark, fixture).collect()  # warm-up
        return spark

    setup_s, spark = _setup_median(bench, cycle)
    oracle = _oracle_hashes(fixture, PIPELINE_QUERIES, entry.oracle_sql(), bench.run_dir)

    def step(name: str) -> None:
        got = bench.declared(spark, layer(name), name, queries[name], fixture)
        if got is not None:
            cols, rows = got
            want_cols, want_hash = oracle[name]
            ok = sorted(cols) == want_cols and core.hash_rows(cols, rows) == want_hash
            bench.check_answer(None if ok else f"{name} differs from its oracle")

    # three warm passes: the passes after set-up keep getting faster for a while
    passes = _closed_loop(bench, PIPELINE_QUERIES * 3, PIPELINE_QUERIES, step)
    bench.detail["pipeline_pass_s"] = statistics.median(passes)
    return bench.result(setup_s, "query")


WORKLOADS = {"vector_mixed": vector_mixed, "pipeline": pipeline}
