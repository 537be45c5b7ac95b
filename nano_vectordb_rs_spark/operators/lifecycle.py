"""Persistence-lifecycle gate queries — the four reference components the
hash gate could not previously see (O6 save, O7/O8 additional_data, O15
reference-format codec, O16 load validation), each re-expressed as a
side-effect-contained roundtrip whose OUTPUT is a deterministic stats frame
with a straight DuckDB oracle over the source parquet.

Shape of both queries: read the ``embeddings`` fixture → push it through the
real persistence surface (Parquet save/open + JSON sidecar, or the
reference's JSON+base64 single-file format) into a throwaway temp dir →
reload through the same public API → aggregate the RELOADED data into a
small stats row. If any stage drops rows, truncates vectors, reorders bytes
in the f32 matrix, or loses the sidecar, the stats diverge from the oracle
(which never leaves the parquet) and the hash check fails. All scratch state
is deleted before returning, so repeated gate/bench invocations leak
nothing.

Content checksum: per-row fixed-point fold ``sum(trunc(x * 1e9))`` as int64
(exact, order-free — same determinism trick as the k-means assignment,
operators/pipeline.py _assign), then a corpus-level DECIMAL(38,0) sum of the
row sums, so the total is exact at any scale with no float summation-order
hazard. |x| < 1 in the fixture and dim = 64 ⇒ |row sum| < 6.4e10, far below
int64; the DECIMAL(38,0) outer sum cannot overflow before ~1e27 rows.

Reference parity: save/load are src/lib.rs:289-293 / :118-131; the sidecar
is get/store_additional_data (src/lib.rs:296-303); the matrix-size check on
load is src/lib.rs:122-129.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nano_vectordb_rs_spark.collection import ID_COL, VECTOR_COL, VectorCollection
from nano_vectordb_rs_spark.functions.vector import EMBEDDING_DIM
from nano_vectordb_rs_spark.sources.reference_json import (
    load_reference_json,
    save_reference_json,
)
from nano_vectordb_rs_spark.sources.tables import load_table

# sidecar payload stored before save and re-read after reopen; scalar values
# so the roundtrip equality is exact
_ADDITIONAL = {"corpus": "embeddings", "answer": 42}

_CONTENT_SCALE = 1e9


def _row_checksum():
    """Exact order-free per-row content sum: fold of trunc(x * 1e9) as int64."""
    return F.aggregate(
        F.transform(
            F.col(VECTOR_COL),
            lambda x: (x.cast("double") * F.lit(_CONTENT_SCALE)).cast("bigint"),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )


def _stats(df: DataFrame, additional_ok: bool) -> DataFrame:
    return df.select(
        F.lit(1).alias("grp"),
        _row_checksum().alias("row_sum"),
        F.size(VECTOR_COL).alias("vlen"),
        F.col(ID_COL).cast("bigint").alias("idn"),
    ).groupBy("grp").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("idn").alias("n_ids"),
        F.sum("vlen").alias("vector_elems"),
        # DECIMAL accumulation (order-free, no int64 overflow mid-fold), then
        # one BIGINT cast so both engines land in pandas int64: ~1.2e8 per
        # row keeps the total under int64 until ~7e10 rows — far past the
        # gate scales, and a checksum (not data) column regardless
        F.sum(F.col("row_sum").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("content_sum"),
        F.sum(F.col("idn").cast("decimal(38,0)")).cast("bigint").alias("id_sum"),
        F.lit(additional_ok).alias("additional_ok"),
    ).drop("grp")


_STATS_ORACLE = f"""
SELECT count(*) AS n_rows,
       count(DISTINCT vec_id) AS n_ids,
       CAST(sum(len(embedding)) AS BIGINT) AS vector_elems,
       CAST(sum(CAST(row_sum AS DECIMAL(38,0))) AS BIGINT) AS content_sum,
       CAST(sum(CAST(vec_id AS DECIMAL(38,0))) AS BIGINT) AS id_sum,
       TRUE AS additional_ok
FROM (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * {_CONTENT_SCALE:.0f}) AS BIGINT)
         )) AS row_sum
  FROM embeddings
)
HAVING count(*) > 0
"""


def _collection_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings fixture in collection schema: __id__ string, vector, label."""
    return load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").cast("string").alias(ID_COL),
        F.col("embedding").alias(VECTOR_COL),
        F.col("label").cast("string").alias("label"),
    )


def save_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6/O7/O8 through the gate: collection → ``save()`` (staged Parquet
    swap + JSON sidecar) → fresh ``open()`` (which re-reads sidecar and
    Parquet) → stats over the REOPENED store.

    ``save`` keeps vectors verbatim (normalization is an ingest-time
    decision, exercised separately by upsert_merge/normalize_all), so the
    oracle reads the untouched fixture. ``additional_ok`` asserts the
    sidecar survived the staged-swap overwrite path byte-for-byte."""
    tmp = tempfile.mkdtemp(prefix="nvdb_save_rt_")
    store = f"{tmp}/col"
    try:
        col = VectorCollection(
            spark, EMBEDDING_DIM, _collection_frame(spark, sf_dir), store
        )
        col.store_additional_data(_ADDITIONAL)
        col.save()
        # save() twice: the second pass exercises the existing-dir staged
        # swap (read-before-overwrite hazard) instead of the fresh-dir path
        col.save()
        reopened = VectorCollection.open(spark, EMBEDDING_DIM, store)
        ok = reopened.additional_data() == _ADDITIONAL
        out = _stats(reopened.df, ok)
        # the reopened plan streams from the temp parquet — materialize
        # driver-side (one bounded stats row) before deleting the files
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


SAVE_ROUNDTRIP_SQL = _STATS_ORACLE


def reference_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15/O16 through the gate: collection frame → reference single-file
    JSON (base64 little-endian f32 matrix, row i at [i*dim, (i+1)*dim)) →
    ``load_reference_json`` (which enforces the src/lib.rs:122-129 matrix
    size check) → stats over the re-imported frame.

    The f32 → base64 → f32 matrix path is lossless by construction, so the
    fixed-point content sum must equal the oracle's parquet-side sum; the
    per-row dim guard (O16) re-validates every re-imported vector."""
    tmp = tempfile.mkdtemp(prefix="nvdb_ref_json_")
    path = f"{tmp}/collection.json"
    try:
        save_reference_json(_collection_frame(spark, sf_dir), path, _ADDITIONAL)
        df, additional = load_reference_json(spark, path)
        bad_dim = df.filter(F.size(VECTOR_COL) != EMBEDDING_DIM).limit(1).count()
        ok = additional == _ADDITIONAL and bad_dim == 0
        out = _stats(df, ok)
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


REFERENCE_JSON_ROUNDTRIP_SQL = _STATS_ORACLE


def jsonl_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The JSONL interchange sink+source through the gate: collection frame
    → ``write_jsonl_collection`` (distributed line-JSON shards, one part
    file per partition — the embedding-pipeline export format) →
    ``read_jsonl_collection`` with the explicit-schema + dim-guard path →
    stats over the re-imported frame.

    Losslessness hinges on JSON float text round-tripping: Spark writes
    FloatType via shortest-roundtrip decimal repr and the schema'd read
    parses back the identical f32, so the fixed-point content checksum
    must equal the oracle's parquet-side sum — a truncated digit anywhere
    in the writer/parser pair hash-mismatches. Unlike the reference's
    single-document format (reference_json_roundtrip, driver-bound BY
    DESIGN), both directions here are fully distributed jobs — this is
    the export path that actually runs at 100 TB."""
    from pyspark.sql import types as T

    from nano_vectordb_rs_spark.sources.jsonl import (
        read_jsonl_collection,
        write_jsonl_collection,
    )

    tmp = tempfile.mkdtemp(prefix="nvdb_jsonl_rt_")
    path = f"{tmp}/shards"
    try:
        write_jsonl_collection(_collection_frame(spark, sf_dir), path)
        df = read_jsonl_collection(
            spark,
            path,
            EMBEDDING_DIM,
            T.StructType([T.StructField("label", T.StringType())]),
        )
        # dim guard is a filter in the reader: re-assert none were dropped
        ok = df.filter(F.size(VECTOR_COL) != EMBEDDING_DIM).limit(1).count() == 0
        out = _stats(df, ok)
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


JSONL_EXPORT_ROUNDTRIP_SQL = _STATS_ORACLE


def orc_export_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ORC interchange sink+source through the gate: collection frame →
    ``write_orc_collection`` (distributed columnar shards) →
    ``read_orc_collection`` through the dim-guard path → stats over the
    re-imported frame.

    ORC is the second binary columnar format next to Parquet
    (sources/orc.py — Hive-era lakes standardized on it), and unlike the
    text formats nothing is parsed on the way back: f32 stays f32 on disk,
    so the fixed-point content checksum must match the oracle (which never
    leaves the parquet) bit-for-bit. Both directions are plain distributed
    jobs — one file per partition out, splittable stripes back in — so the
    roundtrip runs at 100 TB exactly like the Parquet save path (O6,
    src/lib.rs:289-293)."""
    from nano_vectordb_rs_spark.sources.orc import (
        read_orc_collection,
        write_orc_collection,
    )

    tmp = tempfile.mkdtemp(prefix="nvdb_orc_rt_")
    path = f"{tmp}/shards"
    try:
        write_orc_collection(_collection_frame(spark, sf_dir), path)
        df = read_orc_collection(spark, path, EMBEDDING_DIM)
        # dim guard is a filter in the reader: re-assert none were dropped
        ok = df.filter(F.size(VECTOR_COL) != EMBEDDING_DIM).limit(1).count() == 0
        out = _stats(df, ok)
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


ORC_EXPORT_ROUNDTRIP_SQL = _STATS_ORACLE


def snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned persistence through the gate: ingest the fixture →
    snapshot v1 → mutate (delete every id ≡ 0 mod 7, upsert a relabeled
    slice and a shifted insert slice) → snapshot v2 → reopen BOTH versions
    from disk and report per-version stats side by side.

    This is the lakehouse extension of O6 (the reference's save is a
    destructive overwrite, src/lib.rs:289-293): reproducing yesterday's
    training run needs yesterday's corpus, so the store must answer "as of
    version N" — the Iceberg/Delta time-travel contract. The check pins
    that v1 is IMMUTABLE under later mutations (the delete/upsert must not
    leak into it) and that v2 reflects exactly the applied delta; both
    stats frames come from fresh ``open_snapshot`` reads, so a snapshot
    that aliased the live store would hash-mismatch on the v1 row."""
    from nano_vectordb_rs_spark.collection import VectorCollection

    idn = F.col(ID_COL).cast("bigint")
    base = _collection_frame(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="nvdb_snap_tt_")
    store = f"{tmp}/col"
    try:
        col = VectorCollection.open(spark, EMBEDDING_DIM, store)
        col.upsert(base)
        v1 = col.save_snapshot()
        # set-based predicate delete: no gate query collects an O(corpus)
        # id list to the driver (at 100x this slice is millions of ids).
        # The reference-parity id-LIST delete API (src/lib.rs:273-286) stays
        # gate-covered by delete_by_ids, whose contract IS a small explicit
        # list, and by tests/test_collection.py.
        col.delete_where(idn % 7 == 0)
        # one upsert batch carrying BOTH arms (disjoint ids): updates that
        # relabel the %7==3 slice and inserts shifted +1M — exercising O2's
        # update and insert classification in a single merge
        delta = base.filter(idn % 7 == 3).withColumn(
            "label", F.lit("edited")
        ).unionByName(
            base.filter(idn % 10 == 1).select(
                (idn + 1_000_000).cast("string").alias(ID_COL),
                F.col(VECTOR_COL),
                F.lit("new").alias("label"),
            )
        )
        col.upsert(delta)
        v2 = col.save_snapshot()
        frames = []
        for v in (v1, v2):
            snap = VectorCollection.open_snapshot(spark, EMBEDDING_DIM, store, v)
            frames.append(
                snap.df.select(
                    F.lit(v).alias("version"),
                    F.col(ID_COL).cast("bigint").alias("idn"),
                    "label",
                )
            )
        out = (
            frames[0].unionByName(frames[1])
            .groupBy("version")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("idn").alias("n_ids"),
                F.sum(F.col("idn").cast("decimal(38,0)")).cast("bigint").alias("id_sum"),
                F.countDistinct("label").alias("n_labels"),
                F.sum(F.when(F.col("label") == "edited", 1).otherwise(0)).alias(
                    "n_edited"
                ),
            )
            .orderBy("version")
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


SNAPSHOT_TIME_TRAVEL_SQL = """
WITH v1 AS (
  SELECT vec_id AS idn, CAST(label AS VARCHAR) AS label FROM embeddings),
v2 AS (
  SELECT idn,
         CASE WHEN idn % 7 = 3 THEN 'edited' ELSE label END AS label
  FROM v1 WHERE idn % 7 <> 0
  UNION ALL
  SELECT vec_id + 1000000 AS idn, 'new' AS label
  FROM embeddings WHERE vec_id % 10 = 1),
both_v AS (
  SELECT 1 AS version, * FROM v1
  UNION ALL
  SELECT 2 AS version, * FROM v2)
SELECT version, count(*) AS n_rows, count(DISTINCT idn) AS n_ids,
       CAST(sum(idn) AS BIGINT) AS id_sum,
       count(DISTINCT label) AS n_labels,
       CAST(sum(CASE WHEN label = 'edited' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_edited
FROM both_v
GROUP BY version
ORDER BY version
"""


def compact_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The compaction EXECUTION path through the gate (``compaction_plan``
    only PLANS the bin-packing; this runs it): fragment a store into 16
    deliberately tiny files (the accretion pattern the foreachBatch ingest
    path produces, one file set per micro-batch) → ``compact()`` → reopen →
    report file counts before/after PLUS the full content stats over the
    reopened store.

    The file counts pin that compaction actually rewrote the layout
    (16 → 1 at gate scale); the fixed-point content checksum pins that the
    rewrite lost or altered NOTHING — the silent failure mode of any
    rewrite-in-place maintenance job. ``additional_ok`` asserts the JSON
    sidecar survives the compaction save. At 100 TB ``compact`` is the
    Delta-OPTIMIZE-shaped job that rewrites the store into ``ceil(n /
    target)`` files hashed on the (unique) id, so no shuffle key is
    skewed; here it is the same code path at gate scale."""
    tmp = tempfile.mkdtemp(prefix="nvdb_compact_rt_")
    store = f"{tmp}/col"
    try:
        # fragment: write the fixture as 16 round-robin shards, the layout a
        # per-micro-batch or external writer leaves (save() itself would
        # rewrite it into input-sized files). All 16 are non-empty at every
        # gate scale — the fixture holds 500 rows; the oracle's
        # LEAST(16, count(*)) also covers the one-row twin, where a single
        # row makes a single file. Only 2..15-row fixtures would be
        # round-robin-placement-dependent, and no fixture has that shape.
        _collection_frame(spark, sf_dir).repartition(16).write.parquet(store)
        col = VectorCollection.open(spark, EMBEDDING_DIM, store)
        col.store_additional_data(_ADDITIONAL)

        def _n_files() -> int:
            # DATA-BEARING files only: Spark may add an empty schema-carrier
            # part file on mostly-empty writes (observed: 1 row → 2 files),
            # and empty shards are noise for the compaction story anyway —
            # what matters is how many files a scan must visit for rows
            return (
                spark.read.parquet(store)
                .select(F.input_file_name().alias("f"))
                .distinct()
                .count()
            )

        files_before = _n_files()
        n_rows = col.count()
        col.compact(target_rows_per_file=max(1, n_rows))
        files_after = _n_files()
        reopened = VectorCollection.open(spark, EMBEDDING_DIM, store)
        ok = reopened.additional_data() == _ADDITIONAL
        out = _stats(reopened.df, ok).select(
            F.lit(files_before).alias("files_before"),
            F.lit(files_after).alias("files_after"),
            "*",
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


COMPACT_ROUNDTRIP_SQL = f"""
SELECT CAST(LEAST(16, count(*)) AS INT) AS files_before, 1 AS files_after,
       count(*) AS n_rows,
       count(DISTINCT vec_id) AS n_ids,
       CAST(sum(len(embedding)) AS BIGINT) AS vector_elems,
       CAST(sum(CAST(row_sum AS DECIMAL(38,0))) AS BIGINT) AS content_sum,
       CAST(sum(CAST(vec_id AS DECIMAL(38,0))) AS BIGINT) AS id_sum,
       TRUE AS additional_ok
FROM (
  SELECT vec_id, embedding,
         list_sum(list_transform(embedding,
           x -> CAST(trunc(CAST(x AS DOUBLE) * {_CONTENT_SCALE:.0f}) AS BIGINT)
         )) AS row_sum
  FROM embeddings
)
HAVING count(*) > 0
"""


def snapshot_diff_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``diff_snapshots`` + snapshot RETENTION through the gate: rebuild the
    ``snapshot_time_travel`` scenario (v1 = fixture; v2 = delete ids ≡ 0
    mod 7, relabel the ≡ 3 mod 7 slice, insert a +1M-shifted copy of the
    ≡ 1 mod 10 slice), then report ``diff_snapshots(v1, v2)`` grouped by
    change type — per-type row count and exact id sum.

    The oracle recomputes the same delta in SQL: added = the shifted
    inserts, removed = the deleted slice, changed = the relabeled slice
    (vector bytes identical — both versions' vectors went through the same
    ingest normalization, so only the label differs). A diff that compared
    anything loosely (dropped the vector from the struct, non-null-safe
    metadata equality) would mis-bucket rows and hash-mismatch.

    ``retention_ok`` additionally exercises the delete_snapshot path
    end-to-end: v1 (whose files the handle no longer reads — the r08
    path-boundary fix) deletes cleanly, after which reopening it must fail
    while v2 stays intact. The diff itself is one full-outer join of two
    parquet scans on the id — the unavoidable shuffle of a change feed; at
    scale both snapshot writes bucket by id so the join co-partitions."""
    idn = F.col(ID_COL).cast("bigint")
    base = _collection_frame(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="nvdb_snap_diff_")
    store = f"{tmp}/col"
    try:
        col = VectorCollection.open(spark, EMBEDDING_DIM, store)
        col.upsert(base)
        v1 = col.save_snapshot()
        # scale-safe predicate delete (delete_where, the set-based O5
        # sibling) — unlike snapshot_time_travel, which intentionally
        # drives the reference-parity id-LIST delete API
        col.delete_where(idn % 7 == 0)
        delta = base.filter(idn % 7 == 3).withColumn(
            "label", F.lit("edited")
        ).unionByName(
            base.filter(idn % 10 == 1).select(
                (idn + 1_000_000).cast("string").alias(ID_COL),
                F.col(VECTOR_COL),
                F.lit("new").alias("label"),
            )
        )
        col.upsert(delta)
        v2 = col.save_snapshot()
        diff = (
            col.diff_snapshots(v1, v2)
            .select(F.col(ID_COL).cast("bigint").alias("idn"), "change")
            .groupBy("change")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("idn").cast("decimal(38,0)"))
                .cast("bigint")
                .alias("id_sum"),
            )
        )
        diff_rows = diff.collect()
        # retention: the handle reads v2's files, so v1 must delete cleanly
        # (path-boundary match) and stay gone, while v2 survives
        col.delete_snapshot(v1)
        try:
            VectorCollection.open_snapshot(spark, EMBEDDING_DIM, store, v1)
            retention_ok = False
        except ValueError:
            # v2 must reopen and hold exactly the live state (== comparison,
            # not > 0: a degenerate fixture can leave v2 legitimately empty)
            v2_rows = VectorCollection.open_snapshot(
                spark, EMBEDDING_DIM, store, v2
            ).count()
            retention_ok = col.snapshots() == [v2] and v2_rows == col.count()
        out = (
            spark.createDataFrame(diff_rows, diff.schema)
            .withColumn("retention_ok", F.lit(retention_ok))
            .orderBy("change")
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


SNAPSHOT_DIFF_SQL = """
WITH delta AS (
  SELECT 'removed' AS change, vec_id AS idn FROM embeddings
  WHERE vec_id % 7 = 0
  UNION ALL
  SELECT 'changed' AS change, vec_id AS idn FROM embeddings
  WHERE vec_id % 7 = 3
  UNION ALL
  SELECT 'added' AS change, vec_id + 1000000 AS idn FROM embeddings
  WHERE vec_id % 10 = 1)
SELECT change, count(*) AS n, CAST(sum(idn) AS BIGINT) AS id_sum,
       TRUE AS retention_ok
FROM delta
GROUP BY change
ORDER BY change
"""


def cdc_apply_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``changes()`` + ``apply_changes()`` through the gate — CDC REPLAY,
    the consumer half of the change-feed story whose producer half
    ``snapshot_diff_report`` already gates (Delta-CDF / Debezium pattern:
    ship the delta, not the table).

    Scenario (same mutation recipe as snapshot_diff_report, so the oracle
    shares its delta algebra): v1 = fixture; v2 = delete ids ≡ 0 mod 7
    (via the set-based delete_where), relabel the ≡ 3 mod 7 slice, insert
    a +1M-shifted copy of the ≡ 1 mod 10 slice.  The feed
    ``changes(v1, v2)`` — one full-outer join of the two snapshot scans —
    is then replayed onto a FRESH handle opened at v1 via
    ``apply_changes`` (one anti join + union, no re-normalization).

    ``apply_ok`` is a full-row null-safe struct comparison of the replayed
    state against v2 over a full-outer join: a dropped delete, a skipped
    upsert, a re-normalized vector byte, or a phantom/duplicate row each
    flips it false.  ``replay_rows`` pins the cardinality; the per-change
    ``n``/``id_sum`` rows pin the feed itself with the arithmetic the
    oracle recomputes in SQL.  Reference parity: the replay IS the
    reference's upsert/delete surface (src/lib.rs:150-185, 273-286)
    driven from a change feed instead of a user batch."""
    idn = F.col(ID_COL).cast("bigint")
    base = _collection_frame(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="nvdb_cdc_apply_")
    store = f"{tmp}/col"
    try:
        col = VectorCollection.open(spark, EMBEDDING_DIM, store)
        col.upsert(base)
        v1 = col.save_snapshot()
        col.delete_where(idn % 7 == 0)
        delta = base.filter(idn % 7 == 3).withColumn(
            "label", F.lit("edited")
        ).unionByName(
            base.filter(idn % 10 == 1).select(
                (idn + 1_000_000).cast("string").alias(ID_COL),
                F.col(VECTOR_COL),
                F.lit("new").alias("label"),
            )
        )
        col.upsert(delta)
        v2 = col.save_snapshot()
        feed = col.changes(v1, v2)
        feed_stats = (
            feed.select(F.col(ID_COL).cast("bigint").alias("idn"), "change")
            .groupBy("change")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("idn").cast("decimal(38,0)"))
                .cast("bigint")
                .alias("id_sum"),
            )
        )
        stat_rows = feed_stats.collect()
        replay = VectorCollection.open_snapshot(spark, EMBEDDING_DIM, store, v1)
        replay.apply_changes(feed)
        target = VectorCollection.open_snapshot(spark, EMBEDDING_DIM, store, v2)
        meta_cols = sorted(
            (set(replay.df.columns) | set(target.df.columns))
            - {ID_COL, VECTOR_COL}
        )

        def state(df: DataFrame, alias: str) -> DataFrame:
            return df.select(
                F.col(ID_COL),
                F.struct(
                    F.col(VECTOR_COL),
                    *[
                        (F.col(c) if c in df.columns else F.lit(None)).alias(c)
                        for c in meta_cols
                    ],
                ).alias(alias),
            )

        cmp = state(replay.df, "__r__").join(
            state(target.df, "__t__"), ID_COL, "full_outer"
        )
        # one action for the whole verification: mismatch count (covers
        # phantom/missing ids too — an id on only one side has one null
        # struct) plus both cardinalities off the same join
        [v] = cmp.agg(
            F.sum(
                (~F.col("__r__").eqNullSafe(F.col("__t__"))).cast("long")
            ).alias("mismatches"),
            F.count("__r__").alias("replay_rows"),
            F.count("__t__").alias("target_rows"),
        ).collect()
        replay_rows = v["replay_rows"]
        apply_ok = (v["mismatches"] or 0) == 0 and replay_rows == v["target_rows"]
        out = (
            spark.createDataFrame(stat_rows, feed_stats.schema)
            .withColumn("apply_ok", F.lit(apply_ok))
            .withColumn("replay_rows", F.lit(replay_rows).cast("bigint"))
            .orderBy("change")
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


CDC_APPLY_SQL = """
WITH delta AS (
  SELECT 'removed' AS change, vec_id AS idn FROM embeddings
  WHERE vec_id % 7 = 0
  UNION ALL
  SELECT 'changed' AS change, vec_id AS idn FROM embeddings
  WHERE vec_id % 7 = 3
  UNION ALL
  SELECT 'added' AS change, vec_id + 1000000 AS idn FROM embeddings
  WHERE vec_id % 10 = 1)
SELECT change, count(*) AS n, CAST(sum(idn) AS BIGINT) AS id_sum,
       TRUE AS apply_ok,
       CAST((SELECT count(*) FROM embeddings WHERE vec_id % 7 <> 0)
            + (SELECT count(*) FROM embeddings WHERE vec_id % 10 = 1)
            AS BIGINT) AS replay_rows
FROM delta
GROUP BY change
ORDER BY change
"""


def snapshot_retention_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``expire_snapshots`` through an oracle-checked query: take five
    snapshots (v_k holds the ids ≡ 0 mod k for k = 1..5 — each version a
    different, recomputable subset), run the oldest-first retention sweep
    with ``keep_last=2``, and report one row per version that SHOULD
    remain (v4, v5) with its reopened row count and id sum, plus the
    sweep's outcome as pinned booleans.

    The oracle recomputes v4/v5's membership arithmetic straight from the
    fixture; ``dropped_ok`` pins that exactly v1-v3 were reclaimed (their
    dirs gone, manifest shrunk) and ``live_ok`` that the live store still
    answers with v5's content after the sweep — the two silent failure
    modes of a retention job (eating too much, or corrupting what stays).

    Scale note: the sweep is O(versions) driver-side manifest work plus
    one rmtree per dropped version; nothing scans data. With the
    manifest-pointer snapshot variant (module comment above) the rmtree
    becomes an unreferenced-file GC — same control flow. Reference parity
    note: the reference keeps exactly ONE persisted state (save is a
    destructive overwrite, src/lib.rs:289-293), so retention is the
    extension's own ops surface, not a ported behavior."""
    idn = F.col(ID_COL).cast("bigint")
    base = _collection_frame(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="nvdb_snap_ret_")
    store = f"{tmp}/col"
    try:
        # build each version's state via the public constructor (the
        # save_roundtrip_stats pattern) rather than 5 upsert-merge cycles:
        # the merge path is gated many times over elsewhere, and THIS
        # query's subject is the sweep — a fresh handle per version also
        # proves version numbering continues from the on-disk manifest,
        # not handle state
        for k in range(1, 6):
            col = VectorCollection(
                spark, EMBEDDING_DIM, base.filter(idn % k == 0), store
            )
            col.save_snapshot()
        dropped = col.expire_snapshots(keep_last=2)
        import os

        dirs_gone = all(
            not os.path.isdir(os.path.join(store + ".snapshots", f"v{v}"))
            for v in (1, 2, 3)
        )
        dropped_ok = dropped == [1, 2, 3] and col.snapshots() == [4, 5] and dirs_gone
        live_ok = col.count() == VectorCollection.open_snapshot(
            spark, EMBEDDING_DIM, store, 5
        ).count()
        frames = []
        for v in (4, 5):
            snap = VectorCollection.open_snapshot(spark, EMBEDDING_DIM, store, v)
            frames.append(
                snap.df.select(
                    F.lit(v).alias("version"),
                    F.col(ID_COL).cast("bigint").alias("idn"),
                )
            )
        out = (
            frames[0].unionByName(frames[1])
            .groupBy("version")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(F.col("idn").cast("decimal(38,0)")).cast("bigint").alias("id_sum"),
            )
            .withColumn("dropped_ok", F.lit(dropped_ok))
            .withColumn("live_ok", F.lit(live_ok))
            .orderBy("version")
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


SNAPSHOT_RETENTION_SQL = """
SELECT version, count(*) AS n_rows, CAST(sum(vec_id) AS BIGINT) AS id_sum,
       TRUE AS dropped_ok, TRUE AS live_ok
FROM (
  SELECT 4 AS version, vec_id FROM embeddings WHERE vec_id % 4 = 0
  UNION ALL
  SELECT 5 AS version, vec_id FROM embeddings WHERE vec_id % 5 = 0)
GROUP BY version
ORDER BY version
"""


def vacuum_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``VectorCollection.vacuum()`` through the gate — the GC half of the
    r09 crash-safety work: a store with two snapshots gets one fabricated
    crash dropping of every kind the swap/recovery protocol can leave
    (stranded ``.staging`` beside the live dir, an unpublished
    ``vN.staging`` under the snapshot root, an ``.old`` aside copy, an
    orphan ``vN`` dir the manifest never learned about, a half-written
    ``manifest.json.tmp``), then the sweep runs and the query reports the
    per-kind reclaim counts PLUS full content stats over the reopened
    store.

    The pinned counts catch a sweep that eats too little (droppings
    survive) or too much (wrong kind matched); the content stats +
    ``additional_ok`` (here: sidecar intact AND both manifest versions
    still open with identical live content) catch the catastrophic
    failure mode — GC touching live data. The oracle recomputes the
    literal counts and the fixture stats independently. No reference
    analogue (its whole store is one JSON file, src/lib.rs:289-293);
    this is the maintenance surface the snapshot/save extension needs."""
    import os

    tmp = tempfile.mkdtemp(prefix="nvdb_vacuum_")
    store = f"{tmp}/col"
    try:
        col = VectorCollection(
            spark, EMBEDDING_DIM, _collection_frame(spark, sf_dir), store
        )
        col.store_additional_data(_ADDITIONAL)
        col.save()
        v1 = col.save_snapshot()
        v2 = col.save_snapshot()
        root = f"{store}.snapshots"
        # one fabricated dropping per kind
        os.makedirs(f"{store}.staging")
        with open(f"{store}.staging/part-junk.parquet", "w") as f:
            f.write("x")
        os.makedirs(f"{store}.old")
        os.makedirs(f"{root}/v99")
        os.makedirs(f"{root}/v100.staging")
        with open(f"{root}/manifest.json.tmp", "w") as f:
            f.write("{")
        removed = col.vacuum()
        counts_ok = removed == {
            "staging": 2,  # <store>.staging + v100.staging
            "aside": 1,
            "orphan_snapshots": 1,
            "manifest_tmp": 1,
        }
        # live surface must be untouched: reopen from disk, sidecar intact,
        # manifest still [v1, v2], live content ≡ newest snapshot content
        reopened = VectorCollection.open(spark, EMBEDDING_DIM, store)
        ok = (
            counts_ok
            and reopened.additional_data() == _ADDITIONAL
            and reopened.snapshots() == [v1, v2]
            and VectorCollection.open_snapshot(
                spark, EMBEDDING_DIM, store, v2
            ).count()
            == reopened.count()
        )
        out = _stats(reopened.df, ok).select(
            F.lit(removed["staging"]).alias("n_staging_removed"),
            F.lit(removed["aside"]).alias("n_aside_removed"),
            F.lit(removed["orphan_snapshots"]).alias("n_orphan_removed"),
            F.lit(removed["manifest_tmp"]).alias("n_manifest_tmp_removed"),
            "*",
        )
        rows, schema = out.collect(), out.schema
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


VACUUM_REPORT_SQL = f"""
SELECT 2 AS n_staging_removed,
       1 AS n_aside_removed,
       1 AS n_orphan_removed,
       1 AS n_manifest_tmp_removed,
       s.*
FROM ({_STATS_ORACLE}) s
"""
