"""VectorCollection — the reference-parity user API (SURVEY.md §2.1).

One collection = one Parquet dataset with the engine schema convention
``__id__ string, vector array<float>, <typed metadata columns>`` plus a tiny
JSON sidecar for collection-level metadata.  Parquet replaces the reference's
JSON+base64 single file (/root/reference/src/lib.rs:289-293): columnar,
compressed, splittable, predicate-pushdown-able — the 100 TB-ready choice.

API parity map (reference method → here):
  new (src/lib.rs:116-147)        → VectorCollection.open / .create
  upsert (src/lib.rs:150-185)     → .upsert          (full-row replace, Q2/Q3)
  query (src/lib.rs:188-260)      → .query
  get (src/lib.rs:263-270)        → .get
  delete (src/lib.rs:273-286)     → .delete
  save (src/lib.rs:289-293)       → .save
  get/store_additional_data
    (src/lib.rs:296-303)          → .additional_data / .store_additional_data
  len / is_empty (src/lib.rs:306-313) → .count / .is_empty
  vector_bytes_len (src/lib.rs:316-318) → .vector_elems

Ingest guards (divergence decisions, SURVEY.md §1.6): wrong-dimension rows
are rejected (Q4), zero-norm vectors are rejected (Q5), vectors are unit-
normalized exactly once at ingest (the reference's normalize-at-write design,
src/lib.rs:158,173) so query time is a single dot product.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nano_vectordb_rs_spark.functions.vector import (
    as_double_array,
    dot_expr,
    json_array_lit,
    norm_expr,
    qcol,
)
from nano_vectordb_rs_spark.sources.tables import SPLIT_BYTES, bytes_width

ID_COL = "__id__"
METRICS_COL = "__metrics__"
VECTOR_COL = "vector"
_SIDECAR = "_additional_data.json"
# the writer's budget: about one file, hence one scan task, per this many
# bytes of the collection (see file_width). At dim 1024 on 4 cores, query
# latency did not depend on the file count below ~1.2 MB of collection and
# fell with more files from ~1.5 MB up, so a collection is split from 1 MB.
FILE_BYTES = 512 << 10


def file_width(nbytes: int, cores: int) -> int:
    """Files for a collection of ``nbytes``: one per ``FILE_BYTES``, at most
    ``cores`` and at least one; past ``cores`` × ``SPLIT_BYTES`` the files
    stay ``SPLIT_BYTES``-sized and outnumber the cores instead."""
    return bytes_width(nbytes, cores, FILE_BYTES) or max(1, -(-nbytes // SPLIT_BYTES))


def _size_in_bytes(jplan: Any) -> int:
    """The optimizer's size estimate of a JVM logical plan."""
    return int(str(jplan.stats().sizeInBytes()))


class DimensionError(ValueError):
    pass


class ZeroVectorError(ValueError):
    pass


class SnapshotInUseError(ValueError):
    """delete_snapshot refused because the version's files back this
    handle's current in-memory state.  A distinct type (not a bare
    ValueError) so retention sweeps can skip exactly this benign case
    while still surfacing real errors like a vanished version."""


def _local_relation(
    spark: SparkSession, schema: T.StructType, columns: list[list[Any]]
) -> DataFrame:
    """A driver-built relation (one Python list per field of ``schema``)
    shipped as an Arrow table, so the plan holds a ``LocalRelation``: no
    pickled rows for the JVM to unpickle, as ``createDataFrame(tuples)``'s
    ``LogicalRDD`` has.  Each column is built with its field's Arrow type,
    so an empty list keeps its type and the cast to ``schema`` is a no-op."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    table = pa.table(
        {
            f.name: pa.array(values, to_arrow_type(f.dataType))
            for f, values in zip(schema.fields, columns)
        }
    )
    return spark.createDataFrame(table, schema)


def _id_relation(
    spark: SparkSession, ids: list[Any], id_type: T.DataType = T.StringType()
) -> DataFrame:
    """The ``__id__`` relation of an id list, as a ``_local_relation``."""
    return _local_relation(
        spark, T.StructType([T.StructField(ID_COL, id_type, True)]), [ids]
    )


def _finite_rescaled(vec: list[float], what: str) -> tuple[list[float], float]:
    """``vec`` and its left-to-right double sum of squares, guarded for a
    driver-side normalize.  A null or non-finite component raises
    ``ValueError``.  When the sum of squares overflows or underflows the
    normal double range, the vector is first multiplied by the power of
    two that brings its largest component into [0.5, 1): the scaling is
    exact (bar components that become subnormal), so its unit vector is the
    one of the unscaled input: an overflowed norm would score every row
    0.0, an underflowed one would reject a nonzero vector as zero.
    In range the vector is returned as is, so its bits match the plain
    ``x / sqrt(sum(x * x))``."""
    for i, x in enumerate(vec):
        if x is None or not math.isfinite(x):
            raise ValueError(f"{what} has a non-finite component {x!r} at index {i}")
    v = [float(x) for x in vec]
    s = sum(x * x for x in v)
    if not sys.float_info.min <= s < math.inf:
        top = max(map(abs, v), default=0.0)
        if top > 0:
            scale = math.ldexp(1.0, -math.frexp(top)[1])
            v = [x * scale for x in v]
            s = sum(x * x for x in v)
    return v, s


class VectorCollection:
    """A cosine-similarity vector collection backed by a lazy DataFrame.

    Mutations (upsert/delete) build new logical plans; nothing is persisted
    until ``save()`` — exactly the reference's in-memory-until-save contract
    (its tests call save() explicitly, tests/unit_tests.rs:28).
    """

    def __init__(self, spark: SparkSession, embedding_dim: int, df: DataFrame, path: str | None):
        self.spark = spark
        self.embedding_dim = embedding_dim
        self.metric = "cosine"  # the only metric, like the reference (src/lib.rs:143)
        self._df = df
        # normalize to absolute ONCE: Spark's JVM resolves relative write
        # paths against ITS working directory, which diverges from the
        # Python process's after any chdir — a relative store path would
        # then stage parquet in one place and look for the sidecar in
        # another (and the snapshot backing-files guard would compare a
        # relative target against absolute inputFiles() URIs)
        self.path = os.path.abspath(path) if path else path
        self._additional: dict[str, Any] = {}
        # True only when this handle PROVABLY holds zero rows (fresh empty
        # create); cleared by the first upsert. Purely an optimization flag:
        # False never changes behavior, it just runs the existing-ids probe.
        self._known_empty = False
        # the batch caches upsert() made since _df was last re-read from
        # Parquet: the merged plan reads them until save() or
        # save_snapshot() re-reads it, which then releases them
        self._batch_caches: list[DataFrame] = []
        if path and os.path.exists(os.path.join(path, _SIDECAR)):
            with open(os.path.join(path, _SIDECAR)) as f:
                self._additional = json.load(f)

    # -- O1: open/create ----------------------------------------------------

    @staticmethod
    def _empty_df(spark: SparkSession, metadata_schema: T.StructType | None) -> DataFrame:
        fields = [
            T.StructField(ID_COL, T.StringType(), False),
            T.StructField(VECTOR_COL, T.ArrayType(T.FloatType()), False),
        ]
        if metadata_schema:
            # tolerate a full collection schema: reserved cols already present
            fields += [
                f for f in metadata_schema.fields if f.name not in (ID_COL, VECTOR_COL)
            ]
        # a local relation, not an RDD: the optimizer knows its size (0), so
        # the first save() of a fresh collection sizes its files from the
        # upserted rows (see _file_width)
        return _local_relation(spark, T.StructType(fields), [[] for _ in fields])

    @classmethod
    def open(
        cls,
        spark: SparkSession,
        embedding_dim: int,
        path: str,
        metadata_schema: T.StructType | None = None,
    ) -> "VectorCollection":
        """Load an existing collection or create an empty one (reference new(),
        src/lib.rs:116-147). The load-time matrix-size validation
        (src/lib.rs:122-129) becomes a per-row dimension assertion at ingest,
        which is strictly stronger.

        The scan keeps the layout it finds: a collection written elsewhere
        as one Parquet row group scans in ONE task, so every query scores on
        one core, until its first ``save()`` or ``compact()`` rewrites it
        core-balanced (see ``save``)."""
        path = os.path.abspath(path)  # see __init__: JVM vs Python cwd
        cls._recover_interrupted_save(path)
        if os.path.exists(path) and any(
            n.endswith(".parquet") for n in os.listdir(path) if not n.startswith("_")
        ):
            df = spark.read.parquet(path)
            if VECTOR_COL not in df.columns or ID_COL not in df.columns:
                raise ValueError(f"not a collection: {path} lacks {ID_COL}/{VECTOR_COL}")
            return cls(spark, embedding_dim, df, path)
        col = cls(spark, embedding_dim, cls._empty_df(spark, metadata_schema), path)
        # freshly created ⇒ provably no rows: lets the first upsert skip the
        # existing-ids probe (one whole Spark job on the bulk-load path)
        col._known_empty = True
        return col

    # -- O2: upsert ---------------------------------------------------------

    def upsert(self, batch: DataFrame) -> dict[str, list[str]]:
        """Join-based merge with full-row-replace semantics (decision Q2) and
        last-writer-wins for duplicate ids within a batch (decision Q3).

        Returns ``{"updated": [ids...], "inserted": [ids...]}`` — the
        reference's (updated_ids, inserted_ids) report (src/lib.rs:184),
        each list in batch order.  The id lists are driver-side by API
        contract (the reference materializes them too); an upsert batch is
        the small side of the merge, so collecting its ids is O(|batch|),
        never O(|collection|).  The batch is broadcast; the base collection
        does not shuffle.

        One pass over the batch (r15): the strict Q4/Q5 validation and the
        id report used to be two separate full scans of the batch (a
        ``limit(1)`` bad-row probe plus a post-dedup id collect); both now
        ride the SAME job — per-row ``(id, pos, dim, norm)`` is collected
        once (O(|batch|) driver rows, the size the id report already pays
        by contract) and validation, the LWW winner set and the batch-order
        report are derived from it driver-side.  The same driver knowledge
        also elides the in-batch dedup shuffle entirely when the batch has
        no duplicate ids (the common ingest shape — the optimizer cannot
        know this, the collected report proves it), and replaces the merge
        plan's batch-side broadcast subtree with a local id relation, so
        the anti join never re-traverses the batch lineage.  The batch cache
        is held until the next ``save()``/``save_snapshot()`` re-reads the
        collection from Parquet, then released."""
        from pyspark.sql.window import Window

        from nano_vectordb_rs_spark.operators.fastknn import normalize_ml

        norm = F.expr(norm_expr(as_double_array(VECTOR_COL)))
        # normalize BEFORE the cache so every later consumer (probe-side
        # lineage, dedup, merge, post-merge queries) reads finished rows —
        # the raw norm/dim validation columns are computed off the raw
        # vector in the same projection, so nothing needs a second pass
        annotated = normalize_ml(
            batch.withColumn("__batch_pos__", F.monotonically_increasing_id())
            .withColumn("__dim__", F.size(VECTOR_COL))
            .withColumn("__norm__", norm)
        ).cache()
        # ONE report job: materializes the cache every later consumer
        # reads, and carries validation + the id report
        info = annotated.select(
            ID_COL, "__batch_pos__", "__dim__", "__norm__"
        ).collect()
        for r in info:
            # same per-row predicate the old limit(1) probe used:
            # ~dim_ok | (norm <= 0) | isnan(norm), first offender raises
            # (and drops the cache, which nothing will read)
            if r["__dim__"] != self.embedding_dim:
                annotated.unpersist()
                raise DimensionError(
                    f"vector for id={r[ID_COL]!r} has dim {r['__dim__']}, "
                    f"expected {self.embedding_dim}"
                )
            n = r["__norm__"]
            if n is None or not (n > 0) or math.isnan(n):
                annotated.unpersist()
                raise ZeroVectorError(
                    f"zero/invalid-norm vector for id={r[ID_COL]!r}"
                )
        self._batch_caches.append(annotated)
        # LWW winners + batch-order report, derived driver-side
        last_pos: dict[str, int] = {}
        for r in info:
            p = r["__batch_pos__"]
            i = r[ID_COL]
            if i not in last_pos or p > last_pos[i]:
                last_pos[i] = p
        batch_ids = [
            i for i, _ in sorted(last_pos.items(), key=lambda kv: kv[1])
        ]
        if len(last_pos) == len(info):
            # no duplicate ids in the batch (proved by the report rows):
            # the LWW dedup is a no-op — skip its shuffle outright
            deduped = annotated
        else:
            w = Window.partitionBy(ID_COL).orderBy(
                F.col("__batch_pos__").desc()
            )
            deduped = (
                annotated.withColumn("__rn__", F.row_number().over(w))
                .filter(F.col("__rn__") == 1)
                .drop("__rn__")
            )
        batch_clean = deduped.filter(
            (F.col("__dim__") == self.embedding_dim)
            & (F.col("__norm__") > 0)
        ).drop("__batch_pos__", "__dim__", "__norm__")
        # local id relation (typed like the batch id column): broadcasting
        # it costs no batch re-traversal in the probe or the merge plan
        ids_df = _id_relation(self.spark, batch_ids, batch.schema[ID_COL].dataType)
        if self._known_empty:
            # provably-empty collection (fresh create, nothing upserted yet):
            # every id is an insert — skip the probe job entirely
            existing: set[str] = set()
        else:
            # probe ships ONLY ids: the collection scan reads just the id
            # column (column-pruned), nothing of the batch is recomputed
            existing = {
                r[ID_COL]
                for r in self._df.join(F.broadcast(ids_df), ID_COL, "left_semi")
                .select(ID_COL)
                .collect()
            }
        merged = self._df.join(
            F.broadcast(ids_df), ID_COL, "left_anti"
        ).unionByName(batch_clean, allowMissingColumns=True)
        self._df = merged
        self._known_empty = False
        return {
            "updated": [i for i in batch_ids if i in existing],
            "inserted": [i for i in batch_ids if i not in existing],
        }

    # -- O3: query ----------------------------------------------------------

    def query(
        self,
        query_vector: list[float],
        top_k: int = 10,
        better_than: float | None = None,
        where: Column | str | None = None,
    ) -> DataFrame:
        """The flagship pipeline (src/lib.rs:188-260) as a declarative plan:

        filter(where) → score = dot(vector, normalize(q)) → score >= t →
        ORDER BY score DESC, __id__ LIMIT k  (TakeOrderedAndProject).

        ``where`` may be any Column predicate — the Spark generalization of the
        reference's DataFilter closure (src/lib.rs:112), but optimizable.

        The query is normalized on the driver (O3a, hoisted out of the scan)
        and shipped as ONE folded ``array<double>`` literal (``json_array_lit``),
        so the plan's size and its build time do not grow with the
        dimension.  A null or non-finite component raises ``ValueError``,
        an all-zero vector ``ZeroVectorError``; the norm cannot overflow
        (see ``_finite_rescaled``).
        """
        if len(query_vector) != self.embedding_dim:
            raise DimensionError(
                f"query dim {len(query_vector)} != collection dim {self.embedding_dim}"
            )
        v, sumsq = _finite_rescaled(query_vector, "query vector")
        if sumsq == 0:
            raise ZeroVectorError("zero query vector")
        qnorm = sumsq ** 0.5
        q = [x / qnorm for x in v]

        df = self._df
        if where is not None:
            df = df.filter(where)
        score = F.expr(dot_expr(as_double_array(VECTOR_COL), json_array_lit(q)))
        df = df.withColumn(METRICS_COL, score)
        if better_than is not None:
            df = df.filter(F.col(METRICS_COL) >= float(better_than))
        return df.orderBy(F.col(METRICS_COL).desc(), F.col(ID_COL).asc()).limit(top_k)

    def query_batch(
        self,
        queries: DataFrame,
        top_k: int = 10,
        better_than: float | None = None,
        where: Column | str | None = None,
    ) -> DataFrame:
        """Top-k for EACH row of a query DataFrame (``__id__``, ``vector``)
        in one distributed plan — the scale-out generalization the reference
        lacks (its query() is one vector per call, src/lib.rs:188-260; N
        calls = N full scans; here N queries share ONE corpus scan).

        The query block is collected once and guarded on the driver, first
        offender in row order: ``DimensionError`` for a wrong dimension, ``ZeroVectorError`` for a zero norm, ``ValueError`` for
        a null or non-finite component.  It is then shipped back as an
        Arrow local relation, broadcast, and unit-normalized JVM-side
        (``normalize_ml``, the ingest normalizer); ranking is a per-query-id
        window, so the shuffle carries only scored pairs.
        Returns (query_id, __id__, metadata..., __metrics__, rank)."""
        from pyspark.sql.window import Window

        from nano_vectordb_rs_spark.operators.fastknn import normalize_ml

        block = queries.select(ID_COL, VECTOR_COL)
        ids, vecs = [], []
        for row in block.collect():
            qid, vec = row[ID_COL], row[VECTOR_COL]
            if vec is None or len(vec) != self.embedding_dim:
                raise DimensionError(
                    f"vector for id={qid!r} has dim {None if vec is None else len(vec)}, "
                    f"expected {self.embedding_dim}"
                )
            v, sumsq = _finite_rescaled(vec, f"vector for id={qid!r}")
            if sumsq == 0:
                raise ZeroVectorError(f"zero/invalid-norm vector for id={qid!r}")
            ids.append(qid)
            vecs.append(v)
        qnorm = normalize_ml(
            _local_relation(self.spark, block.schema, [ids, vecs]), VECTOR_COL
        ).select(
            F.col(ID_COL).alias("__query_id__"),
            F.col(VECTOR_COL).alias("__query_vec__"),
        )
        df = self._df
        if where is not None:
            df = df.filter(where)
        score = F.expr(
            dot_expr(as_double_array(VECTOR_COL), as_double_array("__query_vec__"))
        )
        scored = df.join(F.broadcast(qnorm)).withColumn(METRICS_COL, score)
        if better_than is not None:
            scored = scored.filter(F.col(METRICS_COL) >= float(better_than))
        w = Window.partitionBy("__query_id__").orderBy(
            F.col(METRICS_COL).desc(), F.col(ID_COL).asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .drop("__query_vec__")
            .orderBy("__query_id__", "rank")
        )

    # -- O4/O5: get / delete ------------------------------------------------

    def get(self, ids: list[str], ordered: bool = False) -> DataFrame:
        """Point lookup; missing ids silently dropped (src/lib.rs:263-270).

        ``ordered=True`` returns rows in requested-id order, matching the
        reference's sequential lookup loop — a broadcast inner join tagged
        with the request position, so still a single scan, no shuffle.
        The requested ids travel as an Arrow local relation."""
        ids = [str(i) for i in ids]
        if ordered:
            ids_df = _local_relation(
                self.spark,
                T.StructType(
                    [
                        T.StructField(ID_COL, T.StringType(), True),
                        T.StructField("__pos__", T.IntegerType(), True),
                    ]
                ),
                [ids, list(range(len(ids)))],
            )
            return (
                self._df.join(F.broadcast(ids_df), ID_COL)
                .orderBy("__pos__")
                .drop("__pos__")
            )
        ids_df = _id_relation(self.spark, ids)
        return self._df.join(F.broadcast(ids_df), ID_COL, "left_semi")

    def delete(self, ids: list[str]) -> None:
        """Anti-join removal (src/lib.rs:273-286); cannot desynchronize
        anything because the vector column is canonical (fixes quirk Q1)."""
        ids_df = _id_relation(self.spark, [str(i) for i in ids])
        self._df = self._df.join(F.broadcast(ids_df), ID_COL, "left_anti")

    # -- O6: save -----------------------------------------------------------

    @staticmethod
    def _recover_interrupted_save(path: str) -> None:
        """Replay the tail of a save() swap that crashed mid-flight (called
        from open() AND from save() itself, before either touches the
        dirs).  save() only starts its rename-aside swap AFTER the staged
        dir is complete (parquet ``_SUCCESS`` committed AND sidecar
        written — both are required below, so a first-save crash between
        the parquet commit and the sidecar write is correctly treated as
        "the save never happened" rather than promoted minus half its
        payload), so if the live dir is missing:

        * a COMPLETE ``.staging`` dir means the crash hit between the two
          renames — finish the swap by promoting it (and drop the aside
          copy, whose content it supersedes);
        * otherwise a ``.old`` aside copy means the staged data never
          finished — roll the aside copy back into place.

        Without this, a crash in that window would leave open() silently
        creating an EMPTY collection while the real data sat in dirs it
        never looks at (the pre-r09 data-loss hole)."""
        if os.path.exists(path):
            return
        staged, old = path + ".staging", path + ".old"
        if (
            os.path.isdir(staged)
            and os.path.exists(os.path.join(staged, "_SUCCESS"))
            and os.path.exists(os.path.join(staged, _SIDECAR))
        ):
            os.rename(staged, path)
            if os.path.isdir(old):
                shutil.rmtree(old)
        elif os.path.isdir(old):
            os.rename(old, path)
            shutil.rmtree(staged, ignore_errors=True)

    def _file_width(self) -> int:
        """``file_width`` of the optimizer's size estimate of ``_df`` (no
        job). When a leaf of the plan has no size (an RDD of driver rows
        gets ``spark.sql.defaultSizeInBytes``, 2**63 - 1, which operators
        above it scale but never make real), the collection counts as one
        ``FILE_BYTES`` per core."""
        cores = self.spark.sparkContext.defaultParallelism
        plan = self._df._jdf.queryExecution().optimizedPlan()
        unknown = self.spark._jsparkSession.sessionState().conf().defaultSizeInBytes()
        leaves = plan.collectLeaves()
        if any(
            _size_in_bytes(leaves.apply(i)) >= unknown for i in range(leaves.size())
        ):
            return file_width(cores * FILE_BYTES, cores)
        return file_width(_size_in_bytes(plan), cores)

    def _write(self, target: str, width: int | None = None) -> None:
        """The one collection writer (``save``, ``save_snapshot``,
        ``compact``): ``_df`` hash-partitioned on ``__id__`` into ``width``
        Parquet files, by default ``_file_width()``."""
        width = width or self._file_width()
        self._df.repartition(width, ID_COL).write.mode("overwrite").parquet(target)

    def save(self, path: str | None = None) -> None:
        """Persist via a crash-safe rename-aside swap: stage the full
        rewrite (parquet + sidecar) beside the target, move the live dir
        aside, promote the staged dir, drop the aside copy.  Parquet cannot
        overwrite a location it is still reading from, hence the staging;
        the rename-aside (rather than rmtree-then-rename) means NO crash
        window loses committed data — every intermediate state is replayed
        by ``_recover_interrupted_save`` on the next open() OR on a retried
        save() (the replay below).  A retry on the SAME handle after a
        mid-swap crash first restores the target dir; its own write may
        then still fail because the handle's lazy plan can reference
        renamed-away files — reopen to continue — but the store on disk
        stays whole either way.

        Layout: whatever partitioning ``_df`` carries (one giant partition
        for a single-row-group store plus small upsert batches) is replaced
        by ``_write``'s: about one file per 512 KB of collection (one file
        below 1 MB), at most one per core (128 MB files past that, see
        ``file_width``), rows hash-partitioned on ``__id__``. Each file is
        one scan task, so every later ``query``, ``query_batch`` and ``get``
        scores on all cores, with the same results (ties break on
        ``__id__``; scores are per row). It costs one shuffle of the
        collection per save."""
        self._save(path, None)

    def _save(self, path: str | None, width: int | None) -> None:
        """``save`` writing ``width`` files (``None``: ``_write``'s default)."""
        path = os.path.abspath(path) if path else self.path
        if not path:
            raise ValueError("no storage path configured")
        staged = path + ".staging"
        old = path + ".old"
        # replay any interrupted PRIOR swap of this target before touching
        # its dirs: without this, a retry after a crash between the two
        # renames would rmtree the .old aside copy — the only committed
        # copy — and then fail its own staged write (whose input files
        # lived under the renamed-away dir), bricking the store
        self._recover_interrupted_save(path)
        if os.path.isdir(old) and os.path.exists(path):
            # remnant of a crash after a completed promote: the live dir
            # exists, so the aside copy is superseded (and would block the
            # rename-aside below)
            shutil.rmtree(old)
        self._write(staged, width)
        with open(os.path.join(staged, _SIDECAR), "w") as f:
            json.dump(self._additional, f)
        if os.path.exists(path):
            os.rename(path, old)
        os.rename(staged, path)
        if os.path.isdir(old):
            shutil.rmtree(old)
        self.path = path
        self._df = self.spark.read.parquet(path)
        self._release_batch_caches()

    def _release_batch_caches(self) -> None:
        """Unpersist upsert's batch caches once ``_df`` reads Parquet again
        and no longer needs them."""
        for cached in self._batch_caches:
            cached.unpersist()
        self._batch_caches.clear()

    def compact(self, target_rows_per_file: int = 500_000) -> int:
        """Rewrite the collection into ``ceil(count / target)`` parquet files
        and save. The streaming/batch upsert path accretes one file set per
        micro-batch (the classic small-files problem); at scale thousands of
        tiny files dominate scan planning time. No analogue in the reference
        (its whole store is one JSON file, src/lib.rs:289-293).

        Returns that file count. It is ``save``'s writer with a row-derived
        width instead of the size-derived one: rows hash-partitioned on
        ``__id__``, one shuffle. A hash partition left empty writes no file,
        so a handful of rows can land in fewer files than returned."""
        n = self.count()
        n_files = max(1, -(-n // max(1, target_rows_per_file)))
        self._save(None, n_files)
        return n_files

    # -- snapshots (time travel) ---------------------------------------------
    # No analogue in the reference (save() is a destructive overwrite,
    # src/lib.rs:289-293); this is the lakehouse extension of O6: each
    # snapshot is an immutable versioned copy of the store plus its sidecar,
    # published atomically (staged write → rename), with a manifest listing
    # live versions. Snapshots live BESIDE the data dir (<path>.snapshots/)
    # because save()'s staged swap rmtree-replaces <path> itself.
    #
    # Scale note: this materializes a full copy per version because save()'s
    # contract is a full rewrite; a production variant over immutable data
    # files records file REFERENCES in the manifest instead (the
    # Iceberg/Delta model) so a snapshot is O(manifest), not O(data). The
    # read path here is already that shape — open_snapshot just opens a
    # directory — so swapping the write path later changes no consumer.
    #
    # Durability caveats, stated rather than hidden: the atomic-publish
    # guarantee rides on os.rename, which is atomic on a POSIX filesystem
    # but NOT on object stores (S3 "rename" is copy+delete) — there, the
    # manifest-pointer variant above is the correct design, with the
    # manifest swap as a single small PUT. Writers are single-process by
    # contract (like the reference's &mut self API): two handles snapshotting
    # the same store concurrently can interleave manifest versions.
    #
    # Crash-safety across the WHOLE lifecycle (r09): save() uses a
    # rename-aside swap whose every window is replayed by
    # _recover_interrupted_save on the next open(); save_snapshot()
    # publishes with a single rename and versions past crash-orphaned vN
    # dirs; delete_snapshot() drops the manifest entry before the files, so
    # a crash mid-retention leaves an unreferenced dir (garbage, never a
    # dangling live version); expire_snapshots() sweeps oldest-first so an
    # interrupted sweep leaves a contiguous recent tail.

    def _snapshot_root(self) -> str:
        if not self.path:
            raise ValueError("no storage path configured")
        return self.path + ".snapshots"

    def snapshots(self) -> list[int]:
        """Live snapshot versions, ascending (empty if none ever taken)."""
        manifest = os.path.join(self._snapshot_root(), "manifest.json")
        if not os.path.exists(manifest):
            return []
        with open(manifest) as f:
            return sorted(json.load(f)["versions"])

    def save_snapshot(self) -> int:
        """Persist the current state as the next immutable version and
        return its number. The data dir and any prior snapshot are
        untouched; a crash mid-write leaves only an unpublished .staging
        dir (the manifest is renamed into place last). Written by ``save``'s
        writer, so the version, and this handle reading it afterwards, get
        the same core-balanced, ``__id__``-hashed layout."""
        root = self._snapshot_root()
        os.makedirs(root, exist_ok=True)
        versions = self.snapshots()
        # next version = max(manifest, v* dirs on disk) + 1: a crash between
        # the data-dir rename and the manifest rename leaves an orphan vN dir
        # the manifest never learned about; recomputing N from the manifest
        # alone would collide with it (os.rename onto an existing dir fails)
        # and wedge snapshotting until manual cleanup. Scanning the disk too
        # makes the orphan inert — it is simply skipped over.
        on_disk = [
            int(d[1:])
            for d in os.listdir(root)
            if d.startswith("v") and d[1:].isdigit()
        ]
        v = max(versions + on_disk, default=0) + 1
        target = os.path.join(root, f"v{v}")
        staged = target + ".staging"
        self._write(staged)
        with open(os.path.join(staged, _SIDECAR), "w") as f:
            json.dump(self._additional, f)
        os.rename(staged, target)
        # same lineage collapse save() does: later mutations read the just-
        # written immutable files instead of recomputing the whole merge
        # plan. Safe because snapshots are never deleted or overwritten —
        # a future retention API must re-point readers before reclaiming.
        self._df = self.spark.read.parquet(target)
        self._release_batch_caches()
        manifest = os.path.join(root, "manifest.json")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": versions + [v]}, f)
        os.rename(tmp, manifest)
        return v

    def _versions_joined(
        self, version_a: int, version_b: int
    ) -> tuple[DataFrame, list[str]]:
        """Shared core of ``diff_snapshots`` (id+kind) and ``changes`` (full
        CDC payload): a full-outer join of two snapshot versions on the id
        with a nullable ``change`` classification column.  Returns the
        joined frame (``ID_COL``, ``__a__``/``__b__`` full-row structs,
        ``change``) plus the unioned metadata column list.  'changed'
        compares the full row: exact f32 vector equality plus every
        metadata column (struct <=> struct is null-safe equality over every
        field, vector arrays included — one codegen'd comparison, no
        per-column chain)."""
        a = VectorCollection.open_snapshot(
            self.spark, self.embedding_dim, self.path, version_a
        ).df
        b = VectorCollection.open_snapshot(
            self.spark, self.embedding_dim, self.path, version_b
        ).df
        meta_cols = sorted(
            (set(a.columns) | set(b.columns)) - {ID_COL, VECTOR_COL}
        )

        def side(df: DataFrame, alias: str) -> DataFrame:
            # qcol (literal-name resolution), not F.col(c): a metadata
            # column named with '.' or '`' would misresolve as a path
            return df.select(
                F.col(ID_COL),
                F.struct(
                    F.col(VECTOR_COL),
                    *[
                        (qcol(c) if c in df.columns else F.lit(None)).alias(c)
                        for c in meta_cols
                    ],
                ).alias(alias),
            )

        joined = side(a, "__a__").join(side(b, "__b__"), ID_COL, "full_outer")
        change = (
            F.when(F.col("__a__").isNull(), F.lit("added"))
            .when(F.col("__b__").isNull(), F.lit("removed"))
            .when(~F.col("__a__").eqNullSafe(F.col("__b__")), F.lit("changed"))
        )
        return joined.withColumn("change", change), meta_cols

    def diff_snapshots(self, version_a: int, version_b: int) -> DataFrame:
        """Row-level change summary between two snapshot versions: one row
        per id whose state differs, ``change ∈ {'added','removed',
        'changed'}`` (ids identical in both versions are excluded — the
        diff of a 100-TB store is read for its delta, not its unchanged
        bulk).  Plan shape: a full outer join of two parquet scans on the
        id — the one unavoidable shuffle of a diff; at scale both snapshot
        writes would bucket by id so the join is co-partitioned
        (save_snapshot's files are already hashed on the id, but plain
        Parquet does not tell the reader; a bucketed ``_write`` slots in
        without touching this read path)."""
        joined, _ = self._versions_joined(version_a, version_b)
        return joined.filter(F.col("change").isNotNull()).select(ID_COL, "change")

    def changes(self, version_a: int, version_b: int) -> DataFrame:
        """Full CDC feed between two snapshot versions — ``diff_snapshots``
        with the payload attached (the Delta-CDF / Debezium shape: ship the
        delta, not the table).  One row per differing id with columns
        ``(ID_COL, change, vector, <metadata...>)``; the payload is the
        version_b row for 'added'/'changed' and all-NULL for 'removed'.
        Feeding this frame to ``apply_changes`` on a handle at version_a
        reconstructs version_b exactly — pinned by the cdc_apply_report
        gate query.  Same single full-outer-join plan as diff_snapshots."""
        joined, meta_cols = self._versions_joined(version_a, version_b)
        # struct indexing (col("__b__")[c]), not a dotted f-string path:
        # upsert accepts arbitrary metadata column names, and a name
        # containing '.' or '`' would misresolve as a nested path
        b = F.col("__b__")
        return joined.filter(F.col("change").isNotNull()).select(
            ID_COL,
            "change",
            b[VECTOR_COL].alias(VECTOR_COL),
            *[b[c].alias(c) for c in meta_cols],
        )

    def apply_changes(
        self, feed: DataFrame, validate_unique_ids: bool = True
    ) -> None:
        """Replay a ``changes()`` feed onto the current state — the
        consumer half of CDC: drop every 'removed' id, full-row-replace
        every 'changed' id, insert every 'added' id.  A handle opened at
        version_a becomes exactly version_b after applying
        ``changes(version_a, version_b)``.

        This is a PHYSICAL replay: payload bytes are applied verbatim — no
        re-normalization (the feed's vectors were already normalized at
        their original ingest) and no dim re-validation, so replayed
        vectors stay bit-identical to the source version.  Precondition:
        one row per id (``changes()`` guarantees it by construction).  A
        hand-built feed with an unknown or NULL ``change`` kind, or — with
        ``validate_unique_ids`` (default) — a duplicate id, fails at
        evaluation time via ``raise_error`` (lazy, like the rest of the
        plan): without the kind guard an unknown row would silently act as
        a delete (its id anti-joins away, NULL never matches the upsert
        filter), and without the id guard a duplicate feed id would insert
        duplicate rows, breaking the per-id invariant every other mutator
        (upsert/delete) preserves.  The id guard is a count window keyed
        on the id — the same key the anti join shuffles on, so a shuffled
        feed reuses the exchange; feeds that are one-row-per-id by
        construction (``changes()`` output on a hot path) can pass
        ``validate_unique_ids=False`` to let a small feed broadcast
        without the window shuffle.  Plan: one anti join on the id (drop
        every touched id) + a union of the added/changed payload — both
        partition on the id key; a small nightly feed's anti join
        broadcasts under AQE, a full-corpus feed shuffles like any merge.
        Lazy like delete()/upsert(): nothing persists until save()."""
        payload_cols = [c for c in feed.columns if c != "change"]
        # validated kind column: computed (not a raw parquet column), so the
        # filter below cannot be pushed past it — every feed row's kind is
        # checked on the upsert branch's scan
        kind = F.when(
            F.col("change").isin("added", "changed", "removed"),
            F.col("change"),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("apply_changes: unknown change kind "),
                    F.coalesce(F.col("change"), F.lit("NULL")),
                )
            )
        )
        if validate_unique_ids:
            from pyspark.sql.window import Window

            n_per_id = F.count("*").over(Window.partitionBy(ID_COL))
            kind = F.when(
                n_per_id > 1,
                F.raise_error(
                    F.concat(
                        F.lit("apply_changes: duplicate feed id "),
                        F.col(ID_COL),
                    )
                ),
            ).otherwise(kind)
        upserts = (
            feed.withColumn("change", kind)
            .filter(F.col("change") != F.lit("removed"))
            .select(*[qcol(c) for c in payload_cols])
        )
        self._df = self._df.join(
            feed.select(ID_COL), ID_COL, "left_anti"
        ).unionByName(upserts, allowMissingColumns=True)

    def delete_where(self, predicate: Column | str) -> None:
        """Predicate delete — the set-based generalization of O5's id-list
        delete (src/lib.rs:273-286): remove every row matching an arbitrary
        Column expression or SQL-string predicate (the same union type
        ``query(where=...)`` accepts) without materializing an id list on
        the driver (a GDPR purge or retention sweep at 100 TB cannot
        collect its ids). Same lazy contract as delete(): nothing persists
        until save()."""
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        self._df = self._df.filter(~F.coalesce(predicate, F.lit(False)))

    def delete_snapshot(self, version: int) -> None:
        """Retention: drop snapshot ``version`` — manifest first (so a
        concurrent open_snapshot race sees a missing version, never a
        half-deleted directory advertised as live), then the files. The
        live store is untouched; deleting a version this handle's ``_df``
        currently reads from is refused (save_snapshot re-points readers
        at the newest version's files)."""
        versions = self.snapshots()
        if version not in versions:
            raise ValueError(f"no snapshot v{version} at {self.path}")
        target = os.path.join(self._snapshot_root(), f"v{version}")
        if self._dir_backs(target, self._backing_paths()):
            raise SnapshotInUseError(
                f"snapshot v{version} backs this handle's current state; "
                "save() or save_snapshot() first"
            )
        manifest = os.path.join(self._snapshot_root(), "manifest.json")
        tmp = manifest + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"versions": [v for v in versions if v != version]}, f)
        os.rename(tmp, manifest)
        shutil.rmtree(target, ignore_errors=True)

    def _backing_paths(self) -> set[str]:
        """Absolute, URI-decoded paths of the files backing this handle's
        current plan.  inputFiles() returns URIs (``file:/...``, possibly
        percent-encoded), so both this and ``_dir_backs`` compare ABSOLUTE
        decoded path components — a relative collection path must still
        match the absolute URI paths Spark reports, or a guard silently
        passes and a sweep deletes the files backing the live handle (the
        r08 relative-path data-loss bug)."""
        from urllib.parse import unquote, urlparse

        return {
            os.path.abspath(unquote(urlparse(f).path or f))
            for f in self._df.inputFiles()
        }

    @staticmethod
    def _dir_backs(target: str, backing: set[str]) -> bool:
        """True if any backing file IS ``target`` or lives under it.
        Path-BOUNDARY match, never substring: "v1" is a string prefix of
        "v10"/"v11"/..., so a substring test spuriously refuses deleting
        v1 (the normal oldest-first retention pattern) once the handle
        reads v10+.  The single shared implementation for every
        is-this-dir-live guard (delete_snapshot, vacuum) — this logic has
        had one data-loss bug already; keep it in one place."""
        target_abs = os.path.abspath(target)
        sep = target_abs.rstrip(os.sep) + os.sep
        return any(p == target_abs or p.startswith(sep) for p in backing)

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Retention sweep — drop every snapshot except the newest
        ``keep_last`` (the Iceberg ``expireSnapshots`` / Delta ``VACUUM``
        shape): oldest-first so a crash mid-sweep leaves a contiguous
        recent tail, never a gap. A version the handle currently reads
        (possible when keep_last is 0 and the handle sits on the newest
        snapshot's files) is skipped rather than refused — a sweep is
        best-effort by contract. Returns the versions actually dropped.

        At 100 TB this is the storage-cost control for the full-copy
        snapshot write path: retention × corpus size is the bill, and the
        manifest-pointer variant (module comment above) drops only
        unreferenced files instead."""
        if keep_last < 0:
            raise ValueError("keep_last must be >= 0")
        doomed = self.snapshots()[: -keep_last or None]
        dropped: list[int] = []
        for v in doomed:
            try:
                self.delete_snapshot(v)
            except SnapshotInUseError:
                continue  # backs this handle's current state — skip
            # any OTHER ValueError (e.g. "no snapshot vN" because another
            # handle rewrote the manifest between snapshots() and here)
            # propagates: silently swallowing it would misreport a real
            # inconsistency as a benign skip
            dropped.append(v)
        return dropped

    def vacuum(self) -> dict[str, int]:
        """Reclaim crash droppings the swap/recovery protocol deliberately
        leaves behind — the GC half of crash safety (the Iceberg
        remove-orphan-files / Delta VACUUM shape, applied to this store's
        directory layout; no reference analogue, its store is one file):

          * a stranded ``<path>.staging`` beside the LIVE dir (a save whose
            swap never started — an unswapped save never happened, the live
            dir supersedes it by contract), and likewise an unpublished
            ``vN.staging`` under the snapshot root;
          * a ``<path>.old`` aside copy beside the live dir (crash after
            the promote, before the cleanup);
          * orphan ``vN`` snapshot dirs the manifest never learned about
            (crash between save_snapshot's data rename and manifest
            rename — the version counter already skips them; this reclaims
            the bytes);
          * a half-written ``manifest.json.tmp``.

        REFUSES to run while the live dir is missing: in that state the
        ``.staging``/``.old`` dirs are the recovery INPUTS open() replays,
        not garbage. Any dir whose files back this handle's current state
        is skipped, not an error (same boundary-match guard as
        delete_snapshot) — a GC sweep is best-effort by contract. Returns
        per-kind reclaim counts. At 100 TB this runs as the nightly
        maintenance job beside compact() and expire_snapshots(); all its
        work is O(directory listing), never a data scan."""
        if not self.path:
            raise ValueError("no storage path configured")
        if not os.path.exists(self.path):
            raise ValueError(
                f"live dir missing at {self.path}: refusing to vacuum — "
                "the .staging/.old dirs are recovery inputs until open() "
                "replays them"
            )
        backing = self._backing_paths()
        removed = {"staging": 0, "aside": 0, "orphan_snapshots": 0, "manifest_tmp": 0}
        for kind, d in (
            ("staging", self.path + ".staging"),
            ("aside", self.path + ".old"),
        ):
            if os.path.isdir(d) and not self._dir_backs(d, backing):
                shutil.rmtree(d)
                removed[kind] += 1
        root = self._snapshot_root()
        if os.path.isdir(root):
            live = set(self.snapshots())
            for name in sorted(os.listdir(root)):
                full = os.path.join(root, name)
                if not os.path.isdir(full):
                    if name == "manifest.json.tmp":
                        os.remove(full)
                        removed["manifest_tmp"] += 1
                    continue
                if self._dir_backs(full, backing):
                    continue
                if name.startswith("v") and name[1:].isdigit():
                    if int(name[1:]) not in live:
                        shutil.rmtree(full)
                        removed["orphan_snapshots"] += 1
                elif name.endswith(".staging"):
                    shutil.rmtree(full)
                    removed["staging"] += 1
        return removed

    @classmethod
    def open_snapshot(
        cls, spark: SparkSession, embedding_dim: int, path: str, version: int
    ) -> "VectorCollection":
        """Open snapshot ``version`` of the collection at ``path`` read-only
        in spirit: the returned collection's own path is the snapshot dir,
        so a save() through it cannot clobber the live store."""
        target = os.path.join(os.path.abspath(path) + ".snapshots", f"v{version}")
        if not os.path.isdir(target):
            raise ValueError(f"no snapshot v{version} at {path}")
        return cls.open(spark, embedding_dim, target)

    # -- O7/O8: collection metadata ----------------------------------------

    def additional_data(self) -> dict[str, Any]:
        return dict(self._additional)

    def store_additional_data(self, data: dict[str, Any]) -> None:
        self._additional = dict(data)

    # -- O9/O10/O11: stats --------------------------------------------------

    def count(self) -> int:
        return self._df.count()

    def __len__(self) -> int:
        """``len(collection)`` — the reference's O9 surface verbatim."""
        return self.count()

    def is_empty(self) -> bool:
        return self._df.isEmpty()

    def vector_elems(self) -> int:
        row = self._df.agg(F.sum(F.size(VECTOR_COL)).alias("n")).collect()[0]
        return int(row["n"] or 0)

    # -- escape hatch -------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        return self._df
