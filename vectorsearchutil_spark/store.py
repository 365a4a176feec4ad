"""VectorStore — reference-API-parity facade over a DataFrame store.

Reproduces ``vsu.base.VectorSearchBase``'s surface
(``set_data / query / query_with_info / set_zeroshot_labels /
do_zeroshot / MLP_Classifier / MLP_Regressor / reset_db``,
``vsu/base/VectorSearchBase.py:96-256``) with Spark semantics:

* the store is one DataFrame (optionally persisted) — the
  reference's SQLite ``data`` table, ``vss`` index and pandas mirror
  collapse into it (the vector column IS the index payload; exact kNN
  subsumes ANN on correctness);
* ingest is one batch instead of a per-row transaction loop;
  first-wins dedup on ``target`` matches
  ``VectorSearchBase.py:79-87,124``;
* ids are assigned in ingest order (the reference's
  ``last_insert_rowid`` monotonic ids, :89).

A batch of at most ``_LOCAL_BATCH_MAX_ROWS`` rows is pulled to the
driver once and stays there, as the reference's in-process insert
(``VectorSearchBase.py:78-94,101-133``) does: its dedup, id
assignment and IVF list assignment run in Arrow and numpy, and the
store is not re-planned for them. A manifest store's Parquet parts of
such a batch (its rows, their dedup state, signed in process, and
their IVF list leaves) are written from the driver with pyarrow, one
file each, so an append or an index add runs no Spark write job. What
the store already knows stays on the store object: its max id, and
the manifest and centroids of the IVF index it last used. A reopened
store reads its max id at its first write (a manifest store from its
manifest) and an index's centroids at its first call on that index.
Larger batches run the same steps as distributed plans.

Persistence modes:

* default — in memory (a cached DataFrame), like the reference's
  pandas mirror; nothing survives the session.
* ``table=`` — **bucketed managed table** (bucketBy hash(target)):
  the 100 TB posture. Append writes ONLY the fresh rows
  (``mode("append")`` into the bucketed table — no store rewrite),
  and the insert-if-absent anti-join reads the store
  bucket-aligned: the Exchange lands on the small incoming batch,
  never on the store.
* ``acid_path=`` — **manifest-log table** (sources/manifest.py): the
  file-backed mode, the analog of the reference's one SQLite file
  with a transaction per row. One write is one atomic
  create-exclusive manifest version (the conditional-PUT primitive
  S3/GCS/ABFS provide) listing the appended rows' directory, their
  dedup-state parts and the store's max id, as the reference writes a
  row and its ``vss`` entry in one transaction
  (``VectorSearchBase.py:78``); a crash at any point leaves the
  previous version readable. ``acid_format="delta"`` keeps the rows
  only, in a Delta table.

The IVF index (``build_ann_index``) is a manifest log of its own in
every mode, at ``<acid_path>__ivf`` or the caller's ``index_path=``:
centroids, and lists recorded as ``partitionBy(centroid_id)`` leaf
directories. Each build, add and optimize is one version with the max
indexed id, so a crash leaves the previous index readable and an add
indexes the ids above that max. A replace or reset drops the index.
"""

from __future__ import annotations

import os
from collections.abc import Sequence
from dataclasses import dataclass, replace
from functools import reduce

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from vectorsearchutil_spark.embedders import (
    embed_local,
    embed_udf,
    embedding_dim,
)
from vectorsearchutil_spark.operators.knn import knn
from vectorsearchutil_spark.session import (
    batch_matrix,
    centroid_sq_distances,
    collect_if_small,
    in_list,
    local_frame,
)
from vectorsearchutil_spark.sources.manifest import DATA, ManifestLog

#: Fixed logical schema (reference save_columns, VectorSearchBase.py:21)
SAVE_COLUMNS = ["target", "option1", "option2", "option3", "option4", "option5"]

#: Client batches of at most this many rows are pulled to the driver
#: once, in one Arrow job, and continue as a JVM local relation: every
#: later scan of a client's ``createDataFrame(<list>)`` would otherwise
#: start its own Python worker. Driver memory: at the store's row shape
#: (a text target, five short options, and a vector of a few hundred
#: float32s) 10k rows stay in the tens of MB, and the encoder runs over
#: them in-process as the reference's ``set_data`` does.
_LOCAL_BATCH_MAX_ROWS = 10_000

STORE_SCHEMA = StructType(
    [StructField("id", LongType())]
    + [StructField(c, StringType()) for c in SAVE_COLUMNS]
    + [StructField("vector", ArrayType(FloatType()))]
)


@dataclass
class _HeldIndex:
    """An IVF index as one version of its manifest log records it."""

    log: ManifestLog
    #: that version's manifest: the lists (its data part, as leaf
    #: directories ``tx-…/centroid_id=<c>``), the centroids part and
    #: the max indexed id
    manifest: dict
    #: centroid ids, ascending
    cids: list
    #: float64 (k, dim) centroid matrix, rows in ``cids`` order
    centroids: np.ndarray

    @property
    def max_id(self) -> int:
        """Every store row with an id at most this is in the lists."""
        return self.manifest["max_id"]

    def lists(self, cids: list) -> dict:
        """The record of the lists of ``cids``: their leaf directories
        under the lists' schema."""
        names = {f"centroid_id={c}" for c in cids}
        dirs = [d for d in self.manifest["dirs"] if d.split("/")[-1] in names]
        return {"dirs": dirs, "schema": self.manifest.get("schema")}

    def commit(self, mode: str, lists: dict, max_id: int) -> _HeldIndex:
        """Commit the written ``lists`` (``mode`` onto this version's)
        with this version's centroids as the next version."""
        version = self.log.commit(
            {DATA: (mode, lists),
             "centroids": ("replace", self.manifest["parts"]["centroids"])},
            max_id,
        )
        return replace(self, manifest=self.log.manifest(version))


def _probes(
    cids: list, centroids: np.ndarray, qvec: Sequence[float], n_probe: int
) -> list:
    """The ids of the ``n_probe`` centroids nearest ``qvec`` (``cids``
    ascending, ``centroids`` in their order), ties to the lower id."""
    d2 = centroid_sq_distances(np.asarray([qvec], dtype=np.float64), centroids)
    return [cids[i] for i in np.argsort(d2[0], kind="stable")[:n_probe]]


class VectorStore:
    """Spark-native replacement for ``VectorSearchBase`` subclasses.

    ``embedder`` picks a registered encoder (default: the
    deterministic ``hash64`` stub) instead of subclassing
    (``vsu/text/_classes.py``, ``vsu/image/_classes.py``).
    """

    #: dedup-state table names (see ingest_dedup_check)
    _DEDUP_PARTS = ("meta", "shingles", "buckets")

    def __init__(
        self,
        spark: SparkSession,
        embedder: str = "hash64",
        table: str | None = None,
        acid_path: str | None = None,
        acid_format: str = "manifest",
        num_buckets: int = 16,
        maintain_dedup_state: bool = False,
        dedup_params: dict | None = None,
    ):
        if table is not None and acid_path is not None:
            raise ValueError("pass at most one of table= / acid_path=")
        if acid_format not in ("manifest", "delta"):
            raise ValueError(
                f"acid_format must be 'manifest' or 'delta', not {acid_format!r}"
            )
        if acid_path is not None and acid_format == "delta" and maintain_dedup_state:
            raise ValueError("dedup state needs acid_format='manifest'")
        self.spark = spark
        self.embedder = embedder
        self.vec_size = embedding_dim(embedder)
        self.table = table
        self.num_buckets = num_buckets
        self._df: DataFrame | None = None
        self.zeroshot_labels: list[str] = []
        self._labels_df: DataFrame | None = None
        #: persisted ingest-dedup signatures (VERDICT r2 #5): built
        #: per batch at ingest, appended — never recomputed for rows
        #: already in the store
        self.maintain_dedup_state = maintain_dedup_state
        self.dedup_params = {
            "n": 3, "num_hashes": 16, "band_size": 4,
            **(dedup_params or {}),
        }
        self._dedup_state: dict[str, DataFrame] | None = None
        #: the store's max id, held from the last write or manifest;
        #: None until then (the next append reads it once)
        self._max_id: int | None = None
        #: the manifest version a manifest store holds
        self._version: int | None = None
        #: the IVF index this store last used
        self._ivf: _HeldIndex | None = None
        #: acid_path= — manifest-log table (sources/manifest.py): the
        #: object-store-safe mode. Appends commit only the appended
        #: rows; every commit is an atomic create-exclusive manifest
        #: write (conditional-PUT analog), no directory renames.
        self.acid = None
        if acid_path is not None:
            if acid_format == "delta":
                # production table format, import-guarded — raises a
                # clear ImportError where delta-spark is absent
                from vectorsearchutil_spark.sources.deltalog import (
                    DeltaLog,
                )

                self.acid = DeltaLog(acid_path)
            else:
                self.acid = ManifestLog(acid_path)
            self._open(None)
        elif table is not None and spark.catalog.tableExists(table):
            self._df = spark.table(table)
            if maintain_dedup_state and spark.catalog.tableExists(
                f"{table}_dedup_meta"
            ):
                self._dedup_state = {
                    part: spark.table(f"{table}_dedup_{part}")
                    for part in self._DEDUP_PARTS
                }
        #: the index path of a call without ``index_path=``: the last
        #: one built or added to, at first an acid store's default
        self._ivf_path = None if self.acid is None else self.acid.base + "__ivf"

    def _open(self, version: int | None) -> None:
        """Hold the ``acid_path=`` store at manifest ``version`` (None:
        the latest): its rows, max id and, when kept and listed, dedup
        state. A delta store reads its rows only."""
        if not isinstance(self.acid, ManifestLog):
            self._df = self.acid.read(self.spark)
            return
        if version is None:
            version = self.acid.latest_version()
        self._version = version
        frames, self._max_id = self.acid.snapshot(self.spark, version)
        self._df = frames.get(DATA)
        self._dedup_state = None
        if self.maintain_dedup_state and all(
            p in frames for p in self._DEDUP_PARTS
        ):
            self._dedup_state = {p: frames[p] for p in self._DEDUP_PARTS}

    def _build_dedup_state(self, rows: DataFrame) -> dict[str, DataFrame]:
        from vectorsearchutil_spark.operators.dedup import (
            build_ingest_dedup_state,
        )

        return build_ingest_dedup_state(
            rows.select("id", "target"),
            text_col="target",
            id_col="id",
            **self.dedup_params,
        )

    # -- store state -------------------------------------------------

    @property
    def data(self) -> DataFrame:
        """The queryable store (reference mirror, VectorSearchBase.py:64-72)."""
        if self._df is None:
            return local_frame(self.spark, [], STORE_SCHEMA)
        return self._df

    def count(self) -> int:
        return self.data.count()

    def reset_db(self) -> None:
        """Drop everything (reference reset_db, VectorSearchBase.py:96-99)."""
        for df in self._cached():
            df.unpersist()
        self._df = None
        self._dedup_state = None
        self._max_id = None
        self._drop_index()
        if self.table is not None:
            self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
            for part in self._DEDUP_PARTS:
                self.spark.sql(
                    f"DROP TABLE IF EXISTS {self.table}_dedup_{part}"
                )
        if self.acid is not None:
            self.acid.drop()

    def _drop_index(self) -> None:
        """Drop the IVF index at the store's index path: a replace or a
        reset removes the rows it lists."""
        if self._ivf_path is not None:
            ManifestLog(self._ivf_path).drop()
        self._ivf = None

    def _cached(self) -> list[DataFrame]:
        """The frames an in-memory store holds in the cache: its data
        and its dedup state."""
        if self.acid is not None or self.table is not None:
            return []
        held = [self._df, *(self._dedup_state or {}).values()]
        return [df for df in held if df is not None]

    def _release(self, replaced: list[DataFrame]) -> None:
        """Unpersist the cached frames a write of an in-memory store
        replaced. The frames that replace them are built over them, so
        one job (a no-op write) first fills the new caches from the
        old: dropping ``replaced`` then recomputes nothing, and the
        cache holds one copy of the store and its state."""
        if not replaced:
            return
        held = [df.select(F.lit(1).alias("_")) for df in self._cached()]
        if held:
            reduce(DataFrame.unionAll, held).write.format("noop").mode(
                "overwrite"
            ).save()
        for df in replaced:
            df.unpersist()

    def _persist(self, df: DataFrame) -> DataFrame:
        if self.acid is not None:
            # a delta store's full-replace commit (manifest stores
            # commit through _commit)
            self.acid.write_and_commit(df, mode="replace")
            return self.acid.read(self.spark)
        if self.table is not None:
            (
                df.write.mode("overwrite")
                .bucketBy(self.num_buckets, "target")
                .sortBy("target")
                .saveAsTable(self.table)
            )
            return self.spark.table(self.table)
        return df.cache()

    def compact(self, target_files: int = 1) -> None:
        """Rewrite the ``acid_path=`` store, its data and each
        dedup-state part, into ``target_files`` files each and vacuum
        the directories it replaces.

        Every append commits its own directory per part, so a
        long-lived store fed by many tiny batches fragments; at scale
        small files dominate scan planning cost. The rewrite is one
        replace commit that carries the max id, so a crash
        mid-compaction leaves the previous version readable. No-op for
        the in-memory and table modes (the bucketed layout fixes file
        count by bucket) and for empty stores.
        """
        if self._df is None or self.acid is None:
            return
        version = self.acid.compact(self.spark, target_files)
        self.acid.vacuum()
        self._open(version)

    # -- ingest-dedup state (VERDICT r2 #5) ---------------------------

    def _update_dedup_state(self, batch: DataFrame, replace: bool) -> None:
        """Persist a table or in-memory store's dedup signatures for
        ``batch`` (rows just ingested: the driver path's one-partition
        local frame, or the rows read back from the persisted store so
        lineage is clean). Append mode appends ONLY the batch's state
        rows — the incremental property: signature work per append is
        O(batch), never O(store)."""
        state = self._build_dedup_state(batch)
        mode = "overwrite" if replace else "append"
        if self.table is not None:
            for part in self._DEDUP_PARTS:
                state[part].write.mode(mode).saveAsTable(
                    f"{self.table}_dedup_{part}"
                )
            self._dedup_state = {
                part: self.spark.table(f"{self.table}_dedup_{part}")
                for part in self._DEDUP_PARTS
            }
        else:
            if replace:
                self._dedup_state = {
                    p: state[p].cache() for p in self._DEDUP_PARTS
                }
            else:
                self._dedup_state = {
                    p: self._dedup_state[p].unionByName(state[p]).cache()
                    for p in self._DEDUP_PARTS
                }

    def ingest_dedup_check(
        self,
        incoming: DataFrame,
        threshold: float = 0.8,
        text_col: str = "target",
        id_col: str = "id",
    ) -> DataFrame:
        """Gate a candidate batch against the store BEFORE ingesting:
        per row, 'exact_dup' / 'near_dup' (MinHash-LSH at Jaccard ≥
        threshold) / 'new' + the lowest matching store id.

        With ``maintain_dedup_state`` the store side contributes only
        its persisted signature tables; the store is never re-shingled
        (production posture). Without state it falls back to deriving
        the store side in-job (identical results). A batch of at most
        ``dedup.INGEST_GATE_MAX_ROWS`` rows is pulled once and gated on
        the driver: three jobs (the pull and two column-pruned state
        probes) give a local frame of verdicts. Larger batches run
        batch-driven broadcast joins against the state (see
        ``incremental_ingest_dedup_with_state``)."""
        from vectorsearchutil_spark.operators.dedup import (
            build_ingest_dedup_state,
            incremental_ingest_dedup_with_state,
        )

        inc = incoming.select(
            F.col(id_col).alias("id"), F.col(text_col).alias("target")
        )
        state = self._dedup_state
        if state is None:
            state = build_ingest_dedup_state(
                self.data.select("id", "target"),
                text_col="target",
                id_col="id",
                **self.dedup_params,
            )
        return incremental_ingest_dedup_with_state(
            state,
            inc,
            text_col="target",
            id_col="id",
            threshold=threshold,
            **self.dedup_params,
        )

    # -- ingest (A1/A2) ------------------------------------------------

    def set_data(self, data: DataFrame, append: bool = False) -> None:
        """Replace-or-append ingest (reference set_data,
        VectorSearchBase.py:101-133).

        Semantics pinned to the reference: requires ``target``
        (silent no-op otherwise, :104-105); computes ``vector`` when
        missing; null-fills absent option columns (:119-121); projects
        extra columns away (:124-126); dedup on ``target`` is
        first-wins in ingest order (:124) and append never overwrites
        existing targets (:79-87).

        A batch of at most ``_LOCAL_BATCH_MAX_ROWS`` rows is pulled
        once (one Arrow job) and, like the reference's in-process
        table, deduplicated, encoded and given its ids on the driver.
        An append then pulls only the batch's targets that the store
        already holds (one column-pruned job). A manifest store's
        fresh rows and their dedup state, signed in process, are
        written from the driver, one file each, and committed as one
        version; the other modes write the rows as one local frame and
        sign their state from that frame as one partition. The next id
        comes from the held max id (a manifest store's is in its
        manifest; other reopened stores read it once). Larger batches
        run the same steps as a distributed plan.
        """
        if "target" not in data.columns:
            return
        # ingest-order marker: monotonically_increasing_id is
        # monotone in (partition, position), preserving input order of
        # a driver-created DataFrame — the analog of pandas row order.
        # Assigned before the small-batch pull, so the order is the
        # same on both paths.
        df = data.withColumn("_ord", F.monotonically_increasing_id())
        for c in SAVE_COLUMNS:
            if c not in df.columns:
                df = df.withColumn(c, F.lit(None).cast("string"))
        has_vector = "vector" in df.columns
        df = df.select(
            *SAVE_COLUMNS, *(["vector"] if has_vector else []), "_ord"
        )
        batch = collect_if_small(df, _LOCAL_BATCH_MAX_ROWS)
        if batch is not None:
            batch = self._first_wins_local(batch, has_vector)
        else:
            if not has_vector:
                df = df.withColumn(
                    "vector", embed_udf(self.embedder)(F.col("target"))
                )
            # first-wins dedup within the batch
            win = Window.partitionBy("target").orderBy("_ord")
            df = (
                df.withColumn("_rn", F.row_number().over(win))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            ).select(*SAVE_COLUMNS, "vector", "_ord")
        replaced = self._cached()
        if (
            append
            and isinstance(self.acid, ManifestLog)
            and self.acid.latest_version() != self._version
        ):
            # another writer committed since this store last read its
            # manifest: continue its ids, dedup and state from there
            self._open(None)
        if append and self._df is not None:
            self._append(df, batch)
        else:
            self._replace(df, batch)
        self._release(replaced)

    def _replace(self, df: DataFrame, batch: pa.Table | None) -> None:
        """Replace the store by the deduplicated batch: ``batch`` when
        it was pulled, else the distributed ``df``."""
        if batch is not None:
            rows = self._with_ids(batch, 0)
        else:
            rows = df.withColumn(
                "id", F.row_number().over(Window.orderBy("_ord"))
            ).select("id", *SAVE_COLUMNS, "vector")
        self._drop_index()
        if isinstance(self.acid, ManifestLog):
            self._commit(rows, False, 0)
            return
        df = self._frame(rows)
        self._df = self._persist(df)
        self._max_id = None if batch is None else batch.num_rows
        if self.maintain_dedup_state:
            self._update_dedup_state(
                self.data if batch is None else df, replace=True
            )

    def _append(self, df: DataFrame, batch: pa.Table | None) -> None:
        """Insert-if-absent of the deduplicated batch (reference
        insert_data guard, VectorSearchBase.py:79-87): ``batch`` when
        it was pulled, else the distributed ``df``."""
        existing = self.data
        start = self._top_id()
        if batch is not None:
            batch = self._absent(batch)
            fresh = self._with_ids(batch, start)
        else:
            # No broadcast hint: the store is unbounded — a bucketed
            # store scan is already hash-partitioned by target, so
            # only the incoming batch shuffles, and AQE demotes to
            # broadcast when it measures the store small
            fresh = df.join(existing.select("target"), "target", "left_anti")
            fresh = fresh.withColumn(
                "id", F.row_number().over(Window.orderBy("_ord")) + F.lit(start)
            ).select("id", *SAVE_COLUMNS, "vector")
        if isinstance(self.acid, ManifestLog):
            self._commit(fresh, True, start)
            return
        fresh = self._frame(fresh)
        if self.table is not None:
            # incremental append: write ONLY the fresh rows into the
            # bucketed table — at 100 TB the store is never rewritten
            (
                fresh.write.mode("append")
                .bucketBy(self.num_buckets, "target")
                .sortBy("target")
                .saveAsTable(self.table)
            )
            self._df = self.spark.table(self.table)
        elif self.acid is not None:
            # a delta store's append: only the fresh rows, one commit
            self.acid.write_and_commit(fresh, mode="append")
            self._df = self.acid.read(self.spark)
        else:
            self._df = self._persist(existing.unionByName(fresh))
        self._max_id = None if batch is None else start + batch.num_rows
        if self.maintain_dedup_state:
            # signatures for the APPENDED rows only — O(batch) state
            # work: the pulled rows' local frame, or, read back from
            # the persisted store, the ids above ``start``. A store
            # reopened without its state signs every row once, or
            # the gate would miss the rows it held.
            whole = self._dedup_state is None
            if whole:
                signed = self.data
            elif batch is not None:
                signed = fresh
            else:
                signed = self.data.filter(F.col("id") > F.lit(start))
            self._update_dedup_state(signed, replace=whole)

    def _commit(
        self, rows: DataFrame | pa.Table, append: bool, start: int
    ) -> None:
        """Write a manifest store's ``rows`` (ids ``start + 1`` on: the
        pulled rows as a table, or a distributed plan) and their dedup
        state as uncommitted directories, then commit them and the new
        max id as one version. A table and its state, signed in
        process, are written from the driver. A plan's state and max
        id are read back from its written directory, so it runs once;
        a store opened without state signs every row, replacing it."""
        acid = self.acid
        data = acid.write(DATA, rows)
        if isinstance(rows, pa.Table):
            max_id = start + rows.num_rows
        else:
            rows = acid.read_part(self.spark, data, DATA)
            top = rows.agg(F.max("id")).first()[0]
            max_id = start if top is None else top
        changes = {DATA: ("append" if append else "replace", data)}
        if self.maintain_dedup_state:
            resign = append and self._dedup_state is None
            state = self._signed_state(rows, resign)
            mode = "append" if append and not resign else "replace"
            for part in self._DEDUP_PARTS:
                changes[part] = (mode, acid.write(part, state[part]))
        self._open(acid.commit(changes, max_id))

    def _signed_state(
        self, rows: DataFrame | pa.Table, whole: bool
    ) -> dict[str, DataFrame | pa.Table]:
        """The dedup state of ``rows``, and of every stored row when
        ``whole``: a pulled table alone is signed in process, as typed
        tables; anything else runs the state plan."""
        from vectorsearchutil_spark.operators.dedup import _sign_rows

        if isinstance(rows, pa.Table) and not whole:
            return _sign_rows(rows, "target", "id", **self.dedup_params)
        signed = self._frame(rows).select("id", "target")
        if whole:
            signed = self.data.select("id", "target").unionByName(signed)
        return self._build_dedup_state(signed)

    def _frame(self, rows: DataFrame | pa.Table) -> DataFrame:
        """``rows`` as a frame: a pulled table as one local frame of
        one partition, like the distributed path's window, so a write
        of it is one file."""
        if isinstance(rows, pa.Table):
            return local_frame(self.spark, rows).coalesce(1)
        return rows

    def _top_id(self) -> int:
        """The store's max id: held, or read once (one job)."""
        if self._max_id is None:
            self._max_id = self.data.agg(
                F.coalesce(F.max("id"), F.lit(0))
            ).first()[0]
        return self._max_id

    def _absent(self, batch: pa.Table) -> pa.Table:
        """The rows of the pulled ``batch`` whose target the store does
        not hold. One column-pruned job pulls the store's targets that
        occur in the batch (one ``in_list``, no semi-join against a
        local relation, which would run a second job to broadcast it);
        a NULL target never matches, as in the distributed anti-join."""
        probe = pc.drop_null(pc.unique(batch.column("target"))).to_pylist()
        if not probe:
            return batch
        cond = in_list("target", probe)
        held = self.data.select("target").filter(cond).toArrow()
        return batch.filter(
            pc.invert(pc.is_in(batch.column("target"), held.column("target")))
        )

    def _with_ids(self, rows: pa.Table, start: int) -> pa.Table:
        """The pulled ``rows`` (in ingest order) with ids ``start + 1``
        onward: a non-NULL int while they fit, as the distributed
        path's ``row_number()`` gives."""
        n = rows.num_rows
        id_type = pa.int32() if start + n < 2**31 else pa.int64()
        return rows.append_column(
            pa.field("id", id_type, nullable=False),
            pa.array(range(start + 1, start + n + 1), id_type),
        ).select(["id", *SAVE_COLUMNS, "vector"])

    def _first_wins_local(self, batch: pa.Table, has_vector: bool) -> pa.Table:
        """The pulled ``batch`` deduplicated on ``target``, first wins
        in ingest (``_ord``) order — in-process, like the reference's
        ``drop_duplicates`` (VectorSearchBase.py:124) — with vectors
        encoded on the driver when the caller gave none."""
        batch = batch.sort_by("_ord")
        seen: set = set()
        keep = []
        for i, target in enumerate(batch.column("target").to_pylist()):
            if target not in seen:
                seen.add(target)
                keep.append(i)
        batch = batch.take(pa.array(keep, pa.int64()))
        if not has_vector:
            vecs = embed_local(self.embedder, batch.column("target").to_pylist())
            batch = batch.append_column(
                "vector", pa.array(vecs, pa.list_(pa.float32()))
            )
        return batch

    # -- queries (A5/A6/A7) -------------------------------------------

    def query(self, q: str | Sequence[float], k: int = 5) -> DataFrame | None:
        """kNN by text (embedded) or by raw vector.

        Returns None on an empty store (reference guard,
        VectorSearchBase.py:209-210): a held max id above 0 says the
        store holds rows, otherwise one ``isEmpty()`` job asks. Result:
        id, save_columns, distance — ascending L2, ties by id.
        """
        if self._df is None or (
            not self._max_id and self.data.isEmpty()
        ):
            return None
        qvec = self._query_vector(q)
        out = knn(self.data, qvec, k=k, vector_col="vector", id_col="id")
        return out.select("id", *SAVE_COLUMNS, "distance")

    def _query_vector(self, q: str | Sequence[float]) -> list[float]:
        """The query as a vector. Text is encoded in-process on the
        driver, as the reference does before it searches
        (VectorSearchBase.py:172-210): no Spark job, and the vector is
        bit-identical to what ingest's UDF stores."""
        if isinstance(q, str):
            return embed_local(self.embedder, [q])[0]
        return [float(x) for x in q]

    def query_with_info(self, q: str | Sequence[float], k: int = 5) -> DataFrame | None:
        """A7: like query() but drops all-null columns
        (VectorSearchBase.py:215-217). Data-dependent projection —
        one aggregate pass over the k-row result, then a select."""
        res = self.query(q, k)
        if res is None:
            return None
        from vectorsearchutil_spark.operators.projection import (
            prune_all_null_columns,
        )

        return prune_all_null_columns(res)

    # -- ANN index (reference vss/faiss analog at scale) ---------------

    def build_ann_index(
        self, n_lists: int = 8, index_path: str | None = None
    ) -> None:
        """Materialize an IVF index over the store's vectors — the
        scale analog of the reference's faiss-backed ``vss`` table
        (vsu/base/VectorSearchBase.py:54-59). Exact kNN (``query``)
        subsumes ANN on correctness; this is the sublinear-read path.

        k-means centroids (size-gated driver/distributed strategy)
        define the coarse lists; the corpus is written partitioned by
        list id, and the index manifest lists each list's leaf
        directories, so a probe reads n_probe of the n_lists lists. The
        lists and the k-row centroid table commit as one replace
        version with the max indexed id; the directories it replaces
        are vacuumed. Rebuild after large appends (faiss retraining)."""
        from vectorsearchutil_spark.operators.clustering import kmeans
        from vectorsearchutil_spark.operators.similarity import (
            build_ivf_index,
        )

        if self._df is None:
            return
        if index_path is None:
            if self.acid is None:
                raise ValueError(
                    "index_path= required for stores without acid_path="
                )
            index_path = self.acid.base + "__ivf"
        _, centroids = kmeans(
            self.data, k=n_lists, vector_col="vector", id_col="id",
            dim=self.vec_size,
        )
        cents = centroids.select(
            F.col("cid").alias("centroid_id"),
            F.col("cv").alias("centroid_vec"),
        )
        log = ManifestLog(index_path)
        lists = log.write_partitioned(
            DATA,
            build_ivf_index(self.data, cents, vector_col="vector"),
            "centroid_id",
        )
        version = log.commit(
            {DATA: ("replace", lists),
             "centroids": ("replace", log.write("centroids", cents))},
            self._top_id(),
        )
        log.vacuum()
        self._ivf_path = index_path
        # kmeans returns its centroids as a local relation, so this
        # collect runs no job
        self._hold(log, log.manifest(version), cents.collect())

    def _hold(self, log: ManifestLog, manifest: dict, cents: list) -> _HeldIndex:
        """Hold the index version ``manifest`` of ``log`` with its
        (centroid_id, centroid_vec) rows ``cents``."""
        rows = sorted((r[0], list(r[1])) for r in cents)
        cids, vecs = [c for c, _ in rows], [v for _, v in rows]
        self._ivf = _HeldIndex(log, manifest, cids, np.array(vecs, np.float64))
        return self._ivf

    def _index(self, index_path: str | None) -> _HeldIndex | None:
        """The index at ``index_path`` as its latest version records
        it, held by the store; None without a path, rows or committed
        version. The centroids are pulled (one job) only when the store
        holds another index or another version of this one."""
        if index_path is None or self._df is None:
            return None
        log = ManifestLog(index_path)
        version = log.latest_version()
        if version is None:
            return None
        held = self._ivf
        if (
            held is not None
            and held.log.base == log.base
            and held.manifest["version"] == version
        ):
            return held
        m = log.manifest(version)
        cents = log.read_part(self.spark, m["parts"]["centroids"], "centroids")
        return self._hold(log, m, cents.collect())

    def add_to_ann_index(self, index_path: str | None = None) -> int:
        """Incremental IVF maintenance: assign ONLY the store rows not
        yet in the index to the EXISTING centroids and append them to
        their lists — the faiss ``index.add()`` posture after
        ``set_data(append)``, without re-reading or re-writing the
        indexed corpus. Centroids are NOT retrained (quantization
        drifts only if the append distribution does; rebuild with
        :meth:`build_ann_index` then, exactly like faiss re-training).

        The unindexed rows are the ids above the max indexed id of the
        index's latest version. Up to ``_LOCAL_BATCH_MAX_ROWS`` of them
        are pulled in one job, assigned on the driver against the held
        centroid matrix and written from the driver, one file per
        touched list; more go through ``build_ivf_index`` and are
        counted from the written leaves. The leaves and the new max id
        commit as one append version, so an add cut short leaves the
        index as it was and the next add indexes the same rows.
        Idempotent. Two stores adding to one index at once may both
        list the same rows. Returns the number of rows added."""
        index_path = index_path or self._ivf_path
        held = self._index(index_path)
        if held is None:
            return 0
        fresh = self.data.filter(F.col("id") > F.lit(held.max_id))
        rows = collect_if_small(fresh, _LOCAL_BATCH_MAX_ROWS)
        if rows is None:
            from vectorsearchutil_spark.operators.similarity import (
                build_ivf_index,
            )

            cents = held.log.read_part(
                self.spark, held.manifest["parts"]["centroids"], "centroids"
            )
            indexed = build_ivf_index(fresh, cents, vector_col="vector")
        elif rows.num_rows:
            indexed = self._assign_local(held, rows)
        else:
            return 0
        lists = held.log.write_partitioned(DATA, indexed, "centroid_id")
        if rows is None:
            written = held.log.read_part(self.spark, lists, DATA)
            n, top = (0, None) if written is None else written.agg(
                F.count("*"), F.max("id")
            ).first()
        else:
            n, top = rows.num_rows, pc.max(rows.column("id")).as_py()
        if n:
            self._ivf = held.commit("append", lists, top)
        self._ivf_path = index_path
        return n

    def _assign_local(self, held: _HeldIndex, rows: pa.Table) -> pa.Table:
        """The pulled unindexed ``rows`` with the id of their nearest
        held centroid (ties to the lower id; a NULL vector takes the
        lowest, as ``build_ivf_index`` does)."""
        d2 = centroid_sq_distances(
            batch_matrix(
                rows.column("vector").to_pandas(), held.centroids.shape[1]
            ),
            held.centroids,
        )
        # the partition value only names the list's directory
        cids = pa.array([held.cids[i] for i in np.argmin(d2, axis=1)])
        return rows.append_column("centroid_id", cids)

    def optimize_ann_index(
        self,
        index_path: str | None = None,
        target_files_per_list: int = 1,
    ) -> int:
        """Compact the IVF lists after incremental appends — every
        :meth:`add_to_ann_index` call lands one parquet file per
        touched list, and small files are THE operational tax of
        incremental ingestion (footer reads and task scheduling start
        to dominate the probe scans). Rewrites the lists coalesced to
        ``target_files_per_list`` file(s) per list, commits them with
        the same centroids and max indexed id as one replace version
        (a rewrite cut short leaves the previous version readable),
        then vacuums the directories it replaced. Returns the number
        of data files after compaction."""
        import glob

        held = self._index(index_path or self._ivf_path)
        if held is None:
            return 0
        frames = [
            df.withColumn("centroid_id", F.lit(c))
            for c in held.cids
            if (df := held.log.read_part(self.spark, held.lists([c]), DATA))
            is not None
        ]
        if not frames:
            return 0
        # repartition by key only (a total partition count of 1
        # funnels the rewrite through one task); files per list come
        # from maxRecordsPerFile sized to the largest list, which
        # holds per output file however AQE coalesces tasks, so that
        # list lands in exactly `target_files_per_list` files
        lists_df = reduce(DataFrame.unionByName, frames).repartition(
            "centroid_id"
        )
        options = {}
        n = max(1, int(target_files_per_list))
        if n > 1:
            biggest = lists_df.groupBy("centroid_id").count().agg(
                F.max("count")
            ).first()[0]
            options["maxRecordsPerFile"] = -(-biggest // n)
        lists = held.log.write_partitioned(
            DATA, lists_df, "centroid_id", **options
        )
        self._ivf = held.commit("replace", lists, held.max_id)
        held.log.vacuum()
        return sum(
            len(glob.glob(os.path.join(held.log.data_dir, d, "*.parquet")))
            for d in lists["dirs"]
        )

    def query_ann(
        self,
        q: str | Sequence[float],
        k: int = 5,
        n_probe: int = 2,
        index_path: str | None = None,
    ) -> DataFrame | None:
        """Approximate kNN through the materialized IVF index: pick
        the n_probe nearest lists driver-side from the held centroid
        matrix, ties to the lower centroid id, read ONLY the leaf
        directories the index manifest lists for them (test-asserted),
        exact distance + top-k inside them. Same result contract as
        ``query`` (ascending L2, ties by id); recall < 1 by design.
        The lists are read under the schema the manifest records, so
        building the result runs no job, except the centroid pull when
        the store does not hold the index's latest version."""
        held = self._index(index_path or self._ivf_path)
        if held is None:
            return None
        qvec = self._query_vector(q)
        probed = held.log.read_part(
            self.spark,
            held.lists(_probes(held.cids, held.centroids, qvec, n_probe)),
            DATA,
        )
        if probed is None:  # only empty lists probed
            probed = self.data.limit(0)
        out = knn(probed, qvec, k=k, vector_col="vector", id_col="id")
        return out.select("id", *SAVE_COLUMNS, "distance")

    # -- zero-shot (A8/A9/A19) ----------------------------------------

    def set_zeroshot_labels(self, labels: Sequence[str]) -> None:
        """A19: register the label dimension table
        (VectorSearchBase.py:135-139). Labels embed through the
        SUB-modality encoder (reference A4/A13 — CLIP's labels go
        through its text tower, not the image tower)."""
        from vectorsearchutil_spark.embedders import embed_sub_udf

        self.zeroshot_labels = list(labels)
        rows = [(i, lab) for i, lab in enumerate(labels)]
        ldf = local_frame(self.spark, rows, "label_idx long, label string")
        ldf = ldf.withColumn(
            "label_vec", embed_sub_udf(self.embedder)(F.col("label"))
        )
        if self._labels_df is not None:
            self._labels_df.unpersist()
        self._labels_df = ldf.cache()

    def do_zeroshot(self, variant: str = "e5") -> DataFrame | None:
        """A8/A9: classify every stored row against the label set.

        Returns store columns + per-label scores + ``zeroshot_pred``.
        ``variant='e5'`` = cosine×100 (vsu/text/_classes.py:29-44);
        ``variant='clip'`` = softmax(100·cos) (vsu/image/_classes.py:21-36).
        Argmax tie-break = lowest label index (:40/:32).
        """
        from vectorsearchutil_spark.embedders import supports_zeroshot

        if not supports_zeroshot(self.embedder):
            # A10: embedders without a label tower disable zero-shot
            # (vsu/image/_classes.py:69-70)
            return None
        if self._labels_df is None or self._df is None:
            return None
        from vectorsearchutil_spark.operators.zeroshot import zeroshot

        return zeroshot(
            self.data,
            self._labels_df,
            vector_col="vector",
            id_col="id",
            softmax=(variant == "clip"),
        )

    # -- ML ops (A15/A16) ----------------------------------------------

    def MLP_Classifier(self, y_label: str, hidden_layer_sizes=(100,)):
        """A15 (VectorSearchBase.py:219-234): sklearn MLP trained on
        the driver (the store's vectors fit — the reference trains
        in-process too), distributed inference via pandas_udf."""
        from vectorsearchutil_spark.operators.mlops import mlp_classifier

        return mlp_classifier(
            self.data, y_col=y_label, vector_col="vector",
            hidden_layer_sizes=hidden_layer_sizes,
        )

    def MLP_Regressor(self, y_label: str, hidden_layer_sizes=(100,)):
        """A16 (VectorSearchBase.py:236-256)."""
        from vectorsearchutil_spark.operators.mlops import mlp_regressor

        return mlp_regressor(
            self.data, y_col=y_label, vector_col="vector",
            hidden_layer_sizes=hidden_layer_sizes,
        )
