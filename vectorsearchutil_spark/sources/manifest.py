"""Manifest-log table: ACID append/replace on plain Parquet with no
extra dependencies — the Delta/Iceberg posture for VectorStore when
those jars are unavailable (VERDICT r2 #6).

Why not a directory rewritten in place and swapped by rename:
``os.rename`` of a directory is atomic on a local filesystem but not on
object stores (S3/GCS rename = copy+delete, non-atomic, and readers can
observe the gap), and every append would rewrite the whole store. This
log borrows the design that Delta Lake built for exactly that problem:

* **data files are immutable** — every transaction writes fresh
  ``<part>/tx-<uuid>/`` directories and never touches existing ones;
  an append writes ONLY the appended rows (no store rewrite, no
  staging double-write). A directory is written by a Spark job, or,
  for a table the driver holds (a small batch, its dedup state, its
  IVF list leaves), by pyarrow on the same filesystem the log writes
  with ``os``. Either way it stays invisible until a commit lists it,
  so a writer that dies mid-file leaves nothing a reader sees;
* **the manifest is the source of truth** — ``_log/v<N>.json`` lists
  the directories visible at version N. Readers resolve the highest
  committed version and read exactly those directories, so a
  half-written transaction (crash before commit) is simply invisible;
* **one commit, many parts** — a table is its ``data`` part plus any
  named parts derived from it (the store's dedup state: ``meta``,
  ``shingles``, ``buckets``), each in its own ``<base>/<part>/``
  directory. One manifest lists the directories of every part and an
  optional ``max_id``, so the parts of one logical write become
  visible together or not at all — Delta's multi-action commit. A
  commit lists exactly the parts it writes: a writer that does not
  write a derived part drops it rather than leave it stale;
* **a partitioned part lists leaf directories** — a
  ``partitionBy`` write is recorded as its leaves
  ``tx-<uuid>/<column>=<value>``. Spark refuses one read of several
  ``partitionBy`` roots (``CONFLICTING_DIRECTORY_STRUCTURES``), while
  leaves of many transactions read together under the recorded
  schema, and a reader that wants some values reads only their
  leaves (the IVF index's lists: a probe reads the probed lists'
  leaves, manifest pruning in place of partition pruning). Vacuum
  keeps or removes a leaf's whole transaction;
* **commits are atomic create-exclusive** — ``O_CREAT|O_EXCL`` of the
  next version file either fully succeeds or fully fails. On object
  stores the same primitive is a conditional PUT
  (``If-None-Match: *``), which S3, GCS and ABFS all support;
  concurrent writers race on the version number and the loser
  retries on the next version (optimistic concurrency);
* **the manifest records each part's schema** — a commit stores the
  written frames' or tables' schemas (the analogue of Delta's
  ``metaData.schemaString``) and reads use them, so a reader infers
  nothing from the parquet footers (schema inference is one Spark job
  per read). An append whose schema differs from its parent's records
  none for that part, and a part without one is read with inference;
* **vacuum** removes directories of any part that no retained
  manifest references.

Known bound: ``latest_version`` lists the log directory, so commit
history grows the listing O(versions); Delta solves this with
periodic checkpoint files. Every append adds one directory to each
part it writes, so a read of a part lists O(appends) directories; past
Spark's parallel-listing threshold (32 paths) that listing is a job of
its own. A partitioned part adds up to one leaf per value and write:
an IVF probe of ``n_probe`` lists after A index adds reads up to
``n_probe * (1 + A)`` leaves, and crosses the threshold at
``n_probe * (1 + A) > 32`` until ``optimize_ann_index`` rewrites the
lists. ``compact()`` rewrites every unpartitioned part into one
directory each, and ``vacuum()`` then removes the directories the
compaction replaced;
a deployment doing thousands of commits should additionally prune old
``v*.json`` (they are only needed for time travel).

Contrast with the reference's per-row SQLite transactions
(``vsu/base/VectorSearchBase.py:78``, a row and its ``vss`` entry in
one transaction): one commit per distributed batch, same atomicity
guarantee, object-store-safe.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

#: the part every table has; its record is the manifest's top level
DATA = "data"

#: commit attempts before a writer gives up on a contended version
_MAX_RETRIES = 20


def _write_file(table: pa.Table, path: str) -> None:
    """``table`` as the one Parquet file of the new directory ``path``,
    typed as a Spark write of its frame is: the Parquet types its Arrow
    types map to, with no Arrow schema kept in the footer. Values are
    plain-encoded, as Spark's writer falls back to when a dictionary
    does not pay: a dictionary of a small batch's mostly distinct ids,
    hashes and vectors made a store's files 18% larger than Spark's
    (500 rows and five 100-row appends with their state and index:
    1.22 MB against 1.04 MB; plain: 1.02 MB)."""
    os.makedirs(path)
    pq.write_table(
        table,
        os.path.join(path, f"part-00000-{uuid.uuid4().hex}.snappy.parquet"),
        compression="snappy",
        use_dictionary=False,
        store_schema=False,
    )


def _read_schema(rows: DataFrame | pa.Table) -> StructType:
    """The schema a read of the written ``rows`` reports."""
    if isinstance(rows, pa.Table):
        return nullable_schema(from_arrow_schema(rows.schema))
    return nullable_schema(rows.schema)


def nullable_schema(schema: StructType) -> StructType:
    """``schema`` with every field, array element and map value
    nullable: what a parquet read reports for a written frame."""
    def loosen(t: dict) -> dict:
        if not isinstance(t, dict):
            return t
        out = dict(t)
        if t["type"] == "struct":
            out["fields"] = [
                {**f, "nullable": True, "type": loosen(f["type"])}
                for f in t["fields"]
            ]
        elif t["type"] == "array":
            out.update(containsNull=True, elementType=loosen(t["elementType"]))
        elif t["type"] == "map":
            out.update(
                valueContainsNull=True,
                keyType=loosen(t["keyType"]),
                valueType=loosen(t["valueType"]),
            )
        return out

    return StructType.fromJson(loosen(schema.jsonValue()))


class ManifestLog:
    """A versioned collection of immutable parquet directories, in one
    or more parts."""

    def __init__(self, base: str):
        self.base = base.rstrip("/")
        self.log_dir = os.path.join(self.base, "_log")
        self.data_dir = os.path.join(self.base, DATA)

    # -- versions ------------------------------------------------------

    def _version_of(self, name: str) -> int | None:
        if name.startswith("v") and name.endswith(".json"):
            try:
                return int(name[1:-5])
            except ValueError:
                return None
        return None

    def latest_version(self) -> int | None:
        """Newest COMMITTED version. A ``v<N>.json`` that exists but
        does not parse (empty / truncated — e.g. a writer crashed
        mid-put under a non-atomic filesystem) is treated as
        uncommitted and skipped, so readers and racing writers never
        crash on another process's in-flight commit."""
        if not os.path.isdir(self.log_dir):
            return None
        versions = [
            v
            for name in os.listdir(self.log_dir)
            if (v := self._version_of(name)) is not None
        ]
        for v in sorted(versions, reverse=True):
            if self._try_manifest(v) is not None:
                return v
        return None

    def _try_manifest(self, version: int) -> dict | None:
        """The manifest at ``version``, or None if absent/unparsable
        (uncommitted)."""
        try:
            with open(
                os.path.join(self.log_dir, f"v{version}.json")
            ) as fh:
                return json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None

    def manifest(self, version: int) -> dict:
        m = self._try_manifest(version)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest v{version} under {self.log_dir}"
            )
        return m

    @staticmethod
    def _parts(manifest: dict) -> dict[str, dict]:
        """Every part ``manifest`` lists: its ``dirs`` and, when
        recorded, its ``schema``."""
        return {DATA: manifest, **manifest.get("parts", {})}

    def dirs(self, version: int | None = None) -> list[str]:
        """Data directories visible at ``version`` (default latest)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        return self.manifest(version)["dirs"]

    # -- transactions --------------------------------------------------

    def write(self, part: str, rows: DataFrame | pa.Table) -> dict:
        """Write ``rows`` as a new directory of ``part``, invisible
        until a commit lists it: a frame in one Spark job, a
        driver-held table as one file. Returns its record: the
        directory and the JSON schema a read of it reports."""
        tx = f"tx-{uuid.uuid4().hex}"
        path = os.path.join(self.base, part, tx)
        if isinstance(rows, pa.Table):
            _write_file(rows, path)
        else:
            rows.write.parquet(path)
        return {"dirs": [tx], "schema": _read_schema(rows).jsonValue()}

    def write_partitioned(
        self, part: str, rows: DataFrame | pa.Table, column: str, **options
    ) -> dict:
        """``write`` partitioned by ``column``, a frame with the writer
        ``options``, a table as one file per value (its leaf named by
        the value's ``str``, as Spark names an integer key's): the
        record lists the write's leaf directories
        ``tx-<uuid>/<column>=<value>``, whose files do not carry the
        column."""
        tx = f"tx-{uuid.uuid4().hex}"
        path = os.path.join(self.base, part, tx)
        if isinstance(rows, pa.Table):
            keys = rows.column(column)
            rest = rows.drop_columns([column])
            for value in pc.unique(keys).to_pylist():
                _write_file(
                    rest.filter(pc.equal(keys, value)),
                    os.path.join(path, f"{column}={value}"),
                )
        else:
            rows.write.options(**options).partitionBy(column).parquet(path)
            rest = rows.drop(column)
        # a table with no rows writes no leaf, nor the directory
        names = os.listdir(path) if os.path.isdir(path) else []
        leaves = sorted(
            f"{tx}/{name}" for name in names if name.startswith(column + "=")
        )
        return {"dirs": leaves, "schema": _read_schema(rest).jsonValue()}

    def commit(
        self,
        changes: dict[str, tuple[str, dict]],
        max_id: int | None,
    ) -> int:
        """Commit written directories as the next version: for each
        part, ``(mode, record)`` with a record ``write`` returned (or a
        part's record from a manifest); ``'append'`` keeps the parent
        version's directories of that part, ``'replace'`` starts
        fresh. The new version lists exactly the parts in ``changes``
        (``data`` among them), less any appended part the parent does
        not list, and records ``max_id`` when it is given.
        Returns the committed version. A crash before the commit
        leaves only unreferenced directories (invisible; vacuum
        removes them)."""
        os.makedirs(self.log_dir, exist_ok=True)
        for _ in range(_MAX_RETRIES):
            parent = self.latest_version()
            # next version = one past ANY occupied version name, even
            # an unparsable one (a legacy crash's empty v<N>.json must
            # not block version N forever); parent is the latest
            # COMMITTED version, so readers skip the garbage entirely
            occupied = [
                v
                for name in os.listdir(self.log_dir)
                if (v := self._version_of(name)) is not None
            ]
            version = max(occupied, default=-1) + 1
            held = {} if parent is None else self._parts(self.manifest(parent))
            listed = {}
            for part, (mode, record) in changes.items():
                if mode == "replace" or parent is None:
                    listed[part] = {"dirs": record["dirs"],
                                    "schema": record.get("schema")}
                elif part in held:
                    old = held[part]
                    listed[part] = {"dirs": [*old["dirs"], *record["dirs"]]}
                    if old.get("schema") == record.get("schema"):
                        listed[part]["schema"] = record["schema"]
                # else a writer that won the race dropped the part, and
                # appending to nothing would list a part that misses
                # the parent's rows: this version drops it too
            entry = {"version": version, "parent": parent,
                     "mode": changes[DATA][0], **listed.pop(DATA)}
            if listed:
                entry["parts"] = listed
            if max_id is not None:
                entry["max_id"] = max_id
            payload = json.dumps(entry)
            path = os.path.join(self.log_dir, f"v{version}.json")
            # Two-step atomic put-if-absent: the payload is fully
            # written + fsynced to a private temp file FIRST, then
            # os.link() publishes it under the version name. link()
            # is atomic and fails with FileExistsError if another
            # writer won — so v<N>.json is either absent or complete;
            # no reader can ever observe a partially-written manifest
            # (the O_CREAT|O_EXCL-then-write scheme made the name
            # visible before the payload existed — ADVICE r3 high).
            tmp = os.path.join(
                self.log_dir, f".tmp-{uuid.uuid4().hex}.json"
            )
            fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            try:
                with os.fdopen(fd, "w") as fh:
                    fh.write(payload)
                    fh.flush()
                    os.fsync(fh.fileno())
                try:
                    os.link(tmp, path)
                except FileExistsError:
                    continue  # lost the race — recompute against new parent
                return version
            finally:
                os.unlink(tmp)
        raise RuntimeError(f"commit contention: {_MAX_RETRIES} losses")

    def write_and_commit(
        self,
        df: DataFrame,
        mode: str = "append",
    ) -> int:
        """Write ``df`` as a new immutable data directory, then commit
        it as the next version. ``mode='append'`` keeps the parent
        version's data directories; ``'replace'`` starts fresh. The
        version lists the data part only. Returns the committed
        version."""
        assert mode in ("append", "replace")
        return self.commit({DATA: (mode, self.write(DATA, df))}, None)

    # -- reads ---------------------------------------------------------

    def read_part(self, spark: SparkSession, record: dict, part: str):
        """The directories of ``part`` that ``record`` lists (a
        manifest's, or one ``write`` returned, committed or not), under
        its schema, or inferred where it has none; None when it lists
        none."""
        if not record["dirs"]:
            return None
        schema = record.get("schema")
        reader = spark.read
        if schema is not None:
            reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(
            *[os.path.join(self.base, part, d) for d in record["dirs"]]
        )

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame | None:
        """The table at ``version`` (default latest; time travel for
        free — old manifests still describe old snapshots). None if no
        version is committed or the latest snapshot is empty."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return None
        return self.read_part(spark, self.manifest(version), DATA)

    def snapshot(
        self, spark: SparkSession, version: int | None
    ) -> tuple[dict[str, DataFrame], int | None]:
        """Every non-empty part at ``version``, read as that one
        manifest lists them, and the max id it records (None when it
        records none, or when ``version`` is None: nothing committed)."""
        if version is None:
            return {}, None
        m = self.manifest(version)
        frames = {
            part: self.read_part(spark, record, part)
            for part, record in self._parts(m).items()
        }
        return (
            {p: df for p, df in frames.items() if df is not None},
            m.get("max_id"),
        )

    # -- maintenance ---------------------------------------------------

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete the directories of every part referenced by NO
        retained manifest (aborted transactions + compacted-away
        history). Retains the newest ``keep_versions`` manifests'
        references."""
        latest = self.latest_version()
        if latest is None:
            return []
        keep: dict[str, set[str]] = {}
        for v in range(max(0, latest - keep_versions + 1), latest + 1):
            m = self._try_manifest(v)
            for part, record in ({} if m is None else self._parts(m)).items():
                # a leaf directory keeps its whole transaction
                keep.setdefault(part, set()).update(
                    d.split("/", 1)[0] for d in record["dirs"]
                )
        removed = []
        for part in os.listdir(self.base):
            part_dir = os.path.join(self.base, part)
            if part.startswith(("_", ".")) or not os.path.isdir(part_dir):
                continue
            for name in os.listdir(part_dir):
                if name not in keep.get(part, ()):
                    shutil.rmtree(
                        os.path.join(part_dir, name), ignore_errors=True
                    )
                    removed.append(name)
        # stale commit temp files (writer crashed between write and
        # link); age-gated so a live writer's in-flight temp survives
        for name in os.listdir(self.log_dir):
            if name.startswith(".tmp-"):
                p = os.path.join(self.log_dir, name)
                try:
                    if time.time() - os.path.getmtime(p) > 3600:
                        os.unlink(p)
                except OSError:
                    pass
        return removed

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite every part of the live snapshot into one directory
        of ``target_files`` files each and commit them, with the max
        id, as one replace — readers of older versions are unaffected
        (their manifests still resolve until vacuumed)."""
        version = self.latest_version()
        if version is None:
            return 0
        m = self.manifest(version)
        if not m["dirs"]:
            return version
        changes = {
            part: ("replace", self.write(
                part,
                self.read_part(spark, record, part).coalesce(target_files),
            ))
            for part, record in self._parts(m).items()
        }
        return self.commit(changes, m.get("max_id"))

    def drop(self) -> None:
        """Delete the table, its log first: a drop cut short leaves no
        version that lists a deleted directory."""
        shutil.rmtree(self.log_dir, ignore_errors=True)
        shutil.rmtree(self.base, ignore_errors=True)
