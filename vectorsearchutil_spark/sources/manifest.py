"""Manifest-log table: ACID append/replace on plain Parquet with no
extra dependencies — the Delta/Iceberg posture for VectorStore when
those jars are unavailable (VERDICT r2 #6).

Why not a directory rewritten in place and swapped by rename:
``os.rename`` of a directory is atomic on a local filesystem but not on
object stores (S3/GCS rename = copy+delete, non-atomic, and readers can
observe the gap), and every append would rewrite the whole store. This
log borrows the design that Delta Lake built for exactly that problem:

* **data files are immutable** — every transaction writes a fresh
  ``data/tx-<uuid>/`` directory and never touches existing ones; an
  append writes ONLY the appended rows (no store rewrite, no staging
  double-write);
* **the manifest is the source of truth** — ``_log/v<N>.json`` lists
  the data directories visible at version N. Readers resolve the
  highest committed version and read exactly those directories, so a
  half-written transaction (crash before commit) is simply invisible;
* **commits are atomic create-exclusive** — ``O_CREAT|O_EXCL`` of the
  next version file either fully succeeds or fully fails. On object
  stores the same primitive is a conditional PUT
  (``If-None-Match: *``), which S3, GCS and ABFS all support;
  concurrent writers race on the version number and the loser
  retries on the next version (optimistic concurrency);
* **the manifest records the schema** — a commit stores the written
  frame's schema (``schema``, the analogue of Delta's
  ``metaData.schemaString``) and ``read`` uses it, so a reader infers
  nothing from the parquet footers (schema inference is one Spark job
  per read). An append whose schema differs from its parent's records
  none, and a manifest without one is read with inference;
* **vacuum** removes data directories no manifest references.

Known bound: ``latest_version`` lists the log directory, so commit
history grows the listing O(versions); Delta solves this with
periodic checkpoint files. Here ``compact()`` + ``vacuum()`` keep the
DATA dir bounded, and a deployment doing thousands of commits should
additionally prune old ``v*.json`` (they are only needed for time
travel).

Contrast with the reference's per-row SQLite transactions
(``vsu/base/VectorSearchBase.py:78``): one commit per distributed
batch, same atomicity guarantee, object-store-safe.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


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
    """A versioned collection of immutable parquet directories."""

    def __init__(self, base: str):
        self.base = base.rstrip("/")
        self.log_dir = os.path.join(self.base, "_log")
        self.data_dir = os.path.join(self.base, "data")

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

    def _manifest(self, version: int) -> dict:
        m = self._try_manifest(version)
        if m is None:
            raise FileNotFoundError(
                f"no committed manifest v{version} under {self.log_dir}"
            )
        return m

    def dirs(self, version: int | None = None) -> list[str]:
        """Data directories visible at ``version`` (default latest)."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return []
        return self._manifest(version)["dirs"]

    # -- transactions --------------------------------------------------

    def write_and_commit(
        self,
        df: DataFrame,
        mode: str = "append",
        max_retries: int = 20,
        stats_cols: list[str] | None = None,
    ) -> int:
        """Write ``df`` as a new immutable data directory, then commit
        it as the next version. ``mode='append'`` keeps the parent
        version's directories; ``'replace'`` starts fresh. Returns the
        committed version. A crash before the commit leaves only an
        unreferenced directory (invisible; vacuum removes it). The
        manifest records ``df``'s schema unless this append's schema
        differs from the parent's (or the parent recorded none).

        ``stats_cols`` records per-transaction min/max for those
        columns in the manifest (computed from the written files, one
        tiny agg over the tx directory) — the Delta-style data-
        skipping statistics ``read_pruned`` uses to skip whole
        transaction directories on range predicates."""
        assert mode in ("append", "replace")
        tx = f"tx-{uuid.uuid4().hex}"
        tx_dir = os.path.join(self.data_dir, tx)
        df.write.parquet(tx_dir)
        tx_stats: dict[str, list] = {}
        if stats_cols:
            from pyspark.sql import functions as F

            written = df.sparkSession.read.parquet(tx_dir)
            row = written.agg(
                *[
                    agg(c).alias(f"{which}_{c}")
                    for c in stats_cols
                    for which, agg in (("min", F.min), ("max", F.max))
                ]
            ).first()
            for c in stats_cols:
                lo, hi = row[f"min_{c}"], row[f"max_{c}"]
                if lo is not None:
                    tx_stats[c] = [
                        lo if isinstance(lo, (int, float)) else str(lo),
                        hi if isinstance(hi, (int, float)) else str(hi),
                    ]
        tx_schema = nullable_schema(df.schema).jsonValue()
        os.makedirs(self.log_dir, exist_ok=True)
        for _ in range(max_retries):
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
            if mode == "replace" or parent is None:
                dirs, stats, schema = [], {}, tx_schema
            else:
                pm = self._manifest(parent)
                dirs = list(pm["dirs"])
                stats = dict(pm.get("stats", {}))
                schema = pm.get("schema")
                if schema != tx_schema:
                    schema = None
            dirs.append(tx)
            if tx_stats:
                stats[tx] = tx_stats
            entry = {"version": version, "parent": parent, "mode": mode,
                     "dirs": dirs, "stats": stats}
            if schema is not None:
                entry["schema"] = schema
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
        raise RuntimeError(f"commit contention: {max_retries} losses")

    # -- reads ---------------------------------------------------------

    def _reader(self, spark: SparkSession, manifest: dict):
        """A parquet reader under ``manifest``'s recorded schema, or an
        inferring one where it recorded none."""
        schema = manifest.get("schema")
        if schema is None:
            return spark.read
        return spark.read.schema(StructType.fromJson(schema))

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
        m = self._manifest(version)
        if not m["dirs"]:
            return None
        return self._reader(spark, m).parquet(
            *[os.path.join(self.data_dir, d) for d in m["dirs"]]
        )

    def pruned_dirs(
        self, col: str, lo=None, hi=None, version: int | None = None
    ) -> tuple[list[str], list[str]]:
        """(kept, skipped) transaction directories for a range
        predicate ``lo <= col <= hi``: a directory is skipped only
        when its recorded [min, max] provably cannot overlap the
        range. Directories WITHOUT stats for ``col`` are always kept
        — skipping is never allowed to drop unknown data."""
        if version is None:
            version = self.latest_version()
        if version is None:
            return [], []
        m = self._manifest(version)
        stats = m.get("stats", {})
        kept, skipped = [], []
        for d in m["dirs"]:
            s = stats.get(d, {}).get(col)
            if s is not None and (
                (hi is not None and s[0] > hi)
                or (lo is not None and s[1] < lo)
            ):
                skipped.append(d)
            else:
                kept.append(d)
        return kept, skipped

    def read_pruned(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame | None:
        """The table filtered to ``lo <= col <= hi``, reading ONLY the
        transaction directories whose stats overlap the range — at
        scale this skips whole appends (e.g. time-partitioned ingest
        queried by date) before any parquet footer is opened. The
        residual filter still applies row-level (stats pruning is a
        superset guarantee, same contract as parquet row-group
        skipping)."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
        kept, _ = self.pruned_dirs(col, lo, hi, version)
        if not kept:
            return None
        df = self._reader(spark, self._manifest(version)).parquet(
            *[os.path.join(self.data_dir, d) for d in kept]
        )
        if lo is not None:
            df = df.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            df = df.filter(F.col(col) <= F.lit(hi))
        return df

    # -- maintenance ---------------------------------------------------

    def vacuum(self, keep_versions: int = 1) -> list[str]:
        """Delete data directories referenced by NO retained manifest
        (aborted transactions + compacted-away history). Retains the
        newest ``keep_versions`` manifests' references."""
        latest = self.latest_version()
        if latest is None:
            return []
        keep: set[str] = set()
        for v in range(max(0, latest - keep_versions + 1), latest + 1):
            try:
                keep.update(self._manifest(v)["dirs"])
            except FileNotFoundError:
                pass
        removed = []
        if os.path.isdir(self.data_dir):
            for name in os.listdir(self.data_dir):
                if name not in keep:
                    shutil.rmtree(
                        os.path.join(self.data_dir, name),
                        ignore_errors=True,
                    )
                    removed.append(name)
        # stale commit temp files (writer crashed between write and
        # link); age-gated so a live writer's in-flight temp survives
        if os.path.isdir(self.log_dir):
            import time as _time

            for name in os.listdir(self.log_dir):
                if name.startswith(".tmp-"):
                    p = os.path.join(self.log_dir, name)
                    try:
                        if _time.time() - os.path.getmtime(p) > 3600:
                            os.unlink(p)
                    except OSError:
                        pass
        return removed

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        """Rewrite the live snapshot into one directory of
        ``target_files`` files and commit it as a replace — readers of
        older versions are unaffected (their manifests still resolve
        until vacuumed)."""
        df = self.read(spark)
        if df is None:
            return self.latest_version() or 0
        return self.write_and_commit(
            df.coalesce(target_files), mode="replace"
        )

    def drop(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
