"""Delta Lake backend for the store's ACID mode — the production
table format behind the same minimal interface as
``sources.manifest.ManifestLog`` (``read / write_and_commit / compact
/ vacuum / drop`` + ``base``), so ``VectorStore(acid_path=...,
acid_format="delta")`` swaps the homegrown manifest log for Delta
transactions without touching any store logic.

Import-guarded: the ``delta-spark`` package (and its JVM jars) are not
part of this container, so everything here degrades to
``delta_available() == False`` and the tests skip cleanly; where the
dependency exists the ManifestLog contract tests run against this
class unchanged (tests/test_deltalog.py).

Semantic mapping (both are Delta-style logs, so it is 1:1):

* ``write_and_commit(mode="append")``  → ``format("delta").mode("append")``
* ``write_and_commit(mode="replace")`` → ``mode("overwrite")``
* version numbers                      → Delta's commit versions
  (``DESCRIBE HISTORY`` / ``versionAsOf`` time travel)
* ``compact``                          → rewrite at target file count
  (OSS-safe; OPTIMIZE where the runtime provides it)
* ``vacuum``                           → ``DeltaTable.vacuum``
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame, SparkSession


def delta_available(spark: SparkSession | None = None) -> bool:
    """True when the delta-spark Python package is importable AND (if
    a session is given) its SQL extension classes resolve on the JVM
    classpath — both are needed for ``format("delta")`` to work."""
    try:
        import delta  # noqa: F401
    except ImportError:
        return False
    if spark is not None:
        try:
            spark._jvm.org.apache.spark.sql.delta.DeltaLog  # noqa: SLF001
        except Exception:
            return False
    return True


class DeltaLog:
    """ManifestLog-interface adapter over a Delta Lake table path."""

    def __init__(self, base: str):
        if not delta_available():
            raise ImportError(
                "delta-spark is not installed; use the default "
                "manifest-log backend (acid_format='manifest')"
            )
        self.base = base.rstrip("/")

    # -- versions ------------------------------------------------------

    def latest_version(self, spark: SparkSession) -> int | None:
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(spark, self.base):
            return None
        return (
            DeltaTable.forPath(spark, self.base)
            .history(1)
            .select("version")
            .first()["version"]
        )

    # -- transactions --------------------------------------------------

    def write_and_commit(
        self,
        df: DataFrame,
        mode: str = "append",
    ) -> int:
        # Delta retries contended commits and collects per-file column
        # statistics itself
        assert mode in ("append", "replace")
        (
            df.write.format("delta")
            .mode("append" if mode == "append" else "overwrite")
            .option("overwriteSchema", "true")
            .save(self.base)
        )
        v = self.latest_version(df.sparkSession)
        return 0 if v is None else v

    # -- reads ---------------------------------------------------------

    def read(
        self, spark: SparkSession, version: int | None = None
    ) -> DataFrame | None:
        from delta.tables import DeltaTable

        if not DeltaTable.isDeltaTable(spark, self.base):
            return None
        reader = spark.read.format("delta")
        if version is not None:
            reader = reader.option("versionAsOf", version)
        df = reader.load(self.base)
        return None if not df.columns else df

    # -- maintenance ---------------------------------------------------

    def compact(self, spark: SparkSession, target_files: int = 1) -> int:
        df = self.read(spark)
        if df is None:
            return 0
        return self.write_and_commit(
            df.coalesce(target_files), mode="replace"
        )

    def vacuum(self, keep_versions: int = 1) -> list[str]:  # noqa: ARG002
        # Delta vacuums by retention age, not version count; 0-hour
        # retention mirrors ManifestLog.vacuum(keep_versions=1)'s
        # "only the live snapshot survives" contract (requires the
        # retentionDurationCheck safety toggle off, as Delta's own
        # tests do)
        from delta.tables import DeltaTable
        from pyspark.sql import SparkSession as S

        spark = S.getActiveSession()
        if spark is None or not DeltaTable.isDeltaTable(spark, self.base):
            return []
        spark.conf.set(
            "spark.databricks.delta.retentionDurationCheck.enabled",
            "false",
        )
        DeltaTable.forPath(spark, self.base).vacuum(0)
        return []

    def drop(self) -> None:
        shutil.rmtree(self.base, ignore_errors=True)
