"""Engine facade and SparkSession construction.

``SparkEngine`` mirrors the reference's ``SQLServer`` facade
(reference: mssql_dataframe/package.py:20-103): it composes the
``create / modify / read / write`` verb namespaces over one session,
logs versions, and warns when metadata timestamps are enabled.

``connect()`` mirrors ``mssql_dataframe.connect()``
(reference: connect.py:55-90) — it yields the session every other
component shares, here a tuned local ``SparkSession``.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

from .core.create import create
from .core.modify import modify
from .core.read import read
from .core.schema import get_schema
from .core.write import write
from .store import TableStore

logger = logging.getLogger("mssql_dataframe_spark")

__version__ = "0.1.0"

DEFAULT_STORE = os.path.join(os.path.dirname(__file__), "..", ".spark_tables")


def _default_driver_memory() -> str:
    """``spark.driver.memory`` when ``SPARK_DRIVER_MEMORY`` is unset:
    8g, capped at a quarter of the host's physical memory so one local
    session leaves room for the rest of a shared machine."""
    try:
        quarter_mb = (
            os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 4 >> 20
        )
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "8g"
    return f"{min(8 << 10, quarter_mb)}m"


def connect(
    app_name: str = "mssql_dataframe_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the shared SparkSession.

    Scale defaults: AQE on (runtime re-plan, skew-join handling,
    partition coalescing), Arrow on for the pandas API edge, UTC
    session timezone for deterministic timestamp semantics.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join where its size
        # conditions hold (r14 opt; optimization guide §3.1/§9): the
        # rare non-broadcast joins here (LSH estimate joins, PQ code
        # joins) build small per-partition hash maps, and skipping the
        # sort-merge sort measured 1.3-1.6x on those entries. The
        # planner still falls back to sort-merge when the build side's
        # estimate is large, and AQE skew handling stays on, so the
        # OOM-conservative default is preserved where it matters.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory(),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


class SparkEngine:
    """Facade composing the verb namespaces (reference: package.py:20-103)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        store_root: str | None = None,
        include_metadata_timestamps: bool = False,
    ):
        self.spark = spark or connect()
        self.store = TableStore(self.spark, store_root or DEFAULT_STORE)
        # reference parity: SQLServer exposes the error taxonomy as an
        # attribute so callers catch ``sql.exceptions.X``
        # (package.py:75 ``self.exceptions = custom_errors``)
        from . import errors as exceptions

        self.exceptions = exceptions
        self.create = create(self.store)
        self.modify = modify(self.store)
        self.read = read(self.store)
        self.write = write(self.store, include_metadata_timestamps)
        self.log_init()
        if include_metadata_timestamps:
            # warning contract: reference package.py:67-83
            logger.warning(
                "SQL write operations will include metadata "
                "_time_insert & _time_update columns."
            )

    def log_init(self) -> None:
        """Log engine/runtime versions for debugging (reference:
        package.py:87-104 ``log_init`` collecting ``version_spec`` for
        Python, the server, and required packages — here the "server"
        is the Spark runtime)."""
        import sys

        self.version_spec = {
            "python": sys.version_info,
            "spark": self.spark.version,
            "mssql_dataframe_spark": __version__,
        }
        for name in ("pyspark", "pandas", "pyarrow"):
            try:
                from importlib.metadata import version as _v

                self.version_spec[name] = _v(name)
            except Exception:  # pragma: no cover - metadata absent
                self.version_spec[name] = None
        logger.info(
            "SparkEngine %s on Spark %s", __version__, self.spark.version
        )
        logger.debug("Version Numbers: %s", self.version_spec)

    def __enter__(self) -> "SparkEngine":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        self.close()

    def close(self) -> None:
        """End the engine session: #local temp tables are dropped
        (SQL Server tempdb semantics). The SparkSession is left
        running — it may be shared."""
        self.store.drop_temp_tables()

    def get_schema(self, table_name: str, dataframe=None):
        """Introspect a table; with ``dataframe=`` also validate+convert
        the candidate frame (reference conversion.py:38-162)."""
        return get_schema(self.store, table_name, dataframe=dataframe)

    def optimize(self, table_name: str, small_file_rows: int = 100_000):
        """Compact small store files (Delta ``OPTIMIZE`` analog),
        clustering by the primary key so pruned merges skip precisely.
        Returns (files_before, files_after)."""
        return self.store.optimize(table_name, small_file_rows=small_file_rows)

    def optimize_zorder(self, table_name: str, cols: list[str],
                        n_files: int | None = None):
        """Morton-curve multi-key clustering rewrite (Delta ``OPTIMIZE
        ZORDER BY`` analog). Returns (files_before, files_after)."""
        return self.store.optimize_zorder(table_name, cols, n_files=n_files)

    def vacuum(self, table_name: str, keep_versions: int | None = None) -> int:
        """Explicitly drop history beyond the retention window (Delta
        ``VACUUM`` analog). Returns readable version count."""
        return self.store.vacuum(table_name, keep_versions)

    def clone(self, src_table: str, dst_table: str):
        """Zero-copy clone of a table's current snapshot (Delta
        ``SHALLOW CLONE`` analog). Returns the new table's metadata."""
        return self.store.clone(src_table, dst_table)

    def restore(self, table_name: str, version: int) -> int:
        """Roll a table back to a retained prior snapshot (Delta
        ``RESTORE TABLE ... TO VERSION AS OF`` analog): manifest-only
        commit, zero data movement. Returns the new version."""
        return self.store.restore(table_name, version)

    def register_view(self, table_name: str, view_name: str | None = None):
        """Expose a stored table to ``spark.sql`` queries as a LIVE
        view: the registration follows the table across writes and
        vacuum (the store re-registers it on every commit), matching
        the always-current semantics a SQL Server view implies rather
        than a frozen snapshot of the file list at call time."""
        v = view_name or table_name.split(".")[-1]
        self.store.register_live_view(table_name, v)
        return v
