"""Named-table catalog over a directory of parquet files.

The reference pipes ``List[pd.DataFrame]`` between stages
(``pipeline.py:11-26`` in the reference); our equivalent unit is a named
lazy DataFrame resolved from a catalog. Reads are plain
``spark.read.parquet`` so Catalyst gets predicate pushdown, column
pruning and partition pruning for free on every downstream query.
"""

from __future__ import annotations

import os
import stat
import weakref

import pyarrow.dataset as pa_ds
import pyarrow.types as pa_types
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Per-session memo of resolved base relations, keyed (sf_dir, table).
# Every query used to build a fresh Catalog, so each of a composite's
# arms re-ran spark.read.parquet on the same file: one more parquet
# directory listing + footer schema read (Catalyst's ResolveDataSource
# measured ~0.5 s per composite at sf0.1) and one more analyzer pass,
# per arm, per bench repeat. Re-using the ANALYZED DataFrame object is
# plan-level memoization only — no data is cached; every action still
# computes from the parquet input. Keyed weakly by session so a
# restarted session (tests, serve) re-resolves cleanly.
#
# An analyzed relation also pins the file listing it was resolved
# against, so each entry carries the listing's fingerprint (names,
# sizes, mtimes) and is re-resolved when the files change: a
# long-lived serve session would otherwise read an appended table at
# its old row count, or fail on an overwritten table's deleted files.
_RELATION_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = \
    weakref.WeakKeyDictionary()


def _listing(path: str) -> tuple | None:
    """``(path, size, mtime_ns)`` of every file at or under ``path``,
    sorted; ``None`` when ``path`` is not on the local file system
    (such tables are resolved on every call, never memoized)."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return ((path, st.st_size, st.st_mtime_ns),)
    files, dirs = [], [path]
    while dirs:
        with os.scandir(dirs.pop()) as entries:
            for e in entries:
                if e.is_dir():
                    dirs.append(e.path)
                else:
                    est = e.stat()
                    files.append((e.path, est.st_size, est.st_mtime_ns))
    return tuple(sorted(files))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# tables a scale-factor dir MAY carry (read on demand, absent in the
# standard testdata layout): `media` is the (media_id, kind, payload,
# ...) binary table the multimodal operators consume
OPTIONAL_TABLES = ("media",)


class Catalog:
    """Lazily resolves named tables from a scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            memo = _RELATION_MEMO.setdefault(self.spark, {})
            key = (os.path.abspath(self.sf_dir), name)
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            listing = _listing(path)
            if listing is not None and key in memo \
                    and memo[key][0] == listing:
                self._cache[name] = memo[key][1]
                return self._cache[name]
            df = self.spark.read.parquet(path)
            # Normalize every parquet timestamp flavor to one session-UTC
            # TimestampType so downstream operators see a single type
            # (matches DuckDB's read of the same file). Detection is
            # schema-only (pyarrow footer read):
            #  - TIMESTAMP(NANOS) arrives as nanosecond longs (see
            #    session.py nanosAsLong) -> truncate to micros.
            #  - tz-naive us/ms/s timestamps would load as TIMESTAMP_NTZ
            #    under default confs -> cast to TimestampType (session is
            #    UTC, so wall-clock is preserved). No-op when session.py's
            #    inferTimestampNTZ=false already loaded TimestampType.
            for field in pa_ds.dataset(path).schema:
                if not pa_types.is_timestamp(field.type):
                    continue
                if field.type.unit == "ns":
                    df = df.withColumn(
                        field.name,
                        F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
                    )
                elif field.type.tz is None:
                    df = df.withColumn(
                        field.name, F.col(field.name).cast("timestamp"))
            if listing is not None:
                memo[key] = (listing, df)
            self._cache[name] = df
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES or name in OPTIONAL_TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self) -> None:
        """Expose every table as a temp view for the SQL surface."""
        for name in TABLES:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                self.table(name).createOrReplaceTempView(name)
