"""Data plane: one Hive-partitioned Parquet dataset per feature.

Layout (parity with /root/reference/bytehub/_storage/dask.py:35-36,62-83):

    {namespace.url}/feature/{name}/partition=<p>/part-*.snappy.parquet

Schema envelope is pinned:  time TIMESTAMP, created_time TIMESTAMP,
value <T>, partition STRING — appends never overwrite (bitemporal MVCC);
reads resolve the latest created_time per time (timeseries.dedup_latest).

Scale design:
- the `partition` column is a Hive partition dir → Catalyst static partition
  pruning; read() derives partition predicates from the time range so scans
  at 100 TB touch only the needed days/years.
- time-range predicates are pushed to the parquet row-group stats.
- appends write through `partitionBy("partition")` so ingest is append-only
  and parallel; no small-file compaction here (delegate to table format —
  Delta/Iceberg — when their jars are on the classpath).
"""

from __future__ import annotations

import os
import shutil
from typing import Sequence
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import timeseries as ts
from .exceptions import StorageError, ValidationError

ENVELOPE = (ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL)
PARTITION_COL = "partition"


def partition_expr(scheme: str):
    """time -> partition value; 'date' → 'yyyy-MM-dd', 'year' → 'yyyy'.

    Strings in both cases so range predicates compare lexicographically
    (ISO dates sort correctly as strings). Parity: dask.py:52-60.
    """
    if scheme == "date":
        return F.date_format(F.col(ts.TIME_COL), "yyyy-MM-dd")
    if scheme == "year":
        return F.date_format(F.col(ts.TIME_COL), "yyyy")
    raise ValidationError(f"Unknown partition scheme {scheme!r}")


def partition_bound(value, scheme: str) -> str:
    v = pd.Timestamp(value)
    return v.strftime("%Y-%m-%d") if scheme == "date" else v.strftime("%Y")


def partition_start(value: str, scheme: str) -> pd.Timestamp:
    """Earliest time a partition can hold — the inverse of partition_bound
    ('2023-05-04' → 2023-05-04 00:00, '2023' → 2023-01-01 00:00)."""
    return pd.to_datetime(value, format="%Y-%m-%d" if scheme == "date" else "%Y")


# fsspec-style credential names (what the reference accepts in a
# namespace's storage_options: _storage/dask.py:15-16, _model.py:87) →
# s3a Hadoop conf suffixes. Unknown keys pass through verbatim when they
# look like Hadoop keys (contain a '.'), else as fs.<scheme>.<key>.
_FSSPEC_TO_S3A = {
    "key": "access.key",
    "username": "access.key",
    "secret": "secret.key",
    "password": "secret.key",
    "token": "session.token",
    "endpoint_url": "endpoint",
}


class SparkStorage:
    """Parquet read/write for one namespace's features."""

    def __init__(
        self, spark: SparkSession, url: str, storage_options: dict | None = None
    ):
        self.spark = spark
        parsed = urlparse(url)
        if parsed.scheme in ("", "file"):
            self.base = parsed.path or url
        else:
            # s3a://, gs://, abfs:// … — handed to Hadoop FS connectors as-is
            self.base = url
        self._is_local = parsed.scheme in ("", "file")
        # memoized open() frames; every mutation through this object
        # invalidates (external writers bypass this — same staleness
        # contract as any cached file index; call invalidate() to refresh)
        self._open_cache: dict = {}
        # per-namespace credentials/conf reach the Hadoop connectors here
        # (reference threads storage_options into every fsspec call); s3a
        # options scope per-bucket (fs.s3a.bucket.<bucket>.*) so two
        # namespaces on different buckets never clobber each other.
        self.applied_conf: dict[str, str] = {}
        for k, v in (storage_options or {}).items():
            self.applied_conf[self._conf_key(k, parsed)] = str(v)
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        for k, v in self.applied_conf.items():
            hconf.set(k, v)

    @staticmethod
    def _conf_key(key: str, parsed) -> str:
        scheme = parsed.scheme or "file"
        if scheme in ("s3", "s3a", "s3n"):
            suffix = _FSSPEC_TO_S3A.get(key, key if "." in key else key)
            if key in _FSSPEC_TO_S3A or "." not in key:
                return f"fs.s3a.bucket.{parsed.netloc}.{suffix}"
            return key  # full Hadoop key given explicitly
        if "." in key:
            return key
        return f"fs.{scheme}.{key}"

    # ------------------------------------------------------------------

    def feature_path(self, name: str) -> str:
        return os.path.join(self.base, "feature", name)

    def exists(self, name: str) -> bool:
        if self._is_local:
            return os.path.isdir(self.feature_path(name))
        try:
            self.spark.read.parquet(self.feature_path(name)).schema
            return True
        except Exception:
            return False

    def ls(self) -> list[str]:
        """Feature datasets present on storage (S3 listing for GC).

        Compaction work dirs (``<name>__compacting`` / ``<name>__retiring``)
        are transient siblings, not datasets — excluded.
        """
        root = os.path.join(self.base, "feature")
        if self._is_local:
            if not os.path.isdir(root):
                return []
            names = (
                d for d in os.listdir(root) if os.path.isdir(os.path.join(root, d))
            )
        else:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            path = jvm.org.apache.hadoop.fs.Path(root)
            fs = path.getFileSystem(conf)
            if not fs.exists(path):
                return []
            names = (
                st.getPath().getName()
                for st in fs.listStatus(path)
                if st.isDirectory()
            )
        return sorted(
            n for n in names
            if not n.endswith(("__compacting", "__retiring"))
        )

    def list_partitions(self, name: str, reverse: bool = False) -> list[str]:
        """Sorted `partition=` values for a feature (dask.py:38-50).

        Driver-side directory listing — O(#partitions), no data scan.
        """
        root = self.feature_path(name)
        if self._is_local:
            if not os.path.isdir(root):
                return []
            vals = [
                d.split("=", 1)[1]
                for d in os.listdir(root)
                if d.startswith(f"{PARTITION_COL}=")
            ]
        else:
            jvm = self.spark._jvm
            conf = self.spark._jsc.hadoopConfiguration()
            path = jvm.org.apache.hadoop.fs.Path(root)
            fs = path.getFileSystem(conf)
            if not fs.exists(path):
                return []
            vals = [
                st.getPath().getName().split("=", 1)[1]
                for st in fs.listStatus(path)
                if st.isDirectory() and st.getPath().getName().startswith(f"{PARTITION_COL}=")
            ]
        return sorted(vals, reverse=reverse)

    # ------------------------------------------------------------------
    # S2 — append sink
    # ------------------------------------------------------------------

    def write(
        self,
        name: str,
        df: DataFrame,
        scheme: str = "date",
        known_value_type: T.DataType | None = None,
    ) -> None:
        """Append rows (time, created_time, value) as Hive-partitioned parquet.

        Schema-evolution guard (parity with parquet-append failure for
        non-serialized features, tests/test_featurestore.py:494-521): an
        append whose `value` type differs from the existing dataset raises.
        ``known_value_type`` is the catalog-recorded type of the existing
        dataset — when supplied the guard compares against it directly
        instead of opening the dataset (one less file-index build + schema
        inference per append).
        """
        for c in (ts.TIME_COL, ts.VALUE_COL):
            if c not in df.columns:
                raise ValidationError(f"save requires a {c!r} column")
        if known_value_type is not None:
            old_t = known_value_type
        else:
            existing = self.schema(name)
            old_t = None if existing is None else existing[ts.VALUE_COL].dataType
        if old_t is not None:
            new_t = df.schema[ts.VALUE_COL].dataType
            if old_t != new_t:
                raise StorageError(
                    f"Schema mismatch appending to feature {name!r}: "
                    f"existing value type {old_t.simpleString()}, "
                    f"incoming {new_t.simpleString()} (use serialized=True "
                    f"for evolving schemas)"
                )
        out = (
            df.select(ts.TIME_COL, ts.CREATED_COL, ts.VALUE_COL)
            .withColumn(PARTITION_COL, partition_expr(scheme))
        )
        # One file per Hive partition per append: without the repartition
        # every task writes a sliver into every partition dir — a daily-
        # partitioned multi-year series exploded into ~80k tiny files
        # (measured: 40s save / 14s ranged load at 600k rows; 4s / <1s
        # after). maxRecordsPerFile re-splits genuinely large partitions.
        out = out.repartition(F.col(PARTITION_COL))
        try:
            (
                out.write.mode("append")
                .option("maxRecordsPerFile", 5_000_000)
                .partitionBy(PARTITION_COL)
                .parquet(self.feature_path(name))
            )
        except Exception as e:  # report the feature path (fixes ref bug dask.py:83)
            raise StorageError(
                f"Failed to write feature dataset at {self.feature_path(name)}: {e}"
            ) from e
        self.invalidate(name)  # the cached file index no longer sees all files

    def partition_file_counts(self, name: str) -> dict[str, int]:
        """Data-file count per Hive partition (driver-side listing, no scan)."""
        root = self.feature_path(name)
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(root)
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            return {}
        counts: dict[str, int] = {}
        for st in fs.listStatus(path):
            nm = st.getPath().getName()
            if not (st.isDirectory() and nm.startswith(f"{PARTITION_COL}=")):
                continue
            n = sum(
                1
                for f in fs.listStatus(st.getPath())
                if f.getPath().getName().endswith(".parquet")
            )
            counts[nm.split("=", 1)[1]] = n
        return counts

    def compact(self, name: str, max_files_per_partition: int = 1) -> dict:
        """Rewrite fragmented partitions into target-sized files.

        Every bitemporal append adds at least one file per touched
        partition, so a hot feature accumulates thousands of small files
        per partition dir over time — each one a scan task + a footer read
        at 100 TB. Compaction is pure reorganization: rows (and therefore
        every bitemporal read) are unchanged.

        Only partitions above ``max_files_per_partition`` are rewritten:
        compacted data is staged next to the dataset, then swapped in
        per-partition by renaming the live dir ASIDE (into a ``__retiring``
        sibling outside the dataset root, so readers never list both
        copies), renaming the staged dir in, and only then deleting the
        retired copy. The unreadable window is thus two directory renames,
        not a recursive delete, and no step loses rows: a crash anywhere
        leaves either the live or the retired copy intact, and the next
        compact() (or ``recover_compaction()``) restores/cleans orphans.
        True no-window atomicity needs a table format (Delta/Iceberg) —
        see the backend seam. Returns {partitions, files_before,
        files_after}.
        """
        self.recover_compaction(name)
        counts = self.partition_file_counts(name)
        frag = sorted(p for p, n in counts.items() if n > max_files_per_partition)
        if not frag:
            return {"partitions": 0, "files_before": 0, "files_after": 0}
        files_before = sum(counts[p] for p in frag)
        base = self.open(name)
        staging = self.feature_path(name) + "__compacting"
        retiring = self.feature_path(name) + "__retiring"
        (
            base.where(F.col(PARTITION_COL).isin(frag))
            .repartition(F.col(PARTITION_COL))
            .write.mode("overwrite")
            .option("maxRecordsPerFile", 5_000_000)
            .partitionBy(PARTITION_COL)
            .parquet(staging)
        )
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        fs = jvm.org.apache.hadoop.fs.Path(staging).getFileSystem(conf)
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(retiring))
        for p in frag:
            live = jvm.org.apache.hadoop.fs.Path(
                os.path.join(self.feature_path(name), f"{PARTITION_COL}={p}")
            )
            staged = jvm.org.apache.hadoop.fs.Path(
                os.path.join(staging, f"{PARTITION_COL}={p}")
            )
            retired = jvm.org.apache.hadoop.fs.Path(
                os.path.join(retiring, f"{PARTITION_COL}={p}")
            )
            if not fs.exists(staged):
                # all files in this partition held zero rows — nothing was
                # staged; leave the live dir untouched (pure-reorg invariant)
                continue
            fs.rename(live, retired)
            fs.rename(staged, live)
            fs.delete(retired, True)
        fs.delete(jvm.org.apache.hadoop.fs.Path(staging), True)
        fs.delete(jvm.org.apache.hadoop.fs.Path(retiring), True)
        self.invalidate(name)
        after_counts = self.partition_file_counts(name)
        files_after = sum(after_counts.get(p, 0) for p in frag)
        return {
            "partitions": len(frag),
            "files_before": files_before,
            "files_after": files_after,
        }

    def recover_compaction(self, name: str) -> dict:
        """Restore/clean orphans from a compact() interrupted mid-swap.

        - a retired copy whose live dir is MISSING is renamed back (the
          crash hit between rename-aside and rename-in: the retired copy
          is the only copy);
        - a retired copy whose live dir exists is deleted (the swap
          completed; only the cleanup was lost);
        - a leftover staging dir is deleted (it is partial or already
          swapped; the next compact rewrites it from live data).

        Idempotent and cheap (directory listings only); compact() runs it
        first, so recovery needs no separate operational step.
        """
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        restored = cleaned = 0
        retiring = jvm.org.apache.hadoop.fs.Path(self.feature_path(name) + "__retiring")
        fs = retiring.getFileSystem(conf)
        if fs.exists(retiring):
            for st in fs.listStatus(retiring):
                nm = st.getPath().getName()
                if not nm.startswith(f"{PARTITION_COL}="):
                    continue
                live = jvm.org.apache.hadoop.fs.Path(
                    os.path.join(self.feature_path(name), nm)
                )
                if fs.exists(live):
                    fs.delete(st.getPath(), True)
                    cleaned += 1
                else:
                    fs.rename(st.getPath(), live)
                    restored += 1
            fs.delete(retiring, True)
        staging = jvm.org.apache.hadoop.fs.Path(self.feature_path(name) + "__compacting")
        if fs.exists(staging):
            fs.delete(staging, True)
            cleaned += 1
        if restored:
            self.invalidate(name)
        return {"restored": restored, "cleaned": cleaned}

    def schema(self, name: str) -> T.StructType | None:
        try:
            df = self.open(name)
            return None if df is None else df.schema
        except Exception:
            return None

    # ------------------------------------------------------------------
    # S1 — scan with pushdown + partition pruning
    # ------------------------------------------------------------------

    def open(
        self, name: str, value_type: T.DataType | None = None
    ) -> DataFrame | None:
        """Raw partitioned frame, or None if the dataset doesn't exist.

        Each spark.read.parquet builds a fresh file index — on a
        daily-partitioned multi-year feature that's a multi-second
        partition-discovery pass (measured 4s on 2.5k dirs). Callers that
        scan twice (seed lookup + main range) should open ONCE and pass
        the frame to scan(base=...) so discovery is paid once. (At
        production scale a metastore/Delta table makes discovery
        incremental; plain-parquet portability keeps this the default.)

        ``value_type`` (catalog-recorded) switches the read to an explicit
        schema, skipping the footer-reading schema-inference job (~0.3-1s
        per feature) — the partition column is pinned STRING either way,
        matching what write() derives and keeping range predicates
        lexicographic.
        """
        cached = self._open_cache.get(name)
        if cached is not None:
            return cached
        if not self.exists(name):
            return None
        if value_type is not None:
            schema = T.StructType(
                [
                    T.StructField(ts.TIME_COL, T.TimestampType()),
                    T.StructField(ts.CREATED_COL, T.TimestampType()),
                    T.StructField(ts.VALUE_COL, value_type),
                    T.StructField(PARTITION_COL, T.StringType()),
                ]
            )
            df = self.spark.read.schema(schema).parquet(self.feature_path(name))
        else:
            df = self.spark.read.parquet(self.feature_path(name))
        self._open_cache[name] = df
        return df

    def invalidate(self, name: str | None = None) -> None:
        if name is None:
            self._open_cache.clear()
        else:
            self._open_cache.pop(name, None)

    def scan(
        self,
        name: str,
        from_date=None,
        to_date=None,
        scheme: str = "date",
        value_type: T.DataType | None = None,
        base: DataFrame | None = None,
    ) -> DataFrame:
        """Raw ranged scan (inclusive bounds); returns the canonical envelope.

        Derives `partition` predicates from the time bounds so Catalyst
        prunes Hive partitions *and* pushes the time filters to row-group
        stats. Empty/missing datasets return a 0-row frame with the
        canonical schema (parity: dask.py:108-114).
        """
        df = base if base is not None else self.open(name)
        if df is None:
            vt = value_type or T.DoubleType()
            empty_schema = T.StructType(
                [
                    T.StructField(ts.TIME_COL, T.TimestampType()),
                    T.StructField(ts.CREATED_COL, T.TimestampType()),
                    T.StructField(ts.VALUE_COL, vt),
                ]
            )
            return self.spark.createDataFrame([], empty_schema)
        if from_date is not None:
            df = df.where(
                (F.col(ts.TIME_COL) >= F.lit(pd.Timestamp(from_date)).cast("timestamp"))
                & (F.col(PARTITION_COL) >= partition_bound(from_date, scheme))
            )
        if to_date is not None:
            df = df.where(
                (F.col(ts.TIME_COL) <= F.lit(pd.Timestamp(to_date)).cast("timestamp"))
                & (F.col(PARTITION_COL) <= partition_bound(to_date, scheme))
            )
        return df.drop(PARTITION_COL)

    # ------------------------------------------------------------------
    # S5/S6 — export / import / copy / delete
    # ------------------------------------------------------------------

    def export(self, name: str) -> DataFrame:
        """Raw dataset including the partition column (dask.py:279-287)."""
        if not self.exists(name):
            raise StorageError(f"No data for feature {name!r}")
        return self.spark.read.parquet(self.feature_path(name))

    def import_(self, name: str, df: DataFrame) -> None:
        cols = set(df.columns)
        if not {ts.TIME_COL, ts.VALUE_COL, PARTITION_COL} <= cols:
            raise ValidationError("import requires time/value/partition columns")
        (
            df.write.mode("append")
            .partitionBy(PARTITION_COL)
            .parquet(self.feature_path(name))
        )
        self.invalidate(name)

    def copy(self, from_name: str, to_name: str, dest: "SparkStorage") -> None:
        if self.exists(from_name):
            dest.import_(to_name, self.export(from_name))

    def delete(self, name: str) -> None:
        self.invalidate(name)
        path = self.feature_path(name)
        if self._is_local:
            shutil.rmtree(path, ignore_errors=True)
            return
        jvm = self.spark._jvm
        conf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        fs = p.getFileSystem(conf)
        if fs.exists(p):
            fs.delete(p, True)
