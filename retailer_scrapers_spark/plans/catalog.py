"""Snapshot catalog (SURVEY.md K1–K5, R8, §4.2.6).

The reference checkpoints by appending CSV per page and copying
``products.csv`` to ``backup/products_{ts}.csv`` daily
(scrape_shoprite.py:382-384, daily_scrape.py:32-44). The engine's
contract is Iceberg snapshot-per-epoch; this module emulates it with
*versioned Parquet and a commit marker* (no Iceberg runtime needed):

    {root}/{table}/epoch={K}/part-*.parquet
    {root}/{table}/epoch={K}/_COMMIT          ← written LAST

A snapshot is visible only once ``_COMMIT`` exists, so a job killed
mid-write never exposes a torn snapshot — the same atomicity Iceberg's
metadata swap provides. The data and the marker are written into
``epoch={K}.inprogress``, which is renamed into place; a snapshot that
is rewritten is first moved aside to ``epoch={K}.aside`` and deleted
only after the new one is in place, so a committed copy exists at every
instant, and a reader puts back an aside copy that a crash left
without its replacement. ``latest_epoch`` + ``read`` give time travel.

A read starts no Spark job. Spark stores each part file's schema in its
footer (``org.apache.spark.sql.parquet.row.metadata``); the catalog
reads that key from one part file and hands the schema to
``spark.read``, where Spark would otherwise run a one-task job to read
a footer for schema inference. A snapshot without the key (not written
by Spark) is inferred as before, so the format is unchanged.

Visibility is per table. A crawl epoch commits several tables and its
``frontier`` snapshot last, so the frontier commit is the epoch's commit
point: resume (R8) reads every table as of the latest committed
frontier epoch, and the replay of an uncommitted epoch rewrites the
other tables that epoch had already committed.
"""

from __future__ import annotations

import json
import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

COMMIT_MARKER = "_COMMIT"
ASIDE = ".aside"
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _footer_schema(paths: list[str]) -> StructType | None:
    """The Spark schema stored in the footer of the first part file
    under ``paths``, or None when there is no part file or no such key.
    One footer stands for all of them, as in Spark's own inference
    without ``mergeSchema``: a table's snapshots share one schema."""
    for path in paths:
        for name in sorted(os.listdir(path)):
            if name.endswith(".parquet") and not name.startswith(("_", ".")):
                raw = (pq.read_metadata(os.path.join(path, name)).metadata or {}).get(SPARK_SCHEMA_KEY)
                return StructType.fromJson(json.loads(raw)) if raw else None
    return None


class SnapshotCatalog:
    """Versioned-Parquet snapshot store emulating Iceberg epoch snapshots."""

    def __init__(self, root: str, spark: SparkSession):
        self.root = root
        self.spark = spark
        os.makedirs(root, exist_ok=True)

    # -- paths ---------------------------------------------------------------
    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def _epoch_dir(self, table: str, epoch: int) -> str:
        return os.path.join(self._table_dir(table), f"epoch={epoch}")

    # -- snapshots -----------------------------------------------------------
    def write(self, df: DataFrame, table: str, epoch: int, meta: dict | None = None) -> None:
        """Write one epoch snapshot atomically (data first, marker last,
        then one rename publishes both); a snapshot it replaces stays
        readable until the new one is in place."""
        path = self._epoch_dir(table, epoch)
        self._restore(path)
        tmp = path + ".inprogress"
        if os.path.exists(tmp):
            shutil.rmtree(tmp)
        df.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, COMMIT_MARKER), "w") as f:
            json.dump({"epoch": epoch, **(meta or {})}, f)
        if os.path.exists(path):
            os.rename(path, path + ASIDE)
        os.rename(tmp, path)
        shutil.rmtree(path + ASIDE, ignore_errors=True)

    @staticmethod
    def _restore(path: str) -> None:
        """Settle a rewrite of ``path`` that a crash interrupted: the aside
        copy is dropped when its replacement is in place (``path`` only
        ever appears by renaming a complete snapshot), else renamed back."""
        aside = path + ASIDE
        if not os.path.exists(aside):
            return
        if os.path.exists(path):
            shutil.rmtree(aside)
        else:
            os.rename(aside, path)

    def _read(self, paths: list[str]) -> DataFrame:
        """Committed snapshot directories as one DataFrame, read with
        their footer schema so that no inference job runs."""
        reader = self.spark.read
        schema = _footer_schema(paths)
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(*paths)

    def committed_epochs(self, table: str) -> list[int]:
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return []
        for name in os.listdir(tdir):
            if name.startswith("epoch=") and name.endswith(ASIDE):
                self._restore(os.path.join(tdir, name[: -len(ASIDE)]))
        out = []
        for name in os.listdir(tdir):
            epoch = name[len("epoch="):]
            if name.startswith("epoch=") and epoch.isdigit() and os.path.exists(os.path.join(tdir, name, COMMIT_MARKER)):
                out.append(int(epoch))
        return sorted(out)

    def latest_epoch(self, table: str) -> int | None:
        eps = self.committed_epochs(table)
        return eps[-1] if eps else None

    def read(self, table: str, epoch: int | None = None) -> DataFrame | None:
        """Read a committed snapshot (latest by default) — time travel."""
        if epoch is None:
            epoch = self.latest_epoch(table)
        if epoch is None:
            return None
        path = self._epoch_dir(table, epoch)
        self._restore(path)
        return self._read([path])

    def read_all(self, table: str, max_epoch: int | None = None) -> DataFrame | None:
        """Union of ALL committed epoch snapshots (optionally only those
        ``<= max_epoch``) — the read side of DELTA-APPEND tables, where
        each epoch writes only its new rows (e.g. ``seen``: per-epoch
        newly-seen URL sets, disjoint by construction). At 10^10 URLs
        this keeps the per-epoch write volume ∝ newly-seen instead of
        rewriting the whole table. ``max_epoch`` makes resume consistent
        when a crash landed between the seen commit and the frontier
        commit (the seen table may be one epoch ahead).

        Transparent to :meth:`compact`: if a compacted generation C ≤
        ``max_epoch`` exists, the read is that single snapshot plus the
        raw deltas ABOVE it — so a 10^3-epoch crawl reads O(few) files
        instead of 10^3 directories."""
        eps = self.committed_epochs(table)
        comp = [c for c in self.committed_epochs(table + "__compacted")
                if max_epoch is None or c <= max_epoch]
        parts: list[str] = []
        if comp:
            c = comp[-1]
            parts.append(self._epoch_dir(table + "__compacted", c))
            eps = [e for e in eps if e > c]
        if max_epoch is not None:
            eps = [e for e in eps if e <= max_epoch]
        parts += [self._epoch_dir(table, e) for e in eps]
        if not parts:
            return None
        return self._read(parts)

    def compact(self, table: str, through: int | None = None) -> None:
        """Iceberg-style maintenance for delta-append tables: merge the
        committed deltas ``<= through`` (plus any previous compacted
        generation) into ONE snapshot, then drop the raw delta dirs they
        replace. Crash-safe ordering: the new generation commits first
        (atomic snapshot write); cleanup of superseded dirs is last and
        idempotent — a crash in between leaves extra dirs that
        :meth:`read_all` already ignores.

        Callers must keep ``through`` at or below the oldest epoch any
        resume can cap at (CrawlPlan uses the frontier's latest
        committed epoch), else a torn-state resume could need raw
        deltas this call deletes.
        """
        ctable = table + "__compacted"
        prev = self.latest_epoch(ctable)
        eps = [e for e in self.committed_epochs(table) if prev is None or e > prev]
        if through is not None:
            eps = [e for e in eps if e <= through]
        if not eps or (prev is None and len(eps) < 2):
            return  # nothing worth merging
        parts = ([self._epoch_dir(ctable, prev)] if prev is not None else []) + [
            self._epoch_dir(table, e) for e in eps
        ]
        union = self._read(parts)
        new_gen = eps[-1]
        self.write(union, ctable, new_gen)
        # cleanup: superseded raw deltas + older compacted generations
        for e in eps:
            shutil.rmtree(self._epoch_dir(table, e), ignore_errors=True)
        if prev is not None:
            shutil.rmtree(self._epoch_dir(ctable, prev), ignore_errors=True)

    def read_meta(self, table: str, epoch: int | None = None) -> dict | None:
        if epoch is None:
            epoch = self.latest_epoch(table)
        if epoch is None:
            return None
        path = self._epoch_dir(table, epoch)
        self._restore(path)
        with open(os.path.join(path, COMMIT_MARKER)) as f:
            return json.load(f)
