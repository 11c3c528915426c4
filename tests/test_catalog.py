"""K5/R8 — snapshot catalog: atomic commits, time travel, delta-append reads."""

import os
import shutil

import pytest

from retailer_scrapers_spark.plans.catalog import SnapshotCatalog


def test_time_travel_and_latest(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path), spark)
    cat.write(spark.range(3).toDF("id"), "t", 0)
    cat.write(spark.range(5).toDF("id"), "t", 1)
    assert cat.committed_epochs("t") == [0, 1]
    assert cat.latest_epoch("t") == 1
    assert cat.read("t", 0).count() == 3  # time travel (the K5 backup analogue)
    assert cat.read("t").count() == 5
    assert cat.read_meta("t", 0)["epoch"] == 0


def test_uncommitted_epoch_invisible(spark, tmp_path):
    """A snapshot without the _COMMIT marker (torn write) is never read."""
    cat = SnapshotCatalog(str(tmp_path), spark)
    cat.write(spark.range(3).toDF("id"), "t", 0)
    cat.write(spark.range(9).toDF("id"), "t", 1)
    os.remove(os.path.join(str(tmp_path), "t", "epoch=1", "_COMMIT"))  # simulate crash
    assert cat.committed_epochs("t") == [0]
    assert cat.read("t").count() == 3


def test_inprogress_dir_cleaned(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path), spark)
    stale = os.path.join(str(tmp_path), "t", "epoch=0.inprogress")
    os.makedirs(stale)
    cat.write(spark.range(2).toDF("id"), "t", 0)
    assert not os.path.exists(stale)
    assert cat.read("t").count() == 2


def test_rewrite_keeps_a_committed_copy(spark, tmp_path, monkeypatch):
    """Rewriting a committed epoch moves the old snapshot aside, renames
    the new one in and only then deletes the old: a crash at the second
    rename leaves the old rows readable, and the next write succeeds."""
    from retailer_scrapers_spark.plans import catalog

    cat = SnapshotCatalog(str(tmp_path), spark)
    cat.write(spark.range(3).toDF("id"), "t", 0)
    renames = []
    real_rename = os.rename

    def rename(src, dst):
        renames.append(dst)
        if len(renames) == 2:
            raise OSError("crash before the new snapshot is in place")
        real_rename(src, dst)

    monkeypatch.setattr(catalog.os, "rename", rename)
    with pytest.raises(OSError, match="crash"):
        cat.write(spark.range(7).toDF("id"), "t", 0)
    monkeypatch.setattr(catalog.os, "rename", real_rename)
    assert not os.path.exists(str(tmp_path / "t" / "epoch=0"))  # only the aside copy is left
    fresh = SnapshotCatalog(str(tmp_path), spark)
    assert fresh.read("t", 0).count() == 3
    assert fresh.committed_epochs("t") == [0]
    fresh.write(spark.range(7).toDF("id"), "t", 0)
    assert fresh.read("t").count() == 7
    assert sorted(os.listdir(str(tmp_path / "t"))) == ["epoch=0"]


def test_compact_merges_deltas_and_reads_transparently(spark, tmp_path):
    """Delta-table maintenance: compaction folds committed deltas into
    one generation; read_all output is unchanged, superseded raw dirs
    are dropped, and later deltas stack on top."""
    import os

    cat = SnapshotCatalog(str(tmp_path), spark)
    for e in range(4):
        cat.write(spark.range(e * 10, e * 10 + 10).toDF("id"), "t", e)
    before = sorted(r.id for r in cat.read_all("t").collect())
    cat.compact("t", through=3)
    assert sorted(r.id for r in cat.read_all("t").collect()) == before
    assert not os.path.exists(str(tmp_path / "t" / "epoch=0"))  # raw deltas dropped
    assert os.path.exists(str(tmp_path / "t__compacted" / "epoch=3"))
    # new deltas after compaction read on top of the generation
    cat.write(spark.range(100, 105).toDF("id"), "t", 4)
    assert sorted(r.id for r in cat.read_all("t").collect()) == before + list(range(100, 105))
    # second compaction folds the generation + the new delta
    cat.compact("t", through=4)
    assert sorted(r.id for r in cat.read_all("t").collect()) == before + list(range(100, 105))
    assert not os.path.exists(str(tmp_path / "t__compacted" / "epoch=3"))


def test_images_delta_write_volume(spark, tmp_path):
    """VERDICT r2 #5: the images table (the 100 TB blob column) is
    delta-appended — a finalize adding 5 new images writes bytes ∝ 5
    blobs, never a rewrite of the accumulated table."""

    def dir_bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(p) for f in fs
        )

    cat = SnapshotCatalog(str(tmp_path), spark)
    day1 = spark.createDataFrame(
        [(f"i{i}", bytearray(os.urandom(4000))) for i in range(50)], "image_id string, bytes binary"
    )
    cat.write(day1, "images", 0)
    # day 2: 5 new images + 50 re-fetched ones, anti-joined like finalize
    day2 = spark.createDataFrame(
        [(f"i{i}", bytearray(os.urandom(4000))) for i in range(45, 55)], "image_id string, bytes binary"
    )
    prev = cat.read_all("images", max_epoch=0)
    delta = day2.join(prev.select("image_id"), "image_id", "left_anti")
    cat.write(delta, "images", 1)
    assert cat.read("images", 1).count() == 5
    assert cat.read_all("images").count() == 55
    s0 = dir_bytes(str(tmp_path / "images" / "epoch=0"))
    s1 = dir_bytes(str(tmp_path / "images" / "epoch=1"))
    assert s1 < s0 / 2  # delta bytes ∝ new blobs, not the full table


def test_compact_respects_through_and_max_epoch(spark, tmp_path):
    cat = SnapshotCatalog(str(tmp_path), spark)
    for e in range(4):
        cat.write(spark.range(e * 10, e * 10 + 10).toDF("id"), "t", e)
    cat.compact("t", through=2)  # epoch 3 stays a raw delta
    assert sorted(r.id for r in cat.read_all("t", max_epoch=2).collect()) == list(range(30))
    assert sorted(r.id for r in cat.read_all("t").collect()) == list(range(40))


def _fields(schema):
    return [(f.name, f.dataType) for f in schema]


def test_snapshot_read_starts_no_job_and_keeps_its_schema(spark, tmp_path):
    """A read takes its schema from the snapshot's own part-file footer:
    ``read``, ``read_all`` over a compacted generation plus two deltas,
    and their ``.schema`` start no Spark job (schema inference runs a
    one-task job per read). The schema is the one written — the Bloom
    state's ``partition_id`` stays int (the probe's cogroup keys must
    share one type), as do ``metrics`` and an empty snapshot's — and
    equals what Spark itself infers."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from retailer_scrapers_spark.operators.bloom import build_bloom_state
    from tests.test_bloom import _jobs_run

    cat = SnapshotCatalog(str(tmp_path), spark)
    urls = spark.range(40).select(F.concat(F.lit("https://h.test/"), F.col("id").cast("string")).alias("url_canon"))
    written = {
        "seen_filter": build_bloom_state(urls, "url_canon", 1 << 12, 3, n_slices=4),
        "metrics": spark.createDataFrame([("h.test", "ok", 3)], "host string, result string, n long")
        .withColumn("epoch", F.lit(0)),
        "empty": urls.limit(0),
    }
    for table, df in written.items():
        cat.write(df, table, 0)
    for e in range(4):
        cat.write(urls.filter(F.substring("url_canon", -1, 1).cast("int") % 4 == e), "seen", e)
    cat.compact("seen", through=1)
    reads = {}

    def read_all_tables():
        for table in written:
            reads[table] = cat.read(table, 0)
        reads["seen"] = cat.read_all("seen")
        for df in reads.values():
            df.schema

    assert _jobs_run(spark, "snapshot-read", read_all_tables) == 0
    assert len(reads["seen"].inputFiles()) >= 3  # compacted generation + deltas 2 and 3
    for table, df in written.items():
        assert _fields(reads[table].schema) == _fields(df.schema), table
        assert reads[table].schema == spark.read.parquet(cat._epoch_dir(table, 0)).schema, table
    assert reads["seen_filter"].schema["partition_id"].dataType == IntegerType()
    assert _fields(reads["seen"].schema) == _fields(urls.schema)
    assert sorted(r.url_canon for r in reads["seen"].collect()) == sorted(r.url_canon for r in urls.collect())
    assert reads["empty"].count() == 0


def test_snapshot_without_spark_footer_schema_is_inferred(spark, tmp_path):
    """A committed snapshot whose part file Spark did not write (no
    Spark schema in its footer) is read with an inferred schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from retailer_scrapers_spark.plans.catalog import COMMIT_MARKER

    cat = SnapshotCatalog(str(tmp_path), spark)
    path = cat._epoch_dir("t", 0)
    os.makedirs(path)
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64())}), os.path.join(path, "part-0.parquet"))
    with open(os.path.join(path, COMMIT_MARKER), "w") as f:
        f.write('{"epoch": 0}')
    df = cat.read("t")
    assert df.columns == ["id"]
    assert sorted(r.id for r in df.collect()) == [1, 2, 3]
