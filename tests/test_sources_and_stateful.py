"""Download source, history pruning, P8 config text, stateful stream op."""

from __future__ import annotations

import json
import pathlib

import pytest
from pyspark.sql import functions as F

from biocurator_mapper_spark.ontology.parser import searchable_text_config
from biocurator_mapper_spark.sources.catalog import ParquetCatalog
from biocurator_mapper_spark.sources.download import (
    DownloadCancelled,
    download_history,
    download_with_progress,
    latest_download,
    record_download,
)


def test_download_with_progress_and_cancel(tmp_path):
    src = tmp_path / "onto.json"
    payload = json.dumps({"graphs": [{"nodes": []}]}) * 2000  # ~40 KB, >1 chunk
    src.write_text(payload)
    dest = tmp_path / "landed" / "onto.json"
    seen = []
    n = download_with_progress(
        src.as_uri(), str(dest), progress=lambda d, t: seen.append(d)
    )
    assert n == len(payload.encode())
    assert dest.read_text() == payload
    assert len(seen) >= 2 and seen[-1] == n  # chunked progress

    # cancellation removes the partial file
    dest2 = tmp_path / "landed" / "onto2.json"
    with pytest.raises(DownloadCancelled):
        download_with_progress(src.as_uri(), str(dest2), should_cancel=lambda: True)
    assert not dest2.exists() and not pathlib.Path(str(dest2) + ".part").exists()


def test_download_history_keep_last_and_latest(spark, tmp_path):
    catalog = ParquetCatalog(spark, str(tmp_path / "wh"))
    real = tmp_path / "real.json"
    real.write_text("{}")
    for i in range(13):
        record_download(catalog, "go", f"/nonexistent/f{i}.json", 100 + i)
    record_download(catalog, "go", str(real), 999)
    record_download(catalog, "doid", str(real), 5)

    hist = download_history(catalog)
    assert hist.where(F.col("ontology") == "go").count() == 10  # pruned to last 10
    assert hist.where(F.col("ontology") == "doid").count() == 1
    # latest existing file wins; nonexistent newer files are skipped
    assert latest_download(catalog, "go") == str(real)
    assert latest_download(catalog, "missing") is None


def test_searchable_text_config(spark):
    df = spark.createDataFrame(
        [("Angio, Sarcoma!", "A bad-news tumor.", ["Hem|Angio", ""])],
        "name string, definition string, syns array<string>",
    )
    out = df.select(
        searchable_text_config(
            F.col("name"), F.col("definition"), [F.col("syns")]
        ).alias("plain"),
        searchable_text_config(
            F.col("name"),
            F.col("definition"),
            [F.col("syns")],
            lowercase=True,
            remove_punctuation=True,
        ).alias("normalized"),
        searchable_text_config(
            F.col("name"), F.col("definition"), [F.col("syns")],
            include_definition=False,
        ).alias("no_def"),
    ).collect()[0]
    assert out.plain == "Angio, Sarcoma! | A bad-news tumor. | Hem|Angio"
    # punctuation stripped per component; separators survive
    assert out.normalized == "angio sarcoma | a badnews tumor | hemangio"
    assert out.no_def == "Angio, Sarcoma! | Hem|Angio"


def test_stateful_host_stats_stream(spark, tmp_path):
    from biocurator_mapper_spark.streaming.stateful import host_stats_stream
    from biocurator_mapper_spark.testdata import PAGES_SCHEMA, generate_pages_rows

    landing = tmp_path / "in"
    landing.mkdir()
    rows = generate_pages_rows(["x"], n_pages=30, seed=4, include_edge_rows=False)
    spark.createDataFrame(rows, PAGES_SCHEMA).write.parquet(str(landing / "b0"))

    stream = (
        spark.readStream.schema(PAGES_SCHEMA).parquet(str(landing) + "/*")
    )
    out_dir = tmp_path / "out"
    q = (
        host_stats_stream(stream)
        .writeStream.format("memory")
        .queryName("host_stats_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r.host: (r.n_pages, r.n_bytes)
        for r in spark.sql("select * from host_stats_t").collect()
    }
    # oracle: batch aggregation over the same rows
    want = {
        r.host: (r.n, r.b)
        for r in spark.createDataFrame(rows, PAGES_SCHEMA)
        .groupBy(F.parse_url("url", F.lit("HOST")).alias("host"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum(F.length("html")).alias("b"))
        .collect()
    }
    assert got == want


def test_catalog_time_travel_and_retention(spark, tmp_path):
    """write_replace keeps immutable versions readable (snapshot reads)
    until vacuum_table retires them; the live pointer always survives."""
    import pytest

    from biocurator_mapper_spark.sources.catalog import ParquetCatalog

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    v1 = cat.write_replace(spark.createDataFrame([(1, "a")], "k int, v string"), "t")
    v2 = cat.write_replace(spark.createDataFrame([(2, "b")], "k int, v string"), "t")
    v3 = cat.write_replace(spark.createDataFrame([(3, "c")], "k int, v string"), "t")
    assert cat.current_version("t") == v3
    assert cat.versions("t") == [v1, v2, v3]
    # time travel: superseded versions stay readable
    assert cat.read("t", version=v1).collect()[0].v == "a"
    assert cat.read("t").collect()[0].v == "c"
    # retention keeps the newest 2; v1 is gone
    removed = cat.vacuum_table("t", keep=2)
    assert removed == [v1]
    with pytest.raises(FileNotFoundError):
        cat.read("t", version=v1)
    assert cat.read("t", version=v2).collect()[0].v == "b"
    assert cat.read("t").collect()[0].v == "c"


def test_bucketed_colocated_join_has_no_shuffle(spark, tmp_path):
    """Both sides written bucketed by the join key → the sort-merge join
    plans with ZERO shuffle exchanges (the bucketing carries the
    partitioning guarantee; only broadcast would otherwise avoid one)."""
    from pyspark.sql import functions as F

    from plan_inspect import exchanges
    from biocurator_mapper_spark.sources.bucketed import (
        colocated_join,
        write_bucketed,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left = spark.range(500).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            (F.col("id") * 2).alias("score"),
        )
        right = spark.range(400).select(
            F.concat(F.lit("u"), F.col("id")).alias("url"),
            (F.col("id") % 7).alias("verdict"),
        )
        write_bucketed(left, "t_left_bk", "url", n_buckets=8)
        write_bucketed(right, "t_right_bk", "url", n_buckets=8)
        joined = colocated_join(spark, "t_left_bk", "t_right_bk", "url")
        assert joined.count() == 400
        assert exchanges(joined) == []  # no shuffle on either side
        # control: the same join over non-bucketed frames DOES shuffle
        control = left.join(right, "url")
        assert len(exchanges(control)) >= 1
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS t_left_bk")
        spark.sql("DROP TABLE IF EXISTS t_right_bk")


def test_catalog_merge_upsert_bucket_cow(spark, tmp_path):
    """MERGE semantics (Iceberg MERGE INTO; the J3 incremental-update
    shape): update + insert + unchanged rows all survive in ONE new
    snapshot, and buckets untouched by the source are RE-LINKED, not
    rewritten (copy-on-write at bucket granularity)."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(f"GO:{i:04d}", f"name{i}", 1) for i in range(200)],
        "term_id string, name string, rev int",
    )
    v1 = cat.merge_upsert(base, "terms", ["term_id"], n_buckets=16)
    assert cat.read("terms").count() == 200

    delta = spark.createDataFrame(
        [("GO:0003", "renamed", 2), ("GO:9999", "brand-new", 2)],
        "term_id string, name string, rev int",
    )
    v2 = cat.merge_upsert(delta, "terms", ["term_id"])
    got = {r.term_id: (r.name, r.rev) for r in cat.read("terms").collect()}
    assert len(got) == 201
    assert got["GO:0003"] == ("renamed", 2)          # matched -> updated
    assert got["GO:9999"] == ("brand-new", 2)        # not matched -> inserted
    assert got["GO:0007"] == ("name7", 1)            # untouched -> preserved

    # copy-on-write: the v2 snapshot links most buckets back into v1's
    # merge run; only the buckets holding the two source keys are new
    tdir = cat._table_dir("terms")
    v1_targets = {
        n: os.path.realpath(os.path.join(tdir, v1, n))
        for n in os.listdir(os.path.join(tdir, v1))
        if n.startswith("part_bucket=")
    }
    rewritten = [
        n
        for n in os.listdir(os.path.join(tdir, v2))
        if n.startswith("part_bucket=")
        and os.path.realpath(os.path.join(tdir, v2, n)) != v1_targets.get(n)
    ]
    assert 1 <= len(rewritten) <= 2  # only the affected buckets

    # time travel still works; vacuum retires old snapshots then orphans
    assert {r.term_id for r in cat.read("terms", v1).collect()} >= {"GO:0003"}
    assert cat.read("terms", v1).count() == 200
    cat.vacuum_table("terms", keep=1)
    removed = cat.vacuum_merges("terms")
    assert removed == [] or all("m_" in p for p in removed)
    assert cat.read("terms").count() == 201  # live snapshot intact

    # duplicate source keys are an error, not a nondeterministic merge
    dup = spark.createDataFrame(
        [("GO:0001", "a", 3), ("GO:0001", "b", 3)],
        "term_id string, name string, rev int",
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="duplicate keys"):
        cat.merge_upsert(dup, "terms", ["term_id"])
    with _pytest.raises(ValueError, match="merge keys"):
        cat.merge_upsert(delta, "terms", ["name"])


def test_vacuum_table_protects_relinked_real_buckets(spark, tmp_path):
    """A table initialized with REAL bucket dirs (write_replace partitioned
    by part_bucket) gets those dirs symlink-relinked by a later merge;
    vacuum_table must refuse to delete the old version dir while a retained
    snapshot still resolves into it (deleting it would drop live data)."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(f"GO:{i:04d}", f"name{i}", 1) for i in range(100)],
        "term_id string, name string, rev int",
    ).withColumn("part_bucket", F.pmod(F.hash("term_id"), F.lit(8)))
    v1 = cat.write_replace(base, "terms", partition_by=["part_bucket"])
    delta = spark.createDataFrame(
        [("GO:0003", "renamed", 2)], "term_id string, name string, rev int"
    )
    v2 = cat.merge_upsert(delta, "terms", ["term_id"], n_buckets=8)
    tdir = cat._table_dir("terms")
    # sanity: v2 symlinks untouched buckets into v1's REAL dirs
    linked = [
        n for n in os.listdir(os.path.join(tdir, v2))
        if os.path.realpath(os.path.join(tdir, v2, n)).startswith(
            os.path.realpath(os.path.join(tdir, v1))
        )
    ]
    assert linked, "merge should re-link untouched real bucket dirs"
    removed = cat.vacuum_table("terms", keep=1)
    assert v1 not in removed and os.path.isdir(os.path.join(tdir, v1))
    got = {r.term_id: r.name for r in cat.read("terms").collect()}
    assert len(got) == 100 and got["GO:0003"] == "renamed"
    # a version nothing references IS still vacuumable
    v3 = cat.merge_upsert(
        spark.createDataFrame(
            [("GO:0004", "renamed2", 3)], "term_id string, name string, rev int"
        ),
        "terms",
        ["term_id"],
    )
    # v2's bucket links all re-resolve to v1/merge dirs, so v2 itself only
    # holds symlinks and can go once it falls out of the retained window
    removed2 = cat.vacuum_table("terms", keep=1)
    assert v2 in removed2 and cat.read("terms").count() == 100
    assert cat.current_version("terms") == v3


def test_compact_table_rewrites_and_unblocks_vacuum(spark, tmp_path):
    """Compaction (Iceberg rewrite_data_files): after N merges the live
    snapshot is a symlink chain of per-merge file sets; compact_table must
    produce an identical-content fully-real version, shrink the per-bucket
    file count to one, and let vacuum retire the chain afterwards."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(f"GO:{i:04d}", f"name{i}", 1) for i in range(120)],
        "term_id string, name string, rev int",
    )
    cat.merge_upsert(base, "terms", ["term_id"], n_buckets=4)
    for rev in (2, 3, 4):  # repeated merges pile up files per bucket
        delta = spark.createDataFrame(
            [(f"GO:{i:04d}", f"name{i}r{rev}", rev) for i in range(0, 120, 10)],
            "term_id string, name string, rev int",
        )
        cat.merge_upsert(delta, "terms", ["term_id"])
    before = {r.term_id: (r.name, r.rev) for r in cat.read("terms").collect()}
    v_new = cat.compact_table("terms")
    after = {r.term_id: (r.name, r.rev) for r in cat.read("terms").collect()}
    assert after == before  # content-identical
    tdir = cat._table_dir("terms")
    vdir = os.path.join(tdir, v_new)
    buckets = [n for n in os.listdir(vdir) if n.startswith("part_bucket=")]
    assert buckets, "compacted snapshot must be partitioned by bucket"
    for b in buckets:
        bdir = os.path.join(vdir, b)
        assert not os.path.islink(bdir)  # real dirs, no symlink chain
        files = [f for f in os.listdir(bdir) if f.endswith(".parquet")]
        assert len(files) == 1, (b, files)  # one file per bucket
    # the chain is now retirable: nothing in the retained window references
    # the old versions, so vacuum removes them and reads still work
    cat.vacuum_table("terms", keep=1)
    cat.vacuum_merges("terms")
    assert cat.versions("terms") == [v_new]
    assert not os.listdir(os.path.join(tdir, "merges"))
    assert {r.term_id: (r.name, r.rev) for r in cat.read("terms").collect()} == before


def test_compact_table_non_bucketed(spark, tmp_path):
    """Compaction of a plain write_replace table (no part_bucket column)
    rewrites content-identically without inventing partitioning."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    )
    cat.write_replace(df, "plain")
    v = cat.compact_table("plain")
    got = {r.k: r.v for r in cat.read("plain").collect()}
    assert got == {i: f"v{i}" for i in range(50)}
    vdir = os.path.join(cat._table_dir("plain"), v)
    assert not any(n.startswith("part_bucket=") for n in os.listdir(vdir))


def test_merge_log_commit_stats(spark, tmp_path):
    """Each merge appends one commit-summary row (Iceberg snapshot-summary
    analog): source rows, kept rows in rewritten buckets, bucket count."""
    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(i, i % 3) for i in range(30)], "k long, v long"
    )
    cat.merge_upsert(base, "t", ["k"], n_buckets=4)
    delta = spark.createDataFrame([(1, 99), (100, 1)], "k long, v long")
    v2 = cat.merge_upsert(delta, "t", ["k"])
    log = cat.read_log("_merge_log_t").orderBy("ts").collect()
    assert len(log) == 2
    first, second = log
    assert (first.n_source, first.n_kept) == (30, 0)  # init: full write
    assert second.version == v2
    assert second.n_source == 2
    # rewritten buckets carried everything except the matched key
    total_after = cat.read("t").count()
    assert total_after == 31
    rewritten_total = second.n_kept + second.n_source
    assert rewritten_total >= 2  # matched bucket's survivors + the 2 source rows


def test_append_rows_shares_a_log_with_spark_appends(spark, tmp_path):
    """A Spark-written batch (INT96 timestamps) and a pyarrow-written
    ``append_rows`` batch in one log read back as one relation with
    Spark's types. A leftover dot-prefixed temp file and a log directory
    with no data file are invisible to ``read_log``."""
    from datetime import datetime, timezone

    import pyarrow.parquet as pq

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    assert cat.read_log("_checkpoints") is None
    ddl = "run_id string, part_bucket int, n_rows long"
    log_dir = tmp_path / "wh" / "_checkpoints" / "log"
    spark.createDataFrame([("r1", 0, 5)], ddl).withColumn(
        "ts", F.current_timestamp()
    ).write.mode("append").parquet(str(log_dir))
    spark_file = next(log_dir.glob("part-*.parquet"))
    ts_col = pq.ParquetFile(spark_file).schema.column(3)
    assert ts_col.physical_type == "INT96"
    ts = datetime(2026, 1, 2, 3, 4, 5, 678901, tzinfo=timezone.utc)
    cat.append_rows(
        "_checkpoints", [("r2", 7, 2**40, ts)], ddl + ", ts timestamp"
    )
    (log_dir / ".part-leftover.parquet.tmp").write_bytes(b"not parquet")

    log = cat.read_log("_checkpoints")
    assert log.schema.simpleString() == (
        "struct<run_id:string,part_bucket:int,n_rows:bigint,ts:timestamp>"
    )
    got = {
        r.run_id: r
        for r in log.select(
            "run_id", "part_bucket", "n_rows",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        ).collect()
    }
    assert sorted(got) == ["r1", "r2"]
    assert (got["r2"].part_bucket, got["r2"].n_rows) == (7, 2**40)
    assert got["r2"].ts == "2026-01-02 03:04:05.678901"  # session tz is UTC

    (tmp_path / "wh" / "_empty" / "log").mkdir(parents=True)
    (tmp_path / "wh" / "_empty" / "log" / "_SUCCESS").touch()
    assert cat.read_log("_empty") is None


def test_merge_snapshot_isolation_for_readers(spark, tmp_path):
    """A reader that resolved the pre-merge snapshot keeps its exact view
    while (and after) a merge commits — old-or-new, never a mix."""
    import os

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    base = spark.createDataFrame(
        [(i, 1) for i in range(50)], "k long, rev long"
    )
    v1 = cat.merge_upsert(base, "t", ["k"], n_buckets=8)
    v1_dir = os.path.join(cat._table_dir("t"), v1)
    reader = spark.read.parquet(v1_dir)  # resolved the old pointer
    before = {(r.k, r.rev) for r in reader.collect()}

    cat.merge_upsert(
        spark.createDataFrame([(0, 2), (99, 2)], "k long, rev long"), "t", ["k"]
    )
    after_old = {(r.k, r.rev) for r in spark.read.parquet(v1_dir).collect()}
    assert after_old == before  # old snapshot untouched
    new = {(r.k, r.rev) for r in cat.read("t").collect()}
    assert (0, 2) in new and (99, 2) in new and (0, 1) not in new
    assert len(new) == 51


def test_merge_upsert_guards(spark, tmp_path):
    """Empty source on a missing table must raise (a pointer to an empty
    snapshot bricks the table); empty source on an existing table is a
    no-op keeping the current snapshot; NULL keys raise a null-key error,
    not a spurious duplicate-key one."""
    import pytest as _pytest

    cat = ParquetCatalog(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "k long, v long")
    with _pytest.raises(ValueError, match="empty merge source"):
        cat.merge_upsert(empty, "t", ["k"])

    v1 = cat.merge_upsert(
        spark.createDataFrame([(1, 1)], "k long, v long"), "t", ["k"]
    )
    assert cat.merge_upsert(empty, "t", ["k"]) == v1  # no-op keeps snapshot
    assert cat.read("t").count() == 1

    with _pytest.raises(ValueError, match="null values in merge key"):
        cat.merge_upsert(
            spark.createDataFrame([(None, 9)], "k long, v long"), "t", ["k"]
        )
