"""spark.read/write.format("colf") — the DataSource integration."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)


@pytest.fixture(scope="module")
def colf_spark(spark):
    from columnar_format_spark.colf.datasource import register

    register(spark)
    return spark


def test_write_read_roundtrip(colf_spark, tmp_path):
    df = colf_spark.createDataFrame(
        [(1, 1.5, "a"), (2, 2.5, None), (3, None, "c")],
        StructType([
            StructField("i", IntegerType(), False),
            StructField("f", DoubleType(), True),
            StructField("s", StringType(), True),
        ]),
    )
    path = str(tmp_path / "ds")
    df.coalesce(2).write.format("colf").mode("append").save(path)
    back = colf_spark.read.format("colf").load(path)
    assert back.schema == df.schema or [f.dataType for f in back.schema] == [
        f.dataType for f in df.schema]
    assert sorted(back.collect()) == sorted(df.collect())


def test_selective_read_option(colf_spark, tmp_path):
    from columnar_format_spark.colf.datasource import read_colf

    df = colf_spark.range(100).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") * 2.0).alias("dbl"),
        F.concat(F.lit("row"), F.col("id")).alias("name"),
    )
    path = str(tmp_path / "sel")
    df.coalesce(1).write.format("colf").mode("append").save(path)
    two = read_colf(colf_spark, path, ["name", "id"])
    assert two.columns == ["name", "id"]
    rows = {r["id"]: r["name"] for r in two.collect()}
    assert rows[7] == "row7"
    assert len(rows) == 100


def test_overwrite_mode(colf_spark, tmp_path):
    path = str(tmp_path / "ow")
    a = colf_spark.range(10).select(F.col("id").cast("int").alias("x"))
    b = colf_spark.range(5).select((F.col("id") + 100).cast("int").alias("x"))
    a.write.format("colf").mode("append").save(path)
    b.write.format("colf").mode("overwrite").save(path)
    back = colf_spark.read.format("colf").load(path)
    vals = sorted(r["x"] for r in back.collect())
    assert vals == [100, 101, 102, 103, 104]


def test_append_mode(colf_spark, tmp_path):
    path = str(tmp_path / "ap")
    a = colf_spark.range(3).select(F.col("id").cast("int").alias("x"))
    a.write.format("colf").mode("append").save(path)
    a.write.format("colf").mode("append").save(path)
    back = colf_spark.read.format("colf").load(path)
    assert back.count() == 6


def test_unsupported_type_rejected(colf_spark, tmp_path):
    df = colf_spark.range(3)  # LongType — outside the 3-type domain
    with pytest.raises(Exception, match="int32/float64/utf8"):
        df.write.format("colf").mode("append").save(str(tmp_path / "bad"))


def test_multifile_dataset_partitions(colf_spark, tmp_path):
    df = colf_spark.range(1000).select(F.col("id").cast("int").alias("id"))
    path = str(tmp_path / "multi")
    df.repartition(8).write.format("colf").mode("append").save(path)
    import glob

    files = glob.glob(f"{path}/part-*.colf")
    assert len(files) == 8
    back = colf_spark.read.format("colf").load(path)
    assert back.count() == 1000
    # one input partition per file
    assert back.rdd.getNumPartitions() == 8


def test_query_over_colf(colf_spark, tmp_path):
    """Full engine path: parquet → colf → DataFrame query."""
    li = colf_spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    small = li.select(
        F.col("l_linenumber").alias("ln"),
        F.col("l_quantity").alias("qty"),
        F.col("l_returnflag").alias("flag"),
    )
    path = str(tmp_path / "li")
    small.write.format("colf").mode("append").save(path)
    back = colf_spark.read.format("colf").load(path)
    got = (back.groupBy("flag").agg(F.sum(F.col("qty").cast("decimal(18,2)"))
                                    .cast("double").alias("s"))
           .orderBy("flag").collect())
    want = (small.groupBy("flag").agg(F.sum(F.col("qty").cast("decimal(18,2)"))
                                      .cast("double").alias("s"))
            .orderBy("flag").collect())
    assert got == want


def test_append_schema_mismatch_is_a_clean_error(colf_spark, tmp_path):
    """Appending a different schema must fail loudly — the reader
    takes the dataset schema from its first file, so a silent mixed-
    schema append would decode later files into the wrong columns."""
    path = str(tmp_path / "ds")
    colf_spark.range(5).select(F.col("id").cast("int").alias("a")) \
        .coalesce(1).write.format("colf").mode("overwrite").save(path)
    # same name, different type
    bad_type = colf_spark.range(3).select((F.col("id") * 1.5).alias("a"))
    with pytest.raises(Exception) as ei:
        bad_type.coalesce(1).write.format("colf").mode("append").save(path)
    assert "schema mismatch" in str(ei.value)
    # different name
    bad_name = colf_spark.range(3).select(F.col("id").cast("int").alias("b"))
    with pytest.raises(Exception) as ei:
        bad_name.coalesce(1).write.format("colf").mode("append").save(path)
    assert "schema mismatch" in str(ei.value)
    # matching schema still appends; nullability difference is allowed
    colf_spark.createDataFrame([(None,), (7,)], "a int") \
        .coalesce(1).write.format("colf").mode("append").save(path)
    got = sorted(r.a for r in colf_spark.read.format("colf").load(path).collect()
                 if r.a is not None)
    assert got == [0, 1, 2, 3, 4, 7]
    # overwrite with a new schema is the sanctioned replace path
    colf_spark.range(2).select((F.col("id") * 1.0).alias("z")) \
        .coalesce(1).write.format("colf").mode("overwrite").save(path)
    assert colf_spark.read.format("colf").load(path).columns == ["z"]


def test_partition_columns_split_homogeneous(colf_spark, tmp_path):
    """partitionColumns splits each task's rows into value-homogeneous
    files; the manifest records the partition tuple and zone maps give
    exact (min==max==value) pruning with no reader change."""
    from pyspark.sql.datasource import EqualTo

    from columnar_format_spark.colf.datasource import (
        ColfReader, load_manifest)

    df = colf_spark.createDataFrame(
        [(i, ["red", "green", "blue"][i % 3], float(i)) for i in range(60)],
        StructType([
            StructField("k", IntegerType(), False),
            StructField("color", StringType(), True),
            StructField("v", DoubleType(), True),
        ]),
    )
    path = str(tmp_path / "p")
    # deliberately NOT repartitioned by color: 4 tasks each hold all 3
    # values, so the split must produce 12 files, every one pure
    (df.repartition(4).write.format("colf")
     .option("partitionColumns", "color").mode("overwrite").save(path))
    manifest = load_manifest(path)
    assert len(manifest) == 12
    for entry in manifest.values():
        part = entry["partition"]["color"]
        cstats = entry["columns"]["color"]
        assert cstats["min"] == cstats["max"] == part
    back = colf_spark.read.format("colf").load(path)
    assert sorted(r["k"] for r in back.collect()) == list(range(60))

    r = ColfReader({"path": path}, back.schema)
    r.pushFilters([EqualTo(("color",), "green")])
    opened = {p.file for p in r.partitions() if p.file is not None}
    assert len(opened) == 4  # exactly the 4 green files of 12


def test_partition_columns_one_file_per_value_when_repartitioned(
        colf_spark, tmp_path):
    from columnar_format_spark.colf.datasource import load_manifest

    df = colf_spark.createDataFrame(
        [(i, f"g{i % 5}") for i in range(100)],
        StructType([
            StructField("k", IntegerType(), False),
            StructField("grp", StringType(), True),
        ]),
    )
    path = str(tmp_path / "p1")
    (df.repartition(8, "grp").write.format("colf")
     .option("partitionColumns", "grp").mode("overwrite").save(path))
    manifest = load_manifest(path)
    values = sorted(e["partition"]["grp"] for e in manifest.values())
    assert values == [f"g{i}" for i in range(5)]  # one file per value
    # append keeps the layout additive: new files, tuples recorded
    (df.limit(10).repartition(2, "grp").write.format("colf")
     .option("partitionColumns", "grp").mode("append").save(path))
    back = colf_spark.read.format("colf").load(path)
    assert back.count() == 110


def test_partition_columns_nulls_and_validation(colf_spark, tmp_path):
    from pyspark.sql.datasource import IsNull

    from columnar_format_spark.colf.datasource import (
        ColfReader, load_manifest)

    df = colf_spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, None)],
        StructType([
            StructField("k", IntegerType(), False),
            StructField("tag", StringType(), True),
        ]),
    )
    path = str(tmp_path / "pn")
    (df.coalesce(1).write.format("colf")
     .option("partitionColumns", "tag").mode("overwrite").save(path))
    manifest = load_manifest(path)
    assert sorted(str(e["partition"]["tag"]) for e in manifest.values()) \
        == ["None", "a"]
    back = colf_spark.read.format("colf").load(path)
    r = ColfReader({"path": path}, back.schema)
    r.pushFilters([IsNull(("tag",))])
    opened = {p.file for p in r.partitions() if p.file is not None}
    assert len(opened) == 1  # null tuple prunes to its own file
    assert sorted(r["k"] for r in
                  back.filter(F.col("tag").isNull()).collect()) == [2, 4]

    for bad in ("nope", "k,nope"):
        with pytest.raises(Exception, match="unknown column"):
            (df.write.format("colf").option("partitionColumns", bad)
             .mode("overwrite").save(str(tmp_path / "bad1")))
    dff = colf_spark.createDataFrame(
        [(1.5, "a")],
        StructType([StructField("f", DoubleType(), True),
                    StructField("s", StringType(), True)]))
    with pytest.raises(Exception, match="float64"):
        (dff.write.format("colf").option("partitionColumns", "f")
         .mode("overwrite").save(str(tmp_path / "bad2")))


def test_partitioned_layout_survives_maintenance(colf_spark, tmp_path):
    """compact() and delete_where() on a partitionColumns dataset keep
    files value-homogeneous and the manifest tuples recorded, so the
    layout's exact pruning survives maintenance."""
    from columnar_format_spark.colf.datasource import load_manifest
    from columnar_format_spark.colf.maintenance import (
        compact, delete_where)

    df = colf_spark.createDataFrame(
        [(i, ["x", "y", "z"][i % 3]) for i in range(90)],
        StructType([
            StructField("k", IntegerType(), False),
            StructField("grp", StringType(), True),
        ]),
    )
    path = str(tmp_path / "pm")
    # scattered upstream: 4 tasks x 3 values = 12 small files
    (df.repartition(4).write.format("colf")
     .option("partitionColumns", "grp").mode("overwrite").save(path))
    assert len(load_manifest(path)) == 12

    n = compact(colf_spark, path, target_files=4)
    manifest = load_manifest(path)
    assert n == 3  # one file per partition tuple, not target_files
    assert sorted(e["partition"]["grp"] for e in manifest.values()) \
        == ["x", "y", "z"]
    back = colf_spark.read.format("colf").load(path)
    assert back.count() == 90

    res = delete_where(colf_spark, path, "k < 30 AND grp = 'x'")
    assert res["n_deleted_rows"] == 10
    manifest = load_manifest(path)
    live = colf_spark.read.format("colf").load(path)
    assert live.count() == 80
    for e in manifest.values():
        part = e["partition"]["grp"]
        cstats = e["columns"]["grp"]
        assert cstats["min"] == cstats["max"] == part


def test_partition_columns_adversarial_values(colf_spark, tmp_path):
    """Tuple-key encoding must be injective for arbitrary bytes: values
    containing control characters, a value spelling a NULL-sentinel,
    and boundary-straddling pairs like ("a\\x1fb","c") vs ("a","b\\x1fc")
    must land in DISTINCT homogeneous files; NULL is its own tuple."""
    from columnar_format_spark.colf.datasource import load_manifest

    rows = [
        (1, "a\x1fb", "c"),
        (2, "a", "b\x1fc"),
        (3, "\x00null", "x"),
        (4, None, "x"),
        (5, "", ""),
        (6, "", None),
    ]
    df = colf_spark.createDataFrame(
        rows, "k int, p1 string, p2 string")
    path = str(tmp_path / "adv")
    (df.coalesce(1).write.format("colf")
     .option("partitionColumns", "p1,p2").mode("overwrite").save(path))
    manifest = load_manifest(path)
    tuples = sorted((str(e["partition"]["p1"]), str(e["partition"]["p2"]))
                    for e in manifest.values())
    assert len(manifest) == 6, tuples  # every distinct tuple its own file
    back = colf_spark.read.format("colf").load(path)
    assert sorted(r["k"] for r in back.collect()) == [1, 2, 3, 4, 5, 6]
    got = {(r["p1"], r["p2"]) for r in back.collect()}
    assert got == {(a, b) for _, a, b in rows}


def test_partition_columns_compose_with_blooms(colf_spark, tmp_path):
    """partitionColumns and bloomColumns compose: every split file
    carries its own Bloom sidecar entry, so a point lookup on the
    bloom key prunes WITHIN a partition's files too."""
    from columnar_format_spark.colf.datasource import (
        load_blooms, load_manifest)

    df = colf_spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(40)], "k int, grp string")
    path = str(tmp_path / "pb")
    (df.repartition(2, "grp").write.format("colf")
     .option("partitionColumns", "grp")
     .option("bloomColumns", "k")
     .mode("overwrite").save(path))
    manifest = load_manifest(path)
    blooms = load_blooms(path)
    assert set(blooms) == set(manifest) and len(manifest) == 2
    for per in blooms.values():
        assert "k" in per["columns"]


def test_partition_columns_cardinality_guard(colf_spark, tmp_path):
    """A near-unique partition key must fail fast (one file per tuple
    would shatter the dataset into per-row files), with an error that
    names the cap. The cap rides a writer option because the split
    runs in executor workers where a test monkeypatch cannot reach."""
    df = colf_spark.createDataFrame(
        [(i, f"u{i}") for i in range(50)], "k int, uid string")
    with pytest.raises(Exception, match="too high-cardinality"):
        (df.coalesce(1).write.format("colf")
         .option("partitionColumns", "uid")
         .option("partitionTupleCap", "10")
         .mode("overwrite").save(str(tmp_path / "hc")))


def test_python_workers_do_not_reread_unchanged_zips(spark):
    """Spark's Python workers call importlib.invalidate_caches() once per
    task; with the package imported (as unpickling engine code does) an
    unchanged pyspark.zip or jar on the worker's path is not re-read.
    Pins the shim in the real worker, whatever path the JVM builds."""
    import sys

    def count_rereads(_):
        import importlib
        import sys
        import zipimport

        import columnar_format_spark  # noqa: F401  (installs the shim)

        # Importers made before the shim re-read once; a reused worker
        # did that on its previous task.
        importlib.invalidate_caches()
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        importers = sum(isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values())
        yield importers, len(reads)

    [(importers, rereads)] = (spark.sparkContext.parallelize([0], 1)
                              .mapPartitions(count_rereads).collect())
    if importers == 0:
        pytest.skip("the workers import nothing from zip archives")
    if sys.version_info < (3, 13):
        assert rereads == 0, (importers, rereads)
