"""CLI parity: our command surface mirrors the reference's writer.py /
reader.py entry points, and our pure-Python ingest path produces files
the REFERENCE reader decodes identically (and vice versa)."""

import csv
import json
import subprocess
import sys

from conftest import REF, requires_reference

CLI = [sys.executable, "-m", "columnar_format_spark.colf.cli"]


def write_csv(path, header, rows):
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


SAMPLE = (["id", "price", "name", "note"],
          [[1, 1.5, "alice", "x"],
           [2, "", "böb  ", ""],            # blank price/note -> NULL
           ["", 3.25, "日本語", "keep"]])    # blank id -> NULL


def run(cmd, **kw):
    return subprocess.run(cmd, capture_output=True, text=True, **kw)


def test_roundtrip_through_our_cli(tmp_path):
    csv_in = str(tmp_path / "in.csv")
    colf = str(tmp_path / "t.colf")
    csv_out = str(tmp_path / "out.csv")
    write_csv(csv_in, *SAMPLE)
    assert run(CLI + ["csv_to_custom", csv_in, colf], cwd="/root/repo").returncode == 0
    assert run(CLI + ["custom_to_csv", colf, csv_out], cwd="/root/repo").returncode == 0
    got = list(csv.reader(open(csv_out)))
    assert got[0] == SAMPLE[0]
    assert got[1] == ["1", "1.5", "alice", "x"]
    assert got[2] == ["2", "", "böb  ", ""]       # whitespace kept, nulls -> ""
    assert got[3] == ["", "3.25", "日本語", "keep"]


@requires_reference
def test_our_writer_reference_reader(tmp_path):
    csv_in = str(tmp_path / "in.csv")
    colf = str(tmp_path / "t.colf")
    ref_out = str(tmp_path / "ref.csv")
    write_csv(csv_in, *SAMPLE)
    assert run(CLI + ["csv_to_custom", csv_in, colf], cwd="/root/repo").returncode == 0
    r = run([sys.executable, f"{REF}/reader.py", "custom_to_csv", colf, ref_out], cwd=REF)
    assert r.returncode == 0, r.stderr
    got = list(csv.reader(open(ref_out)))
    assert got[1] == ["1", "1.5", "alice", "x"]
    assert got[3] == ["", "3.25", "日本語", "keep"]


@requires_reference
def test_reference_writer_our_cli_reader(tmp_path):
    csv_in = str(tmp_path / "in.csv")
    colf = str(tmp_path / "t.colf")
    write_csv(csv_in, *SAMPLE)
    r = run([sys.executable, f"{REF}/writer.py", "csv_to_custom", csv_in, colf], cwd=REF)
    assert r.returncode == 0, r.stderr
    out = run(CLI + ["read_columns", colf, "name,price"], cwd="/root/repo")
    assert out.returncode == 0, out.stderr
    got = list(csv.reader(out.stdout.splitlines()))
    assert got[0] == ["name", "price"]
    assert [row[0] for row in got[1:]] == ["alice", "böb  ", "日本語"]
    assert [row[1] for row in got[1:]] == ["1.5", "", "3.25"]


def test_inspect_header_and_missing_column(tmp_path):
    csv_in = str(tmp_path / "in.csv")
    colf = str(tmp_path / "t.colf")
    write_csv(csv_in, *SAMPLE)
    run(CLI + ["csv_to_custom", csv_in, colf], cwd="/root/repo")
    out = run(CLI + ["inspect_header", colf], cwd="/root/repo")
    doc = json.loads(out.stdout)
    assert doc["num_rows"] == 3
    assert [c["type"] for c in doc["columns"]] == ["int32", "float64", "utf8", "utf8"]
    assert [c["nullable"] for c in doc["columns"]] == [True, True, False, True]
    bad = run(CLI + ["read_columns", colf, "nope"], cwd="/root/repo")
    assert bad.returncode != 0  # KeyError, like reader.py:176-177


@requires_reference
def test_header_only_csv_is_defined(tmp_path):
    csv_in = str(tmp_path / "empty.csv")
    colf = str(tmp_path / "t.colf")
    csv_out = str(tmp_path / "out.csv")
    write_csv(csv_in, ["a", "b"], [])
    # reference writer raises here (SURVEY.md §5); engine defines it
    assert run(CLI + ["csv_to_custom", csv_in, colf], cwd="/root/repo").returncode == 0
    assert run(CLI + ["custom_to_csv", colf, csv_out], cwd="/root/repo").returncode == 0
    assert list(csv.reader(open(csv_out))) == [["a", "b"]]
    # and the reference READER accepts our 0-row file (its 0-row path
    # is dead code in the reference repo, reader.py:239-251)
    ref_out = str(tmp_path / "ref.csv")
    r = run([sys.executable, f"{REF}/reader.py", "custom_to_csv", colf, ref_out], cwd=REF)
    assert r.returncode == 0, r.stderr
    assert list(csv.reader(open(ref_out))) == [["a", "b"]]


def test_usage_errors():
    assert run(CLI, cwd="/root/repo").returncode == 2
    assert run(CLI + ["csv_to_custom", "onlyone"], cwd="/root/repo").returncode == 2
    assert run(CLI + ["nonsense"], cwd="/root/repo").returncode == 2


def test_cli_snapshots_lists_versions(spark, tmp_path, capsys):
    import json as _json

    from columnar_format_spark.colf import cli
    from columnar_format_spark.colf.datasource import register
    from pyspark.sql import functions as F

    register(spark)
    path = str(tmp_path / "snapds")
    df = spark.range(10).select(F.col("id").cast("int").alias("v"))
    df.coalesce(1).write.format("colf").mode("overwrite").save(path)
    df.coalesce(1).write.format("colf").mode("append").save(path)
    assert cli.main(["snapshots", path]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert [s["version"] for s in out] == [1, 2]
    assert out[0]["n_files"] == 1 and out[1]["n_files"] == 2
    assert out[0]["num_rows"] == 10 and out[1]["num_rows"] == 20


def test_cli_stats_dumps_zone_maps(spark, tmp_path, capsys):
    import json as _json

    from columnar_format_spark.colf import cli
    from columnar_format_spark.colf.datasource import register
    from pyspark.sql import functions as F

    register(spark)
    path = str(tmp_path / "statds")
    df = spark.range(100).select(F.col("id").cast("int").alias("id"),
                                 (F.col("id") % 5).cast("string").alias("t"))
    df.coalesce(1).write.format("colf").mode("overwrite").save(path)
    # additive evolution: the schema section must show the union
    df2 = df.withColumn("x", (F.col("id") * 2.0))
    df2.coalesce(1).write.format("colf").mode("append").save(path)
    assert cli.main(["stats", path]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["n_live_files"] == 2
    assert [c["name"] for c in out["dataset_schema"]] == ["id", "t", "x"]
    stats = list(out["files"].values())
    assert sum(s["num_rows"] for s in stats) == 200
    ids = [s["columns"]["id"] for s in stats]
    assert all(c["min"] == 0 and c["max"] == 99 for c in ids)


def test_cli_stats_includes_bloom_summary(spark, tmp_path, capsys):
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf import cli
    from columnar_format_spark.colf.datasource import register

    register(spark)
    path = str(tmp_path / "ds")
    (spark.range(0, 100).select(F.col("id").cast("int").alias("k"))
     .repartition(2).write.format("colf")
     .option("bloomColumns", "k").mode("overwrite").save(path))
    assert cli.main(["stats", path]) == 0
    doc = _json.loads(capsys.readouterr().out)
    assert len(doc["blooms"]) == 2
    for per_file in doc["blooms"].values():
        bl = per_file["columns"]["k"]
        assert bl["n"] > 0 and bl["m"] >= 64 and "b64" not in bl


def test_cli_partitions(spark, tmp_path, capsys):
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.cli import main
    from columnar_format_spark.colf.datasource import register

    register(spark)
    d = str(tmp_path / "pds")
    (spark.range(30)
     .select(F.col("id").cast("int").alias("k"),
             F.concat(F.lit("g"), (F.col("id") % 3).cast("int")).alias("grp"))
     .coalesce(1).write.format("colf")
     .option("partitionColumns", "grp").mode("overwrite").save(d))
    assert main(["partitions", d]) == 0
    doc = _json.loads(capsys.readouterr().out)
    assert doc["n_live_files"] == 3
    assert [p["partition"]["grp"] for p in doc["partitions"]] \
        == ["g0", "g1", "g2"]
    assert all(p["num_rows"] == 10 and p["n_files"] == 1
               for p in doc["partitions"])
    assert "unpartitioned" not in doc


def test_cli_evolve_spec_and_sort_order(spark, tmp_path, capsys):
    """The two metadata-only table operations are shell-reachable:
    evolve_spec records a new partition spec, set_sort_order a new
    sort order, both visible in the partitions inspector."""
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.cli import main as cli_main
    from columnar_format_spark.colf.datasource import register

    register(spark)
    p = str(tmp_path / "cds")
    (spark.range(100).select(F.col("id").cast("int").alias("k"),
                             (F.col("id") % 3).cast("string").alias("g"))
     .coalesce(1).write.format("colf")
     .option("partitionColumns", "g").mode("overwrite").save(p))

    assert cli_main(["evolve_spec", p, "bucket(4,k)"]) == 0
    assert cli_main(["set_sort_order", p, "k"]) == 0
    capsys.readouterr()
    assert cli_main(["partitions", p]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert out["current_spec"] == ["bucket(4,k)"]
    assert out["sort_order"] == ["k"]
    import pytest as _pytest

    from columnar_format_spark.colf.format import ColfFormatError

    with _pytest.raises(ColfFormatError):
        cli_main(["evolve_spec", p, "nope"])


def test_cli_diff_row_accurate(spark, tmp_path, capsys):
    """`diff <ds> <v1> <v2>`: row-accurate snapshot diff from the
    shell. The history includes a CoW delete, so rewritten survivor
    files carry rows from both versions — the diff must see through
    the rewrite (file-level counting alone would over-report)."""
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.cli import main as cli_main
    from columnar_format_spark.colf.datasource import register
    from columnar_format_spark.colf.maintenance import delete_where

    register(spark)
    p = str(tmp_path / "dds")
    (spark.range(100).select(F.col("id").cast("int").alias("k"),
                             (F.col("id") % 2).cast("string").alias("g"))
     .coalesce(2).write.format("colf").mode("overwrite").save(p))
    delete_where(spark, p, "k >= 90")                    # v2: -10 rows
    (spark.range(200, 205).select(F.col("id").cast("int").alias("k"),
                                  F.lit("9").alias("g"))
     .coalesce(1).write.format("colf").mode("append").save(p))  # v3: +5

    assert cli_main(["diff", p, "1", "current"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert (out["n_added"], out["n_removed"]) == (5, 10)
    assert out["n_v1"] == 100 and out["n_v2"] == 95
    assert cli_main(["diff", p, "1", "2"]) == 0
    out = _json.loads(capsys.readouterr().out)
    assert (out["n_added"], out["n_removed"]) == (0, 10)
    # unknown version is a loud usage error, not a traceback
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli_main(["diff", p, "1", "99"])


def test_cli_changelog_rows(spark, tmp_path, capsys):
    """`changelog <ds> <v1> <v2>` prints one JSON line per changed row
    (deletes then inserts), sees through a CoW rewrite, and honors the
    limit."""
    import json as _json

    from pyspark.sql import functions as F

    from columnar_format_spark.colf.cli import main as cli_main
    from columnar_format_spark.colf.datasource import register
    from columnar_format_spark.colf.maintenance import delete_where

    register(spark)
    p = str(tmp_path / "chds")
    (spark.range(20).select(F.col("id").cast("int").alias("k"))
     .coalesce(2).write.format("colf").mode("overwrite").save(p))
    delete_where(spark, p, "k >= 17")                   # v2: -3
    (spark.range(100, 102).select(F.col("id").cast("int").alias("k"))
     .coalesce(1).write.format("colf").mode("append").save(p))  # v3: +2

    assert cli_main(["changelog", p, "1", "current"]) == 0
    lines = [_json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert [(r["op"], r["k"]) for r in lines] == [
        ("delete", 17), ("delete", 18), ("delete", 19),
        ("insert", 100), ("insert", 101)]
    # limit truncates with an explicit marker
    assert cli_main(["changelog", p, "1", "current", "2"]) == 0
    lines = [_json.loads(ln) for ln in
             capsys.readouterr().out.strip().splitlines()]
    assert len(lines) == 3 and lines[-1] == {"truncated": True, "limit": 2}
