"""CSV ingest fidelity vs the reference's inference semantics —
FIXTURES.md F3/F5/F6 (the verified probe matrix), plus a differential
test against the actual reference writer via subprocess."""

import csv
import subprocess
import sys

import pytest

from conftest import REF, requires_reference


def write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


@pytest.fixture(scope="module")
def colf_spark(spark):
    from columnar_format_spark.colf.datasource import register

    register(spark)
    return spark


def ingest(colf_spark, tmp_path, header, rows):
    from columnar_format_spark.colf.csv_ingest import (
        apply_colf_schema, infer_colf_types, read_csv_raw,
    )

    src = str(tmp_path / "in.csv")
    write_csv(src, header, rows)
    raw = read_csv_raw(colf_spark, src)
    schema = infer_colf_types(raw)
    typed = apply_colf_schema(raw, schema)
    return schema, typed


def test_edgecase_matrix(colf_spark, tmp_path):
    """FIXTURES.md F6, one column per verified reference semantic."""
    header = ["ws_null", "int_float_mix", "signed", "special_floats",
              "boolish", "all_blank", "unicode", "tab_ws"]
    rows = [
        ["  ",        "1",   "-5", "nan",  "True",  "", "héllo", "\t5"],
        ["hello",     "2.5", "+7", "inf",  "False", "", "日本語", "\t"],
        [" spaced  ", "3",   "0",  "-1.5", "x",     "", "z",     "7\t"],
    ]
    schema, typed = ingest(colf_spark, tmp_path, header, rows)
    types = {c["name"]: (c["type"], c["nullable"]) for c in schema}
    assert types["ws_null"] == ("utf8", True)
    assert types["int_float_mix"] == ("float64", False)
    assert types["signed"] == ("int32", False)
    assert types["special_floats"] == ("float64", False)
    assert types["boolish"] == ("utf8", False)
    assert types["all_blank"] == ("int32", True)      # rule 3
    assert types["unicode"] == ("utf8", False)
    # Python int()/strip() treat \t as whitespace: "\t5" is int 5,
    # "\t" alone is blank => NULL (reference writer.py uses bare
    # int(vv) / vv.strip())
    assert types["tab_ws"] == ("int32", True)

    data = {c: [r[c] for r in typed.collect()] for c in typed.columns}
    assert data["ws_null"] == [None, "hello", " spaced  "]  # verbatim spaces
    assert data["int_float_mix"] == [1.0, 2.5, 3.0]
    assert data["signed"] == [-5, 7, 0]
    import math

    assert math.isnan(data["special_floats"][0])
    assert data["special_floats"][1] == float("inf")
    assert data["all_blank"] == [None, None, None]
    assert data["unicode"] == ["héllo", "日本語", "z"]
    assert data["tab_ws"] == [5, None, 7]


def test_int32_overflow_clean_error(colf_spark, tmp_path):
    from columnar_format_spark.colf.format import ColfFormatError

    with pytest.raises(ColfFormatError, match="int32 overflow in column 'x'"):
        ingest(colf_spark, tmp_path, ["x"], [["1"], [str(2**40)]])


def test_python_literal_quirks(colf_spark, tmp_path):
    """Underscore literals and spaced numerics parse like Python
    int()/float(); '1__0' and '.e3' do not."""
    schema, typed = ingest(
        colf_spark, tmp_path,
        ["u_int", "bad_underscore", "spaced_num", "dot_exp"],
        [["1_000", "1__0", "  12  ", ".e3"],
         ["2_5",   "7",    " 3 ",    "1"]],
    )
    types = {c["name"]: c["type"] for c in schema}
    assert types["u_int"] == "int32"
    assert types["bad_underscore"] == "utf8"
    assert types["spaced_num"] == "int32"
    assert types["dot_exp"] == "utf8"
    data = typed.collect()
    assert [r["u_int"] for r in data] == [1000, 25]
    assert [r["spaced_num"] for r in data] == [12, 3]


def test_header_only_csv_defined_behavior(colf_spark, tmp_path):
    """Reference writer crashes on 0-row CSV (writer.py:153-154); the
    engine writes a valid 0-row dataset instead (M3b)."""
    from columnar_format_spark.colf.csv_ingest import csv_to_colf

    src = str(tmp_path / "empty.csv")
    write_csv(src, ["a", "b"], [])
    out = str(tmp_path / "empty_colf")
    schema = csv_to_colf(colf_spark, src, out)
    assert [c["name"] for c in schema] == ["a", "b"]
    assert [c["type"] for c in schema] == ["int32", "int32"]  # rule 3
    back = colf_spark.read.format("colf").load(out)
    assert back.count() == 0
    assert back.columns == ["a", "b"]


@requires_reference
def test_differential_vs_reference_writer(colf_spark, tmp_path):
    """Differential fidelity: ingest a mixed CSV with both pipelines,
    read both .colf outputs with our codec, values must agree."""
    from columnar_format_spark.colf.csv_ingest import csv_to_colf

    # w probes the two Python whitespace sets (csv_ingest's two-strip
    # comment): "\x855" is int 5 to int(), "\x1c" alone is blank =>
    # NULL via str.strip(), "\t7" is int 7
    header = ["i", "f", "s", "w"]
    rows = [
        ["1", "1.5", "alpha", "\x855"],
        ["", "2", "  ", "\x1c"],
        ["-3", "nan", "beta ", "\t7"],
        ["+4", "1e3", "日本", "9"],
    ]
    src = str(tmp_path / "diff.csv")
    write_csv(src, header, rows)

    ref_out = str(tmp_path / "ref.colf")
    r = subprocess.run([sys.executable, f"{REF}/writer.py", "csv_to_custom",
                        src, ref_out], capture_output=True, text=True)
    assert r.returncode == 0, r.stderr

    ours_out = str(tmp_path / "ours_colf")
    csv_to_colf(colf_spark, src, ours_out)

    from columnar_format_spark.colf.format import read_all, read_schema

    ref_data = read_all(ref_out)
    ref_schema = read_schema(ref_out)
    ours = colf_spark.read.format("colf").load(ours_out)
    ours_schema = {f.name: f.dataType.simpleString() for f in ours.schema.fields}
    expect_map = {"int32": "int", "float64": "double", "utf8": "string"}
    for c in ref_schema.columns:
        assert ours_schema[c.name] == expect_map[c.type]
    got = {c: [] for c in header}
    for row in sorted(ours.collect(), key=lambda r: (r["i"] is None, r["i"] or 0)):
        for c in header:
            got[c].append(row[c])

    def key(vals):
        import math

        return sorted(
            ("N" if v is None else ("nan" if isinstance(v, float) and math.isnan(v) else v)
             for v in vals),
            key=repr,
        )

    for c in header:
        assert key(got[c]) == key(ref_data[c]), c
