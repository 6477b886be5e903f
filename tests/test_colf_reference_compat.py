"""Cross-implementation compatibility with the reference COLF tooling:

- files written by the REFERENCE writer decode identically through OUR
  codec (M1 acceptance, SURVEY.md §7);
- files written by OUR codec decode identically through the REFERENCE
  reader (M2 acceptance) — run via subprocess against the read-only
  scripts at /root/reference (never modified)."""

import csv
import subprocess
import sys

import pytest

from conftest import REF, requires_reference

pytestmark = requires_reference


def run_ref(args, **kw):
    return subprocess.run([sys.executable, *args], capture_output=True,
                          text=True, **kw)


@pytest.fixture(scope="module")
def ref_small_colf(tmp_path_factory):
    """sample_small.csv converted by the reference writer."""
    tmp = tmp_path_factory.mktemp("refcompat")
    out = str(tmp / "small.colf")
    r = run_ref([f"{REF}/writer.py", "csv_to_custom", f"{REF}/sample_small.csv", out])
    assert r.returncode == 0, r.stderr
    return out


def test_read_reference_file(ref_small_colf):
    from columnar_format_spark.colf.format import read_all, read_schema

    schema = read_schema(ref_small_colf)
    names = [c.name for c in schema.columns]
    assert names == ["id", "name", "age", "city", "salary"]
    assert schema.num_rows == 30
    data = read_all(ref_small_colf)
    # spot-check against the source CSV
    with open(f"{REF}/sample_small.csv") as f:
        rows = list(csv.DictReader(f))
    assert data["id"] == [int(r["id"]) for r in rows]
    assert data["name"] == [r["name"] for r in rows]
    assert data["salary"] == [float(r["salary"]) for r in rows]


def test_reference_reads_our_file(tmp_path):
    """Byte-level compatibility: the reference CLI converts our .colf
    back to CSV with identical content, including NULL→'' and
    whitespace-preserving strings."""
    from columnar_format_spark.colf.format import ColfColumn, ColfSchema, write_colf

    schema = ColfSchema(4, [
        ColfColumn("id", "int32", True),
        ColfColumn("price", "float64", True),
        ColfColumn("note", "utf8", True),
    ])
    cols = {
        "id": [1, None, 3, -2147483648],
        "price": [1.5, 2.25, None, 1e300],
        "note": ["plain", " spaced  ", None, "日本語"],
    }
    ours = str(tmp_path / "ours.colf")
    write_colf(ours, schema, cols)
    out_csv = str(tmp_path / "back.csv")
    r = run_ref([f"{REF}/reader.py", "custom_to_csv", ours, out_csv])
    assert r.returncode == 0, r.stderr
    with open(out_csv) as f:
        rows = list(csv.DictReader(f))
    assert [row["id"] for row in rows] == ["1", "", "3", "-2147483648"]
    assert [row["price"] for row in rows] == ["1.5", "2.25", "", "1e+300"]
    assert [row["note"] for row in rows] == ["plain", " spaced  ", "", "日本語"]


def test_reference_selective_read_of_our_file(tmp_path):
    from columnar_format_spark.colf.format import ColfColumn, ColfSchema, write_colf

    schema = ColfSchema(3, [
        ColfColumn("a", "int32", False),
        ColfColumn("b", "utf8", False),
        ColfColumn("c", "float64", False),
    ])
    ours = str(tmp_path / "sel.colf")
    write_colf(ours, schema, {"a": [1, 2, 3], "b": ["x", "yy", "zzz"],
                              "c": [0.5, 1.5, 2.5]})
    r = run_ref([f"{REF}/reader.py", "read_columns", ours, "b"])
    assert r.returncode == 0, r.stderr
    assert r.stdout.splitlines()[:4] == ["b", "x", "yy", "zzz"]


def test_roundtrip_reference_medium(tmp_path, ref_medium_colf=None):
    """10k-row benchmark table (F2) through both implementations."""
    from columnar_format_spark.colf.format import read_all

    tmp = tmp_path
    out = str(tmp / "medium.colf")
    r = run_ref([f"{REF}/writer.py", "csv_to_custom", f"{REF}/sample_medium.csv", out])
    assert r.returncode == 0, r.stderr
    data = read_all(out)
    assert len(data["id"]) == 10000
    assert data["id"][0] == 1 and data["id"][-1] == 10000
    assert all(isinstance(v, float) for v in data["price"][:100])
