"""Seeded inputs and the lineage summary the correctness gate compares."""

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs
from perfbench.gate import lineage_summary


def test_same_seed_same_inputs_other_seed_other_inputs():
    assert inputs.pages_table(500, 3).equals(inputs.pages_table(500, 3))
    assert not inputs.pages_table(500, 3).equals(inputs.pages_table(500, 4))
    f = inputs.features_table(3, 10, 5, 10, extent=0.3)
    assert f.equals(inputs.features_table(3, 10, 5, 10, extent=0.3))
    assert f.num_rows == 25 and f.schema == inputs.FEATURE_SCHEMA


def test_page_shape_follows_synth():
    t = inputs.pages_table(5000, 1)
    geotagged = sum("coords: " in s for s in t["text"].to_pylist())
    assert 0.75 < geotagged / t.num_rows < 0.85
    assert t.column_names == ["url", "warc_ts", "html", "text", "lang"]


def test_wkb_polygon_rings_are_closed():
    import numpy as np

    ring = np.array([[0.0, 0.0], [1.0, 0.0], [0.0, 1.0]])
    blob = inputs.wkb(3, [ring])
    assert blob[:5] == b"\x01\x03\x00\x00\x00"
    assert len(blob) == 5 + 4 + 4 + 4 * 16  # one ring, 3 points + closing point


def test_lineage_summary_ignores_row_order_and_file_split(tmp_path):
    rows = {
        "bucket": [0, 1, 2], "key_min": ["a", "b", "c"], "key_max": ["a", "b", "d"],
        "row_count": [1, 1, 2], "digest": [11, 12, 13], "stage": ["s"] * 3,
    }
    t = pa.table(rows)
    (tmp_path / "one").mkdir()
    pq.write_table(t, tmp_path / "one" / "part-0.parquet")
    (tmp_path / "two").mkdir()
    pq.write_table(t.slice(2), tmp_path / "two" / "part-0.parquet")
    pq.write_table(t.slice(0, 2), tmp_path / "two" / "part-1.parquet")
    a, b = lineage_summary(str(tmp_path / "one")), lineage_summary(str(tmp_path / "two"))
    assert a == b and a["rows"] == 4
    changed = t.set_column(4, "digest", pa.array([11, 12, 14]))
    (tmp_path / "three").mkdir()
    pq.write_table(changed, tmp_path / "three" / "part-0.parquet")
    assert lineage_summary(str(tmp_path / "three"))["sha"] != a["sha"]
