"""Self-tests of the benchmark's output checks (no Spark needed):

    python3 -m pytest jobbench/tests -q
"""

import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402


def _expect(table):
    rows, digest = check.digest_arrow(table)
    return {"rows": rows, "digest": digest, "columns": table.column_names}


def _write_parts(table, d, parts=3):
    """Write ``table`` as ``parts`` files in reverse row order, the way a
    writer that reorders rows and splits files would."""
    os.makedirs(d)
    rev = table.take(pa.array(np.arange(table.num_rows)[::-1]))
    step = -(-rev.num_rows // parts)
    for i in range(parts):
        pq.write_table(rev.slice(i * step, step), os.path.join(d, f"part-{i}.parquet"))


def _item(path, exp):
    return {"name": "t", "kind": "parquet", "path": path, "expect": exp}


def test_digest_ignores_row_and_file_order(tmp_path):
    t = gen.bulk_table(np.random.default_rng([1, 0]), 1000)
    _write_parts(t, str(tmp_path / "t"))
    assert check.check_output(_item(str(tmp_path / "t"), _expect(t)))["ok"]


def test_corrupted_output_fails(tmp_path):
    t = gen.bulk_table(np.random.default_rng([1, 0]), 1000)
    exp = _expect(t)
    price = t.column("price").to_numpy().copy()
    price[17] += 0.5
    bad_value = t.set_column(t.schema.get_field_index("price"), "price", pa.array(price))
    for name, bad in [
        ("value", bad_value),
        ("dropped_row", t.slice(1)),
        ("duplicated_row", pa.concat_tables([t, t.slice(0, 1)])),
        ("dropped_column", t.drop_columns(["note"])),
    ]:
        d = str(tmp_path / name)
        _write_parts(bad, d)
        assert not check.check_output(_item(d, exp))["ok"], name


def test_unreadable_output_fails(tmp_path):
    t = gen.bulk_table(np.random.default_rng([1, 0]), 10)
    d = tmp_path / "t"
    d.mkdir()
    (d / "part-0.parquet").write_bytes(b"not parquet")
    assert not check.check_output(_item(str(d), _expect(t)))["ok"]


def test_duckdb_target_checked_after_type_changes(tmp_path):
    """A DuckDB target stores int32 as INTEGER and the timestamp as
    TIMESTAMPTZ; the digest is the same, and a changed row is caught."""
    t = gen.bulk_table(np.random.default_rng([2, 0]), 500)
    path = str(tmp_path / "w.duckdb")
    con = duckdb.connect(path)
    con.register("src", t)
    con.execute("CREATE SCHEMA s; CREATE TABLE s.t AS SELECT * FROM src")
    con.close()
    item = {"name": "t", "kind": "duckdb", "path": path, "schema": "s", "table": "t",
            "expect": _expect(t)}
    assert check.check_output(item)["ok"]
    con = duckdb.connect(path)
    con.execute("UPDATE s.t SET region = 'X' WHERE id = 3")
    con.close()
    assert not check.check_output(item)["ok"]


def test_cdc_expected_state_matches_brute_force(tmp_path):
    spec = gen.gen_cdc(str(tmp_path), seed=5, base_rows=2000, delta_rows=200, deltas=3)
    state = gen.CdcState(np.random.default_rng([5, 0]), 2000)
    for k in range(3):
        state.apply(state.delta(np.random.default_rng([5, 1 + k]), 200))
        assert _expect(state.table(state.cols)) == spec["after"][k]
    assert spec["after"][-1]["rows"] == 2000 + 3 * 100


def test_generator_is_seeded(tmp_path):
    a = gen.generate("many_tables", 3, str(tmp_path / "a"))
    b = gen.generate("many_tables", 3, str(tmp_path / "b"))
    c = gen.generate("many_tables", 4, str(tmp_path / "c"))
    assert a["main"]["tables"] == b["main"]["tables"] != c["main"]["tables"]
