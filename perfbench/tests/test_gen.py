"""The generator's expected outcomes, checked against the file it wrote."""

from __future__ import annotations

import numpy as np
import pytest

import gen
from oe_batch_processing_spark.sources.csv_source import CsvOptions, parse_record


@pytest.fixture(scope="module")
def written(tmp_path_factory):
    path = tmp_path_factory.mktemp("gen") / "records.csv"
    exp = gen.write_ingest_csv(str(path), 5_000, seed=3, stub_seed=9)
    return path, exp


def test_expected_counts_add_up(written):
    _, exp = written
    assert set(exp.malformed.values()) == set(gen.ERROR_TEXT)
    assert exp.counts(rest=False) == {
        "totalRecordCount": 5_000,
        "successCount": 5_000 - len(exp.malformed),
        "failureCount": len(exp.malformed),
    }
    rest = exp.counts(rest=True)
    assert rest["failureCount"] == len(exp.malformed) + len(exp.rejected)
    assert rest["successCount"] + rest["failureCount"] == 5_000
    assert not exp.rejected & set(exp.malformed)  # malformed records are never sent
    assert exp.parsed_ids() == set(range(1, 5_001)) - set(exp.malformed)


def test_shares_are_about_two_percent(written):
    _, exp = written
    assert 0.01 < len(exp.malformed) / 5_000 < 0.03
    assert 0.01 < len(exp.rejected) / len(exp.parsed_ids()) < 0.03


def test_file_shape(written):
    path, exp = written
    raw = path.read_bytes()
    assert raw.endswith(b"\r\n")
    lines = raw.decode().split("\r\n")[:-1]
    assert len(lines) == exp.n_lines
    assert all("\n" not in line for line in lines)
    assert sum('", ' in line or ', ' in line for line in lines) > 1_000  # quoted commas
    assert lines[41].startswith(gen.rec_key(42) + ",")


def test_expectations_match_the_reference_parser_semantics(written):
    """Each line fails exactly when the generator says, with its kind's text."""
    path, exp = written
    opts = CsvOptions(csv_headers=gen.CSV_HEADERS, csv_header_data_types=gen.CSV_TYPES)
    opts.resolve()
    lines = path.read_bytes().decode().split("\r\n")[:-1]
    for rec_id, line in enumerate(lines, start=1):
        parsed, err = parse_record(line, opts)
        kind = exp.malformed.get(rec_id)
        if kind is None:
            assert err is None, (rec_id, line, err)
            assert parsed["id"] == gen.rec_key(rec_id)
        else:
            assert err is not None and gen.ERROR_TEXT[kind] in err, (rec_id, line, err)


def test_same_seed_same_bytes(tmp_path):
    a, b, c = (tmp_path / n for n in ("a.csv", "b.csv", "c.csv"))
    ea = gen.write_ingest_csv(str(a), 300, seed=5, stub_seed=1)
    eb = gen.write_ingest_csv(str(b), 300, seed=5, stub_seed=1)
    gen.write_ingest_csv(str(c), 300, seed=6, stub_seed=1)
    assert a.read_bytes() == b.read_bytes() != c.read_bytes()
    assert ea == eb


def test_rest_verdict_depends_on_seed_and_key():
    keys = [gen.rec_key(i) for i in range(1, 20_001)]
    v1 = [gen.rest_verdict(1, k) for k in keys]
    v2 = [gen.rest_verdict(2, k) for k in keys]
    assert set(v1) == {200, 422}
    assert v1 != v2
    assert 0.015 < v1.count(422) / len(keys) < 0.025


def test_tables_follow_the_test_data_schema(tmp_path):
    import pyarrow.parquet as pq

    rows = gen.write_tables(str(tmp_path), 0.001, seed=4)
    assert rows["lineitem"] == 6_000 and rows["orders"] == 1_500
    schema = pq.read_schema(tmp_path / "lineitem.parquet")
    assert str(schema.field("l_shipdate").type) == "timestamp[us]"
    assert str(schema.field("l_linenumber").type) == "int32"
    emb = pq.read_table(tmp_path / "embeddings.parquet").column("embedding").to_pylist()
    assert len(emb[0]) == 64
    assert abs(float(np.linalg.norm(emb[0])) - 1.0) < 1e-5
    orders = pq.read_table(tmp_path / "orders.parquet").to_pandas()
    line = pq.read_table(tmp_path / "lineitem.parquet").to_pandas()
    assert line["l_orderkey"].isin(orders["o_orderkey"]).all()
