"""Schema-inference tests — golden input→schema pairs like the
reference's csvSchemaExtractor fixtures (40+ csv/xml pairs)."""

from __future__ import annotations

import duckdb

from tensei_agent_spark.infer import (
    detect_header,
    detect_separator,
    infer_csv,
    infer_dbapi,
    infer_json,
    spec_from_csv,
)
from tensei_agent_spark.sources import read_source


def test_separator_detection(tmp_path):
    assert detect_separator(["a;b;c", "1;2;3"]) == ";"
    assert detect_separator(["a\tb", "1\t2"]) == "\t"
    assert detect_separator(["a|b|c", "x|y|z"]) == "|"
    # comma wins over a separator that appears inconsistently
    assert detect_separator(["a,b", "c,d", "e;x,f"]) == ","


def test_header_detection():
    assert detect_header([["id", "name"], ["1", "bob"], ["2", "eve"]])
    assert not detect_header([["1", "bob"], ["2", "eve"]])
    # all-string data → no header claim possible
    assert not detect_header([["x", "y"], ["a", "b"]])


def test_csv_type_voting(tmp_path):
    p = tmp_path / "typed.csv"
    p.write_text(
        "id;amount;ratio;born;seen;note\n"
        "1;12,50;0.25;1990-05-01;2020-01-02 10:00:00;hello\n"
        "2;7,00;1.5;1985-12-31;2021-07-15 23:59:59;world\n"
    )
    fields, options = infer_csv(str(p))
    assert options == {"sep": ";", "header": "true", "decimalSeparator": ","}
    by_name = {f.name: f for f in fields}
    assert by_name["id"].type == "long"
    assert by_name["amount"].type.startswith("decimal") and by_name["amount"].format == ","
    assert by_name["ratio"].type.startswith("decimal")
    assert by_name["born"].type == "date" and by_name["born"].format == "yyyy-MM-dd"
    assert by_name["seen"].type == "timestamp"
    assert by_name["note"].type == "string"


def test_inferred_spec_loads(spark, tmp_path):
    """The inferred spec must drive a real typed read end-to-end."""
    p = tmp_path / "data.csv"
    p.write_text("id,price,day\n1,9.99,2020-01-01\n2,5.25,2020-06-15\n")
    spec = spec_from_csv("t", str(p))
    df = read_source(spark, spec)
    assert dict(df.dtypes)["id"] == "bigint"
    assert dict(df.dtypes)["price"].startswith("decimal")
    assert dict(df.dtypes)["day"] == "date"
    assert df.count() == 2


def test_json_inference(tmp_path):
    p = tmp_path / "doc.json"
    p.write_text(
        '{"people": [{"id": 1, "name": "ada", "score": 1.5, '
        '"address": {"city": "x", "zip": "1"}}]}'
    )
    fields, options = infer_json(str(p))
    assert options.get("explodePath") == "people"
    by_name = {f.name: f.type for f in fields}
    assert by_name["id"] == "long"
    assert by_name["score"] == "double"
    assert by_name["address.city"] == "string"


def test_dbapi_metadata():
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id BIGINT, name VARCHAR, bal DECIMAL(12,2), "
        "born DATE, flag BOOLEAN)"
    )
    fields = infer_dbapi(lambda: con, "t")
    types = {f.name: f.type for f in fields}
    assert types == {
        "id": "long", "name": "string", "bal": "decimal(12,2)",
        "born": "date", "flag": "boolean",
    }
