"""Byte-for-byte golden of the SQL every JDBC dialect emits.

Pins :func:`generate_ddl`, ``Dialect.upsert`` and
``Dialect.merge_from_staging`` for every ``DIALECTS`` entry (aliases
included) over single-key, composite-key and key-only column sets, the
full Spark type map, identity / primary-key / NOT NULL clauses, and
every string-width cutoff a dialect applies (CHAR / VARCHAR limits at
255/256, 2000/2001, 4000/4001, 32672/32673, 32766/32767, 65535/65536).

Regenerate the golden file after an intended SQL change with
``PYTHONPATH=. python tests/test_jdbc_dialect_golden.py`` and review the
diff.
"""

from __future__ import annotations

import json
import os

from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tensei_agent_spark.plans.spec import Field
from tensei_agent_spark.sinks.jdbc import DIALECTS, generate_ddl

GOLDEN = os.path.join(os.path.dirname(__file__), "golden", "jdbc_dialect_sql.json")

WIDTHS = (255, 256, 2000, 2001, 4000, 4001, 32672, 32673, 32766, 32767, 65535, 65536)

ALL_TYPES = StructType(
    [
        StructField("id", LongType(), False),
        StructField("code", StringType(), False),
        StructField("name", StringType(), True),
        StructField("qty", IntegerType(), True),
        StructField("small", ShortType(), True),
        StructField("price", DoubleType(), True),
        StructField("ratio", FloatType(), True),
        StructField("amount", DecimalType(12, 2), True),
        StructField("active", BooleanType(), True),
        StructField("born", DateType(), True),
        StructField("seen", TimestampType(), True),
        StructField("blob", BinaryType(), True),
    ]
)

DDL_FIELDS = {
    "plain": (),
    "pk": (Field("id", "long", unique=True),),
    "composite_pk": (
        Field("id", "long", unique=True),
        Field("code", unique=True, length=8),
    ),
    "identity": (
        Field("id", "long", auto_increment=True),
        Field("name", max_length=100, nullable=False),
    ),
    "identity_and_unique": (
        Field("id", "long", auto_increment=True),
        Field("code", unique=True, max_length=40),
    ),
}

COLUMN_SETS = {
    "single_key": (["id", "name", "amount"], ["id"]),
    "composite_key": (["id", "code", "name", "amount"], ["id", "code"]),
    "key_only": (["id", "code"], ["id", "code"]),
}


def _string_fields():
    yield "unbounded", Field("c")
    for w in WIDTHS:
        yield f"length_{w}", Field("c", length=w)
        yield f"max_length_{w}", Field("c", max_length=w)
        yield f"length_10_max_length_{w}", Field("c", length=10, max_length=w)
        yield f"length_{w}_max_length_100", Field("c", length=w, max_length=100)


def _call(fn, *args):
    try:
        return fn(*args)
    except Exception as exc:  # noqa: BLE001 - a refusal is part of the golden
        return f"raises {type(exc).__name__}"


def render() -> dict[str, str]:
    out: dict[str, str] = {}
    one_string = StructType([StructField("c", StringType(), True)])
    for name, d in sorted(DIALECTS.items()):
        for case, fields in DDL_FIELDS.items():
            out[f"{name}/ddl/{case}"] = generate_ddl(ALL_TYPES, "accounts", d, fields)
        for case, field in _string_fields():
            out[f"{name}/ddl/string/{case}"] = generate_ddl(one_string, "t", d, (field,))
        for case, (cols, keys) in COLUMN_SETS.items():
            out[f"{name}/upsert/{case}"] = _call(d.upsert, "accounts", cols, keys)
            out[f"{name}/merge_from_staging/{case}"] = _call(
                d.merge_from_staging, "accounts", "accounts__stage", cols, keys
            )
    return out


def test_dialect_sql_matches_golden():
    with open(GOLDEN, encoding="utf-8") as f:
        want = json.load(f)
    got = render()
    assert sorted(got) == sorted(want)
    diff = [k for k in sorted(want) if got[k] != want[k]]
    assert not diff, "\n".join(f"{k}:\n  want {want[k]}\n  got  {got[k]}" for k in diff)


if __name__ == "__main__":
    os.makedirs(os.path.dirname(GOLDEN), exist_ok=True)
    with open(GOLDEN, "w", encoding="utf-8") as f:
        json.dump(render(), f, indent=1, sort_keys=True, ensure_ascii=False)
        f.write("\n")
