"""LIVE JDBC round trips against Apache Derby embedded.

Spark ships ``derby-10.16.1.1.jar`` in its own jars directory, so the
sink's embedded-Derby write and the real ``spark.read.jdbc`` path run
here end-to-end:

- append + read-back (``sinks/jdbc.py::write_jdbc``,
  ``sources/jdbc.py::read_jdbc``),
- overwrite semantics,
- staging-table + one set-wise MERGE upsert (the reference's per-row
  Insert/Update decision of ``DatabaseWriterActor.scala:269-348``,
  set-wise),
- generated-key harvest from a Derby identity column
  (≙ getGeneratedKeys + AutoIncrementValueBuffer,
  ``DatabaseWriterActor.scala:555-710``),
- a multi-partition write, which an embedded Derby loads as one bulk
  import of a single file,
- cell-exact values through that import, and what it refuses.

Derby is one of the reference's own integration dialects
(``src/it/scala/databases/derby``).

NOTE on identifier case: Derby uppercases unquoted identifiers and
Spark's JDBC reader passes ``dbtable`` unquoted, while our DDL quotes
it — so tests use UPPERCASE table names to make both spellings resolve
to the same table. Column names stay lowercase: Spark quotes those.
"""

from __future__ import annotations

import pytest

from tensei_agent_spark.plans.spec import Field, SourceSpec, TargetSpec
from tensei_agent_spark.sinks import write_target
from tensei_agent_spark.sinks.jdbc import DIALECTS, jvm_execute, jvm_query
from tensei_agent_spark.sources import read_source
from tensei_agent_spark.sources.jdbc import read_table

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    home = tmp_path_factory.mktemp("derby")
    # Keep derby.log inside the tmp dir, not the repo.
    spark._jvm.java.lang.System.setProperty("derby.system.home", str(home))
    return f"jdbc:derby:{home}/testdb;create=true"


def _spec(url, table, mode, fields=(), **opts):
    return TargetSpec(
        table, "jdbc", url, mode=mode, fields=tuple(fields),
        options={"driver": DRIVER, **opts},
    )


def test_append_roundtrip_and_pk(spark, derby_url):
    df = spark.createDataFrame(
        [(1, "alice", 10.5), (2, "bob", 20.0), (3, "carol", 7.25)],
        "id long, name string, bal double",
    )
    fields = (
        Field("id", "long", unique=True, nullable=False),
        Field("name", max_length=64),
        Field("bal", "double"),
    )
    write_target(df, _spec(derby_url, "LIVE_ACCOUNTS", "append", fields))

    back = read_source(
        spark,
        SourceSpec(
            "LIVE_ACCOUNTS", "jdbc", derby_url,
            options={"driver": DRIVER, "table": "LIVE_ACCOUNTS"},
        ),
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        (1, "alice", 10.5), (2, "bob", 20.0), (3, "carol", 7.25),
    ]
    # Our DDL (not Spark's generic mapping) created the table: PK present.
    with pytest.raises(Exception, match="(?i)duplicate|constraint"):
        jvm_execute(
            spark, derby_url,
            ["INSERT INTO \"LIVE_ACCOUNTS\" (\"id\", \"name\", \"bal\") "
             "VALUES (1, 'dup', 0.0)"],
            DRIVER,
        )


def test_read_jdbc_filter_limit_pushdown(spark, derby_url):
    back = read_source(
        spark,
        SourceSpec(
            "LIVE_ACCOUNTS", "jdbc", derby_url,
            fields=(Field("id", "long"), Field("bal", "double")),
            options={
                "driver": DRIVER, "table": "LIVE_ACCOUNTS",
                "filter": "bal > 8.0", "limit": 10,
            },
        ),
    )
    rows = sorted(tuple(r) for r in back.collect())
    assert rows == [(1, 10.5), (2, 20.0)]
    assert back.columns == ["id", "bal"]  # column pruning reached the DB


def test_overwrite_replaces(spark, derby_url):
    df = spark.createDataFrame([(9, "zoe", 1.0)], "id long, name string, bal double")
    fields = (Field("id", "long", unique=True), Field("name", max_length=64))
    write_target(df, _spec(derby_url, "LIVE_OVW", "append", fields))
    df2 = spark.createDataFrame([(10, "yan", 2.0)], "id long, name string, bal double")
    write_target(df2, _spec(derby_url, "LIVE_OVW", "overwrite", fields))
    rows = jvm_query(spark, derby_url, 'SELECT "id" FROM "LIVE_OVW"', DRIVER)
    assert [int(r[0]) for r in rows] == [10]


def test_upsert_staging_merge(spark, derby_url):
    """Distributed staging insert + ONE Derby MERGE: updates matched
    rows, inserts new ones — set-wise Insert/Update decision."""
    fields = (
        Field("id", "long", unique=True, nullable=False),
        Field("name", max_length=64),
        Field("bal", "double"),
    )
    initial = spark.createDataFrame(
        [(1, "alice", 10.0), (2, "bob", 20.0)], "id long, name string, bal double"
    )
    write_target(initial, _spec(derby_url, "LIVE_UPS", "append", fields))
    delta = spark.createDataFrame(
        [(2, "bob2", 25.0), (3, "carol", 30.0)], "id long, name string, bal double"
    )
    write_target(delta, _spec(derby_url, "LIVE_UPS", "upsert", fields))

    rows = jvm_query(
        spark, derby_url,
        'SELECT "id", "name", "bal" FROM "LIVE_UPS" ORDER BY "id"', DRIVER,
    )
    assert [(int(i), str(n), float(b)) for i, n, b in rows] == [
        (1, "alice", 10.0), (2, "bob2", 25.0), (3, "carol", 30.0),
    ]
    # Staging table was dropped after the merge.
    with pytest.raises(Exception, match="(?i)does not exist|42X05"):
        jvm_query(spark, derby_url, 'SELECT 1 FROM "LIVE_UPS__stage"', DRIVER)


def test_generated_key_harvest(spark, derby_url):
    """Identity PK auto-fills on insert; read back (natural→generated)
    for the executor's FK remap join (AutoIncrementValueBuffer parity)."""
    jvm_execute(
        spark, derby_url,
        ['CREATE TABLE "LIVE_PEOPLE" ('
         '"pk" BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, '
         '"legacy_id" BIGINT, "name" VARCHAR(64))'],
        DRIVER,
    )
    df = spark.createDataFrame([(7, "ada"), (9, "alan")], "legacy_id long, name string")
    write_target(df, _spec(derby_url, "LIVE_PEOPLE", "append"))

    km = dict(
        (int(a), int(b))
        for a, b in jvm_query(
            spark, derby_url,
            'SELECT "legacy_id", "pk" FROM "LIVE_PEOPLE"', DRIVER,
        )
    )
    assert set(km) == {7, 9} and len(set(km.values())) == 2

    # And the Spark JDBC reader sees the generated keys too.
    back = read_table(spark, derby_url, "LIVE_PEOPLE", driver=DRIVER)
    assert {r["legacy_id"]: r["pk"] for r in back.collect()} == km


def test_parallel_partitioned_write(spark, derby_url):
    """8 partitions coalesce into one import file and one bulk import;
    row count and sum survive intact."""
    df = (
        spark.range(0, 5000)
        .selectExpr("id", "cast(id % 97 as double) w")
        .repartition(8)
    )
    write_target(
        df,
        _spec(
            derby_url, "LIVE_BULK", "append",
            (Field("id", "long", unique=True, nullable=False),),
            batchsize=500,
        ),
    )
    [(n, s)] = jvm_query(
        spark, derby_url, 'SELECT COUNT(*), SUM("id") FROM "LIVE_BULK"', DRIVER
    )
    assert int(n) == 5000 and int(s) == 5000 * 4999 // 2

    # Partitioned parallel read-back: 4 range-striped scans.
    back = read_source(
        spark,
        SourceSpec(
            "LIVE_BULK", "jdbc", derby_url,
            options={
                "driver": DRIVER, "table": "LIVE_BULK",
                "partitionColumn": "id", "lowerBound": 0,
                "upperBound": 5000, "numPartitions": 4,
            },
        ),
    )
    assert back.rdd.getNumPartitions() == 4
    assert back.count() == 5000


def test_schema_extraction_from_metadata(spark, derby_url):
    """DatabaseSchemaExtractor parity over java.sql.DatabaseMetaData:
    columns + types + widths, PK → unique, identity → auto_increment,
    imported keys → the foreign_keys mapping."""
    from tensei_agent_spark.infer import infer_jdbc, list_tables_jdbc

    jvm_execute(
        spark, derby_url,
        ['CREATE TABLE "META_PARENT" ('
         '"pid" BIGINT GENERATED ALWAYS AS IDENTITY PRIMARY KEY, '
         '"code" CHAR(3) NOT NULL, "label" VARCHAR(40), '
         '"price" DECIMAL(12,2), "created" TIMESTAMP)',
         'CREATE TABLE "META_CHILD" ('
         '"cid" BIGINT PRIMARY KEY, '
         '"parent_id" BIGINT REFERENCES "META_PARENT" ("pid"), '
         '"note" VARCHAR(100))'],
        DRIVER,
    )
    tables = list_tables_jdbc(spark, derby_url, DRIVER)
    assert {"META_PARENT", "META_CHILD"} <= set(tables)

    fields, fks = infer_jdbc(spark, derby_url, "META_PARENT", DRIVER)
    by = {f.name: f for f in fields}
    assert by["pid"].type == "long" and by["pid"].unique and by["pid"].auto_increment
    assert not by["pid"].nullable
    assert by["code"].type == "string" and by["code"].length == 3
    assert not by["code"].nullable and not by["code"].unique
    assert by["label"].max_length == 40 and by["label"].nullable
    assert by["price"].type == "decimal(12,2)"
    assert by["created"].type == "timestamp"
    assert fks == {}

    cfields, cfks = infer_jdbc(spark, derby_url, "META_CHILD", DRIVER)
    cby = {f.name: f for f in cfields}
    assert cby["cid"].unique and not cby["cid"].auto_increment
    assert cfks == {"parent_id": ("META_PARENT", "pid")}


def test_copy_between_databases_pipeline(spark, derby_url):
    """usecases/databases/CopyBetweenDatabases.scala, live: a full
    Pipeline whose SOURCE and TARGET are both JDBC tables — read via
    the jdbc source, recipe transformer applied, written to a second
    table through the jdbc sink; result read back and asserted."""
    from tensei_agent_spark.plans import (
        ColumnRef, Mapping, Pipeline, Recipe, run_pipeline,
    )

    src_df = spark.createDataFrame(
        [(1, "ada", "lovelace"), (2, "alan", "turing")],
        "id long, first string, last string",
    )
    write_target(
        src_df,
        _spec(
            derby_url, "LIVE_SRC_PEOPLE", "append",
            (Field("id", "long", unique=True, nullable=False),
             Field("first", max_length=32), Field("last", max_length=32)),
        ),
    )
    p = Pipeline(
        name="db-to-db",
        sources=(
            SourceSpec(
                "people", "jdbc", derby_url,
                options={"driver": DRIVER, "table": "LIVE_SRC_PEOPLE"},
            ),
        ),
        targets=(
            TargetSpec(
                "LIVE_DST_PEOPLE", "jdbc", derby_url,
                fields=(
                    Field("id", "long", unique=True, nullable=False),
                    Field("full_name", max_length=80),
                ),
                mode="append",
                options={"driver": DRIVER},
            ),
        ),
        recipes=(
            Recipe(
                "copy", "LIVE_DST_PEOPLE",
                mappings=(
                    Mapping((ColumnRef("people", "id"),), ("id",)),
                    Mapping(
                        (ColumnRef("people", "first"), ColumnRef("people", "last")),
                        ("full_name",),
                        mode="all_to_all",
                        transformers=(("concat", {"separator": " "}),),
                    ),
                ),
            ),
        ),
    )
    run_pipeline(spark, p)
    rows = jvm_query(
        spark, derby_url,
        'SELECT "id", "full_name" FROM "LIVE_DST_PEOPLE" ORDER BY "id"',
        DRIVER,
    )
    assert [(int(r[0]), r[1]) for r in rows] == [
        (1, "ada lovelace"), (2, "alan turing"),
    ]


def test_overwrite_drop_failure_propagates(spark, derby_url):
    """A DROP TABLE that fails for a reason OTHER than nonexistence
    (here: a dependent view) must propagate — swallowing it would turn
    overwrite into a silent append onto stale rows."""
    df = spark.createDataFrame([(1, "a")], "id long, name string")
    fields = (Field("id", "long", unique=True), Field("name", max_length=32))
    write_target(df, _spec(derby_url, "LIVE_VIEWED", "append", fields))
    jvm_execute(
        spark, derby_url,
        ['CREATE VIEW "LIVE_VIEWED_V" AS SELECT "id" FROM "LIVE_VIEWED"'],
        DRIVER,
    )
    try:
        with pytest.raises(Exception, match="(?i)view|depend|X0Y23"):
            write_target(
                spark.createDataFrame([(2, "b")], "id long, name string"),
                _spec(derby_url, "LIVE_VIEWED", "overwrite", fields),
            )
        # the table kept its original content — no silent append
        rows = jvm_query(
            spark, derby_url, 'SELECT "id" FROM "LIVE_VIEWED"', DRIVER
        )
        assert [int(r[0]) for r in rows] == [1]
    finally:
        jvm_execute(spark, derby_url, ['DROP VIEW "LIVE_VIEWED_V"'], DRIVER)


def test_run_metrics_complete_on_embedded_derby(spark, derby_url):
    """``run_pipeline(metrics=...)`` returns on an embedded-Derby target
    and reports every row. The write job (Spark writing the import
    file) must complete the ``DataFrame.observe`` Observation; a
    ``toLocalIterator`` drain never did, and ``Observation.get`` blocked
    forever. NULL, decimal, date and timestamp cells travel the same
    write."""
    import threading

    from tensei_agent_spark.plans import (
        ColumnRef, Mapping, Pipeline, Recipe, run_pipeline,
    )

    src = spark.range(1000).selectExpr(
        "id",
        "IF(id % 7 = 0, NULL, concat('n', id)) AS name",
        "CAST(id / 4 AS DECIMAL(12,2)) AS amount",
        "date_add(DATE'2020-01-01', CAST(id AS INT)) AS born",
        "timestamp_seconds(id * 3600) AS seen",
    )
    cols = src.columns
    p = Pipeline(
        name="derby-metrics",
        sources=(SourceSpec("src", "csv", "unused"),),
        targets=(
            _spec(
                derby_url, "LIVE_METRICS", "overwrite",
                (Field("id", "long", unique=True, nullable=False),
                 Field("name", max_length=16), Field("amount", "decimal(12,2)"),
                 Field("born", "date"), Field("seen", "timestamp")),
            ),
        ),
        recipes=(
            Recipe(
                "copy", "LIVE_METRICS",
                mappings=tuple(Mapping((ColumnRef("src", c),), (c,)) for c in cols),
            ),
        ),
    )
    metrics: dict[str, dict] = {}
    errors: list[BaseException] = []

    def run():
        try:
            run_pipeline(spark, p, source_frames={"src": src}, metrics=metrics)
        except BaseException as exc:  # noqa: BLE001 - asserted below
            errors.append(exc)

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(timeout=90)
    assert not t.is_alive(), "run_pipeline(metrics=...) still blocked after 90 s"
    assert not errors, errors
    assert metrics["copy"]["rows_processed"] == 1000
    assert metrics["copy"]["null_cells"] == 143
    rows = jvm_query(
        spark, derby_url,
        'SELECT COUNT(*), COUNT("name"), SUM("amount"), COUNT("born"), '
        'COUNT("seen") FROM "LIVE_METRICS"',
        DRIVER,
    )
    assert [tuple(str(v) for v in r) for r in rows] == [
        ("1000", "857", "124875.00", "1000", "1000")
    ]


# --- cell-exact round trip --------------------------------------------------

_CELL_SCHEMA = (
    "id long, s string, `Long Text` string, d12 decimal(12,2), "
    "d18 decimal(18,8), ts timestamp, dt date, x double, b boolean, bin binary"
)
_CELL_FIELDS = (
    Field("id", "long", unique=True, nullable=False),
    Field("s", max_length=64),  # VARCHAR(64); "Long Text" stays CLOB
    Field("d12", "decimal(12,2)"),
    Field("d18", "decimal(18,8)"),
)
_STRINGS = [
    None, "", "  lead", "trail  ", "   ", '"', 'say "hi"', '""', "a,b,,c",
    "line1\nline2", "crlf\r\nend", "back\\slash", "NULL", "naïve ünïcödé 日本語 ✓",
]


def _cell_rows(first_id: int, strings, shift: int = 0):
    """One row per string, cycling the other types' edge values."""
    from datetime import date, datetime
    from decimal import Decimal

    d12 = [Decimal("1234567890.12"), Decimal("-0.01"), Decimal("0.00"), None]
    d18 = [Decimal("0.00000001"), Decimal("-0.00000050"),
           Decimal("1234567890.12345678"), None]
    ts = [datetime(2024, 1, 2, 3, 4, 5, 123456), datetime(1999, 12, 31, 23, 59, 59, 999999),
          datetime(2000, 1, 1), datetime(2021, 3, 14, 10, 30, 0, 1), None]
    dt = [date(1970, 1, 1), date(2024, 2, 29), date(1899, 12, 31), None]
    x = [1e-300, 0.1 + 0.2, -2.5, 1.7976931348623157e308, 0.0, None]
    b = [True, False, None]
    bin_ = [b"", b"\x00\x01\xfe\xff", bytes(range(256)), None, b'"a,b"\n']
    out = []
    for i, s in enumerate(strings):
        k = i + shift

        def pick(vals):
            return vals[k % len(vals)]

        out.append((first_id + i, s, s, pick(d12), pick(d18), pick(ts), pick(dt),
                    pick(x), pick(b), pick(bin_)))
    return out


def _read_cells(spark, url, table):
    back = read_table(spark, url, f'"{table}"', driver=DRIVER).collect()
    return {r[0]: tuple(r) for r in back}


def _assert_cells(actual: dict, expected: list):
    assert sorted(actual) == sorted(r[0] for r in expected)
    names = _CELL_SCHEMA.split(", ")
    for row in expected:
        got = actual[row[0]]
        for name, want, have in zip(names, row, got):
            assert have == want and type(have) is type(want), (row[0], name, want, have)


def _cells_round_trip(spark, url, table):
    first = _cell_rows(1, _STRINGS)
    write_target(
        spark.createDataFrame(first, _CELL_SCHEMA),
        _spec(url, table, "overwrite", _CELL_FIELDS),
    )
    _assert_cells(_read_cells(spark, url, table), first)

    # Upsert: rows 1-7 change every cell (NULLs become values and the
    # reverse), rows 101-107 are new.
    changed = _cell_rows(1, list(reversed(_STRINGS))[:7], shift=1)
    added = _cell_rows(101, _STRINGS[7:], shift=2)
    write_target(
        spark.createDataFrame(changed + added, _CELL_SCHEMA),
        _spec(url, table, "upsert", _CELL_FIELDS),
    )
    expected = {r[0]: r for r in first}
    expected.update((r[0], r) for r in changed + added)
    _assert_cells(_read_cells(spark, url, table), list(expected.values()))


def test_cells_round_trip_exactly(spark, derby_url):
    """Every cell written to embedded Derby by an overwrite and then an
    upsert reads back equal to its Python input, with its Python type:
    NULL vs '', blanks at either end, quotes, delimiters, newlines,
    backslashes, the literal 'NULL', non-ASCII text, decimal scale (and
    a value Java prints as 1E-8), timestamp microseconds, dates,
    doubles down to 1e-300, booleans, and binary including empty."""
    _cells_round_trip(spark, derby_url, "LIVE_CELLS")


def test_cells_round_trip_non_utc_session(spark, derby_url):
    """A non-UTC session time zone does not shift the stored wall
    clock: Derby keeps the wall clock of the JVM's default zone, which
    the JDBC reader reads back in that same zone."""
    conf = "spark.sql.session.timeZone"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "America/Los_Angeles")
    try:
        _cells_round_trip(spark, derby_url, "LIVE_CELLS_TZ")
    finally:
        spark.conf.set(conf, before)
    rows = jvm_query(
        spark, derby_url,
        'SELECT CAST("ts" AS VARCHAR(32)) FROM "LIVE_CELLS_TZ" WHERE "id" = 101',
        DRIVER,
    )
    # id 101 is added[0]: shift 2 picks ts[2], midnight 2000-01-01.
    assert rows == [("2000-01-01 00:00:00.0",)]


def test_embedded_rows_never_reach_python(spark, derby_url, monkeypatch):
    """An embedded-Derby overwrite and two upserts, the last of no
    rows, never drain the rows into Python."""
    from tensei_agent_spark.sinks import jdbc

    def no_drain(*_args, **_kwargs):
        raise AssertionError("rows were drained into Python")

    monkeypatch.setattr(jdbc, "_drain", no_drain)
    fields = (Field("id", "long", unique=True, nullable=False), Field("name", max_length=16))
    schema = "id long, name string"
    write_target(
        spark.createDataFrame([(1, "a"), (2, None)], schema),
        _spec(derby_url, "LIVE_NODRAIN", "overwrite", fields),
    )
    write_target(
        spark.createDataFrame([(2, "b"), (3, "c")], schema),
        _spec(derby_url, "LIVE_NODRAIN", "upsert", fields),
    )
    write_target(
        spark.createDataFrame([], schema),
        _spec(derby_url, "LIVE_NODRAIN", "upsert", fields),
    )
    rows = jvm_query(
        spark, derby_url, 'SELECT "id", "name" FROM "LIVE_NODRAIN" ORDER BY "id"', DRIVER
    )
    assert [(int(i), n) for i, n in rows] == [(1, "a"), (2, "b"), (3, "c")]


def test_quote_in_table_name_and_temp_path(spark, derby_url, tmp_path, monkeypatch):
    """A table named O'HARA and a temporary directory whose path holds
    a quote both write."""
    import tempfile

    tmp = tmp_path / "it's"
    tmp.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp))
    df = spark.createDataFrame([(1, "x")], "id long, `pct%` string")
    write_target(df, _spec(derby_url, "O'HARA", "overwrite", (Field("pct%", max_length=8),)))
    rows = jvm_query(spark, derby_url, 'SELECT "id", "pct%" FROM "O\'HARA"', DRIVER)
    assert [(int(i), v) for i, v in rows] == [(1, "x")]


def test_comma_column_refused_before_ddl(spark, derby_url):
    """A column name holding a comma cannot be listed in the import
    call: the overwrite is refused and the existing table survives."""
    fields = (Field("id", "long", unique=True), Field("name", max_length=8))
    write_target(
        spark.createDataFrame([(1, "a")], "id long, name string"),
        _spec(derby_url, "LIVE_COMMA", "append", fields),
    )
    bad = spark.createDataFrame([(2, "b")], "id long, `a,b` string")
    with pytest.raises(ValueError, match="comma"):
        write_target(bad, _spec(derby_url, "LIVE_COMMA", "overwrite", fields))
    rows = jvm_query(spark, derby_url, 'SELECT "id", "name" FROM "LIVE_COMMA"', DRIVER)
    assert [(int(i), n) for i, n in rows] == [(1, "a")]


def test_non_local_master_refused(spark, derby_url, monkeypatch):
    """An embedded database lives in the driver JVM, which a cluster's
    executors cannot reach: a non-local master is refused before any
    table is created."""
    df = spark.createDataFrame([(1,)], "id long")
    monkeypatch.setattr(spark.sparkContext, "master", "spark://elsewhere:7077")
    with pytest.raises(ValueError, match="local"):
        write_target(df, _spec(derby_url, "LIVE_REMOTE", "overwrite"))
    monkeypatch.undo()
    with pytest.raises(Exception, match="(?i)does not exist|42X05"):
        jvm_query(spark, derby_url, 'SELECT 1 FROM "LIVE_REMOTE"', DRIVER)
