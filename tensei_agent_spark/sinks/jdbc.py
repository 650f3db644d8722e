"""JDBC sink: per-dialect DDL and upsert SQL, and one write flow.

Reference parity (``writers/DatabaseWriterActor.scala``):

- **DDL generation** from the target schema, per-dialect column types
  (``createSchemaAndStatements`` :862-1130; type tables
  ``helpers/DatabaseHelpers.scala:252-690``) → :func:`generate_ddl`.
  The reference's DFASDL ``length`` / ``max-length`` attributes map to
  ``CHAR(n)`` / ``VARCHAR(n)`` below each dialect's width limit; wider
  or unbounded strings take the dialect's large-text type (CLOB / TEXT
  / LONGTEXT / …).
- **Upsert** — the reference decides Insert/Update/Ignore per row via a
  PK count statement (``:269-348,763-860``). Here one builder per
  statement family emits the dialect-native statement: ``MERGE`` (ANSI,
  Derby, H2, HSQLDB, Oracle, SQL Server, Firebird), ``INSERT … ON
  CONFLICT`` (Postgres, SQLite, DuckDB) and ``INSERT … ON DUPLICATE
  KEY`` (MySQL). A dialect's row-wise ``upsert`` and its set-wise
  ``merge_from_staging`` differ only in the source: one ``VALUES (?, …)``
  row or the staging table. H2's ``MERGE … KEY`` and Firebird's
  ``UPDATE OR INSERT`` are their native row forms.
- **Custom db-insert / db-update SQL** override (``:1114-1134``) →
  ``options["insert_sql"]`` on the DB-API route.
- **Batched writes** with autocommit off (``:350,502,557``) →
  ``_BATCH``-row batches on the DB-API route and in Spark's JDBC
  writer; an embedded Derby loads each write as one bulk import.
- **Generated-key harvest** (``:555-710`` + AutoIncrementValueBuffer)
  → :func:`read_key_map` re-reads ``(natural_key, generated_key)``
  pairs from a written table. ``run_pipeline`` does not need it: it
  generates surrogate keys with ``sequential_id`` before the write and
  remaps child FKs from those.

One write flow (:func:`write_jdbc`). On ``overwrite`` the target is
dropped; it is then created from our dialect DDL, so Spark's generic
type mapping never decides the schema. Both steps tolerate only the
one harmless error: "no such table" on the drop, and "already exists"
on the create where the dialect has no ``IF NOT EXISTS``. The rows are
then drained or pushed, and an upsert ends in its upsert statement.

1. **JVM route** (default): DDL and MERGE run over one connection from
   the driver JVM's DriverManager (:func:`jvm_execute`; the JDBC jar is
   already on the Spark classpath). The push step appends rows to a
   table. An embedded Derby lives inside this driver JVM, so
   :func:`jvm_write_rows` has Spark write the rows as one file in
   Derby's import format and loads it with one ``SYSCS_IMPORT_DATA``
   call; every other database gets Spark's distributed JDBC writer.
   Upsert pushes into a staging table, then runs one set-wise
   ``merge_from_staging``. Exercised for real against embedded Derby,
   which ships in Spark's jars (tests/test_jdbc_live_derby.py), and
   DuckDB's JDBC jar (tests/test_jdbc_live_duckdb.py).
2. **DB-API route** (``options["dbapi_connect"]``, a zero-arg callable
   returning a DB-API connection): rows are drained to the driver and
   sent in ``executemany`` batches. Upsert stays row-wise, because the
   input can repeat a key: ``prepare`` dedups only on unique fields, so
   a ``write_jdbc`` that takes its keys from ``options["key_cols"]``
   gets the frame as it is. The row form keeps the last row, where a
   set-wise ``INSERT … SELECT`` rejects the repeat. Every row funnels
   through the driver, so the route refuses inputs above
   ``dbapi_max_rows`` (default :data:`DBAPI_MAX_ROWS`) and points at
   route 1 instead.
"""

from __future__ import annotations

import glob
import math
import shutil
import tempfile
from collections.abc import Callable, Iterable
from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from ..plans.spec import Field, TargetSpec
from . import register

# --- dialect layer ---------------------------------------------------------

# Spark type → the Dialect attribute naming its column type.
_TYPE_ATTR = {
    LongType: "bigint",
    IntegerType: "integer",
    ShortType: "smallint",
    DoubleType: "double",
    FloatType: "real",
    BooleanType: "boolean",
    DateType: "date",
    TimestampType: "timestamp",
    BinaryType: "binary",
}


class Dialect:
    """Generic ANSI dialect, upserting with MERGE. Subclasses state only
    what differs (≙ the per-driver branches of
    ``helpers/DatabaseHelpers.scala:252-690``)."""

    name = "ansi"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"
    # Derby / Oracle / Firebird have no CREATE TABLE IF NOT EXISTS (nor
    # DROP TABLE IF EXISTS); callers there run the plain statement and
    # tolerate "already exists" / "no such table".
    supports_if_not_exists = True

    bigint, integer, smallint, real = "BIGINT", "INTEGER", "SMALLINT", "REAL"
    double, boolean, date = "DOUBLE PRECISION", "BOOLEAN", "DATE"
    timestamp, binary = "TIMESTAMP", "BLOB"
    # String sizing ≙ DFASDL length/max-length: fixed width → char(n),
    # bounded → varchar(n), each only below its limit; else large text.
    char, varchar, text = "CHAR({})", "VARCHAR({})", "VARCHAR(254)"
    char_below = varchar_below = math.inf

    # MERGE syntax.
    merge_as = " AS "  # before the tgt / src correlation names
    merge_hint = ""  # after the target table
    merge_on = "{}"  # wraps the ON condition
    merge_set = ""  # prefixes each updated column
    merge_row = "(VALUES ({marks})) AS src({cols})"  # the one-row source
    merge_end = ""  # statement terminator

    def sql_type(self, t: DataType, f: Field | None = None) -> str:
        if isinstance(t, StringType):
            return self.string_type(f)
        if isinstance(t, DecimalType):
            return f"DECIMAL({t.precision},{t.scale})"
        if type(t) not in _TYPE_ATTR:
            raise ValueError(f"{self.name}: unmapped Spark type {t}")
        return getattr(self, _TYPE_ATTR[type(t)])

    def string_type(self, f: Field | None = None) -> str:
        if f is not None and f.length is not None and f.length < self.char_below:
            return self.char.format(f.length)
        if f is not None and f.max_length is not None and f.max_length < self.varchar_below:
            return self.varchar.format(f.max_length)
        return self.text

    def quote(self, ident: str) -> str:
        return f'"{ident}"'

    def _list(self, cols: Iterable[str]) -> str:
        return ", ".join(map(self.quote, cols))

    def _insert(self, table: str, cols: list[str], staging: str | None = None) -> str:
        """INSERT INTO table (cols) from one ``?`` row, or from ``staging``."""
        source = (
            f"SELECT {self._list(cols)} FROM {self.quote(staging)}"
            if staging
            else f"VALUES ({', '.join('?' * len(cols))})"
        )
        return f"INSERT INTO {self.quote(table)} ({self._list(cols)}) {source}"

    def upsert(self, table: str, cols: list[str], keys: list[str]) -> str:
        """Row-wise upsert with ``?`` placeholders (executemany batches)."""
        return self._upsert(table, cols, keys)

    def merge_from_staging(
        self, table: str, staging: str, cols: list[str], keys: list[str]
    ) -> str:
        """Set-wise upsert of every row of the ``staging`` table."""
        return self._upsert(table, cols, keys, staging)

    def _upsert(self, table, cols, keys, staging=None) -> str:
        """The MERGE family. Emulation order mirrors the reference's
        Insert/Update decision: UPDATE where the key matches, INSERT
        where no row matched."""
        q, a = self.quote, self.merge_as
        source = f"{q(staging)}{a}src" if staging else self.merge_row.format(
            marks=", ".join("?" * len(cols)),
            cols=self._list(cols),
            named=", ".join(f"? {q(c)}" for c in cols),
        )
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(
            f"{self.merge_set}{q(c)} = src.{q(c)}" for c in cols if c not in keys
        )
        return (
            f"MERGE INTO {q(table)}{self.merge_hint}{a}tgt USING {source} "
            f"ON {self.merge_on.format(on)} "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({self._list(cols)}) "
            f"VALUES ({', '.join(f'src.{q(c)}' for c in cols)}){self.merge_end}"
        )


class PostgresDialect(Dialect):
    """≙ ``DatabaseHelpers.scala`` PostgreSql branch: CHARACTER(<256) /
    CHARACTER VARYING(<65536) / TEXT, BYTEA; ``INSERT … ON CONFLICT``."""

    name = "postgresql"
    binary = "BYTEA"
    char, varchar, text = "CHARACTER({})", "CHARACTER VARYING({})", "TEXT"
    char_below, varchar_below = 256, 65536

    def _upsert(self, table, cols, keys, staging=None):
        q = self.quote
        updates = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in cols if c not in keys)
        action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
        return (
            f"{self._insert(table, cols, staging)} "
            f"ON CONFLICT ({self._list(keys)}) {action}"
        )


class MySQLDialect(Dialect):
    """≙ MySql branch: CHAR(<256) / VARCHAR(<65536) / LONGTEXT, LONGBLOB,
    DATETIME, AUTO_INCREMENT; ``INSERT … ON DUPLICATE KEY UPDATE``."""

    name = "mysql"
    auto_increment_clause = "AUTO_INCREMENT"
    double, timestamp, binary, text = "DOUBLE", "DATETIME", "LONGBLOB", "LONGTEXT"
    char_below, varchar_below = 256, 65536

    def quote(self, ident):
        return f"`{ident}`"

    def _upsert(self, table, cols, keys, staging=None):
        q = self.quote
        updates = ", ".join(
            f"{q(c)} = VALUES({q(c)})" for c in cols if c not in keys
        ) or f"{q(keys[0])} = {q(keys[0])}"
        return f"{self._insert(table, cols, staging)} ON DUPLICATE KEY UPDATE {updates}"


class SQLiteDialect(PostgresDialect):
    """≙ SQLite branch: everything is TEXT/INTEGER/REAL/BLOB affinity;
    declared string widths are ignored."""

    name = "sqlite"
    auto_increment_clause = "PRIMARY KEY AUTOINCREMENT"
    binary = "BLOB"
    char = varchar = text = "TEXT"


class DuckDBDialect(PostgresDialect):
    name = "duckdb"
    binary = "BLOB"


class DerbyDialect(Dialect):
    """≙ Derby branch: CHAR(n)/VARCHAR(≤32672)/CLOB, BLOB, identity
    columns. Derby has no CREATE TABLE IF NOT EXISTS and its MERGE source
    must be a base table — so row-wise upsert is staging-only (matches
    the reference driving Derby through plain INSERT/UPDATE,
    ``src/it/scala/databases/derby``). BY DEFAULT, not ALWAYS: the
    executor's FK pipeline may supply explicit surrogate-key values
    (sequential_id), which ALWAYS rejects (SQLState 42Z23)."""

    name = "derby"
    supports_if_not_exists = False
    text = "CLOB"
    varchar_below = 32673
    merge_as = " "  # correlation names without AS only

    def string_type(self, f=None):
        # Derby rejects VARCHAR above 32672. The reference emits
        # VARCHAR(max-length) unconditionally (DatabaseHelpers.scala:
        # 285-290) and would fail DDL on e.g. the WordPress 65535-wide
        # text columns; those degrade to CLOB, even with a length set.
        if f is not None and f.max_length is not None and f.max_length >= self.varchar_below:
            return self.text
        return super().string_type(f)

    def upsert(self, table, cols, keys):
        raise ValueError(
            "derby: row-wise VALUES upsert is unsupported (Derby MERGE "
            "requires a table source); use the staging MERGE path "
            "(write_jdbc with mode='upsert')."
        )


class H2Dialect(Dialect):
    """≙ H2 branch: NCHAR(n)/NVARCHAR2(n)/NCLOB (sic — the reference
    uses Oracle-style names H2 accepts as aliases); native
    ``MERGE INTO … KEY (…)`` row upsert."""

    name = "h2"
    double = "DOUBLE"
    char, varchar, text = "NCHAR({})", "NVARCHAR2({})", "NCLOB"

    def upsert(self, table, cols, keys):
        return (
            f"MERGE INTO {self.quote(table)} ({self._list(cols)}) "
            f"KEY ({self._list(keys)}) VALUES ({', '.join('?' * len(cols))})"
        )


class HsqldbDialect(Dialect):
    """≙ HyperSql branch: CHAR(n)/LONGVARCHAR(n)/LONGVARCHAR, standard
    MERGE with a VALUES source."""

    name = "hsqldb"
    varchar, text = "LONGVARCHAR({})", "LONGVARCHAR"


class OracleDialect(Dialect):
    """≙ Oracle branch: NCHAR(≤2000)/NVARCHAR2(≤4000)/NCLOB, NUMBER,
    TIMESTAMP WITH TIME ZONE, ``GENERATED BY DEFAULT AS IDENTITY``
    (12c+, as the reference notes). Table aliases must NOT use AS; the
    one-row MERGE source is ``SELECT … FROM dual``."""

    name = "oracle"
    supports_if_not_exists = False
    bigint, double, boolean = "NUMBER(19)", "BINARY_DOUBLE", "NUMBER(1)"
    timestamp = "TIMESTAMP WITH TIME ZONE"
    char, varchar, text = "NCHAR({})", "NVARCHAR2({})", "NCLOB"
    char_below, varchar_below = 2001, 4001
    merge_as, merge_on, merge_set = " ", "({})", "tgt."
    merge_row = "(SELECT {named} FROM dual) src"


class SQLServerDialect(Dialect):
    """≙ SqlServer branch: NCHAR(n)/NVARCHAR(n)/NVARCHAR(MAX) (NTEXT is
    deprecated; the reference used it), VARBINARY, DATETIME2, FLOAT,
    ``IDENTITY``; MERGE takes WITH (HOLDLOCK) to be upsert-race-safe and
    requires a terminating semicolon."""

    name = "sqlserver"
    auto_increment_clause = "IDENTITY(1,1)"
    double, boolean, timestamp, binary = "FLOAT", "BIT", "DATETIME2", "VARBINARY(MAX)"
    char, varchar, text = "NCHAR({})", "NVARCHAR({})", "NVARCHAR(MAX)"
    merge_hint, merge_set, merge_end = " WITH (HOLDLOCK)", "tgt.", ";"
    merge_row = "(VALUES ({marks})) AS src ({cols})"

    def quote(self, ident):
        return f"[{ident}]"


class FirebirdDialect(Dialect):
    """≙ Firebird branch: CHAR(<32767)/VARCHAR(<32767)/BLOB SUB_TYPE
    TEXT; native row upsert is ``UPDATE OR INSERT … MATCHING``. The
    reference left identity as ``BIGINT // FIXME: AUTOINC``; Firebird 3
    supports the SQL-standard clause, which we emit."""

    name = "firebirdsql"
    supports_if_not_exists = False
    text = "BLOB SUB_TYPE TEXT"
    char_below = varchar_below = 32767
    merge_as, merge_set = " ", "tgt."

    def upsert(self, table, cols, keys):
        return f"UPDATE OR {self._insert(table, cols)} MATCHING ({self._list(keys)})"


DIALECTS: dict[str, Dialect] = {
    d.name: d()
    for d in (
        Dialect,
        PostgresDialect,
        MySQLDialect,
        SQLiteDialect,
        DuckDBDialect,
        DerbyDialect,
        H2Dialect,
        HsqldbDialect,
        OracleDialect,
        SQLServerDialect,
        FirebirdDialect,
    )
}
DIALECTS["mariadb"] = DIALECTS["mysql"]
DIALECTS["firebird"] = DIALECTS["firebirdsql"]


def dialect_for(url: str) -> Dialect:
    """jdbc:postgresql://… → PostgresDialect (≙ driver-name dispatch in
    ``DatabaseHelpers.scala``)."""
    for name, d in DIALECTS.items():
        if f":{name}:" in url or url.startswith(f"{name}:"):
            return d
    return DIALECTS["ansi"]


# --- DDL generation --------------------------------------------------------


def generate_ddl(
    schema: StructType,
    table: str,
    dialect: Dialect,
    fields: Iterable[Field] = (),
) -> str:
    """CREATE TABLE from a Spark schema + spec attrs
    (PK/unique/auto-increment/length ≙ ``createSchemaAndStatements``)."""
    by_name = {f.name: f for f in fields}
    q = dialect.quote
    col_defs, pk = [], []
    has_auto = False
    for sf in schema.fields:
        f = by_name.get(sf.name, Field(sf.name))
        parts = [q(sf.name), dialect.sql_type(sf.dataType, f)]
        if f.auto_increment:
            has_auto = True
            if dialect.name == "sqlite":
                parts = [q(sf.name), "INTEGER", dialect.auto_increment_clause]
            else:
                parts.append(dialect.auto_increment_clause)
                pk.append(sf.name)
        if not sf.nullable or not f.nullable:
            parts.append("NOT NULL")
        if f.unique and not f.auto_increment:
            pk.append(sf.name)
        col_defs.append(" ".join(parts))
    # SQLite: an AUTOINCREMENT column carries its PRIMARY KEY inline
    # (and the table may have only one PK), so the table-level clause
    # is skipped exactly then. Without auto-increment the unique-column
    # PK MUST still be emitted — upsert's ON CONFLICT (k) needs a
    # matching PK/UNIQUE constraint or SQLite rejects the statement.
    constraint = (
        [f"PRIMARY KEY ({dialect._list(pk)})"]
        if pk and not (dialect.name == "sqlite" and has_auto)
        else []
    )
    exists = "IF NOT EXISTS " if dialect.supports_if_not_exists else ""
    return (
        f"CREATE TABLE {exists}{q(table)} ("
        + ", ".join(col_defs + constraint)
        + ")"
    )


# --- the shared write steps ------------------------------------------------

_BATCH = 1000  # ≙ the reference's batch/flush granularity

#: dbapi_write streams every row through the driver; above this many
#: rows that is a driver bottleneck → refuse and demand the Spark JDBC
#: path (or an explicit higher limit).
DBAPI_MAX_ROWS = 1_000_000

# "Table already exists" signatures per dialect (Derby SQLState X0Y32,
# Oracle ORA-00955, generic "already exists"). Deliberately NOT a bare
# "exist" substring: that would also swallow "schema ... does not
# exist" — a real creation failure that must propagate.
_ALREADY_EXISTS = ("already exists", "x0y32", "ora-00955", "already in use")

# "No such table" signatures for tolerated DROPs (Derby 42Y55, Oracle
# ORA-00942, MySQL "unknown table", SQL Server S0002/3701).
_NOT_EXISTS = (
    "does not exist", "not exist", "not found", "unknown table",
    "ora-00942", "42y55", "s0002", "3701",
)


def _tolerant(execute: Callable[[str], object], sql: str, signatures) -> None:
    try:
        execute(sql)
    except Exception as exc:  # noqa: BLE001 - DB-API and py4j errors are driver-specific
        if not any(s in str(exc).lower() for s in signatures):
            raise


def _create(execute, dialect: Dialect, schema, table: str, fields=()) -> None:
    """CREATE TABLE from our dialect DDL, tolerating pre-existence for
    dialects without IF NOT EXISTS (Derby X0Y32, Oracle ORA-00955)."""
    ddl = generate_ddl(schema, table, dialect, fields)
    if dialect.supports_if_not_exists:
        execute(ddl)
    else:
        _tolerant(execute, ddl, _ALREADY_EXISTS)


def _drop(execute, dialect: Dialect, table: str) -> None:
    """DROP TABLE tolerating ONLY 'no such table' errors. Any other
    failure (dependent view, held lock, permissions) propagates —
    swallowing it would silently turn an overwrite into an append, or
    MERGE stale staging rows from a crashed prior run. ``IF EXISTS``
    where the dialect has it, so a missing table never aborts an open
    DB-API transaction (Postgres)."""
    exists = "IF EXISTS " if dialect.supports_if_not_exists else ""
    _tolerant(execute, f"DROP TABLE {exists}{dialect.quote(table)}", _NOT_EXISTS)


def _drain(df: DataFrame, size: int = _BATCH):
    """The frame's rows as tuples, in lists of up to ``size``, for the
    DB-API route.

    ``collect()``, not ``toLocalIterator()``: a local iterator never
    completes a ``DataFrame.observe`` Observation, so
    ``run_pipeline(metrics=...)`` blocked on it forever. Holding the
    rows is bounded: the DB-API route is gated by ``max_rows``.
    """
    rows = df.collect()
    for i in range(0, len(rows), size):
        yield [tuple(r) for r in rows[i : i + size]]


def _jvm_executor(spark, url: str, driver: str | None) -> Callable[[str], object]:
    return lambda sql: jvm_execute(spark, url, [sql], driver)


def _embedded_derby(dialect: Dialect, url: str) -> bool:
    return dialect.name == "derby" and not url.startswith("jdbc:derby://")


def _push(df: DataFrame, url: str, table: str, dialect: Dialect, driver, opts) -> None:
    """Append the rows to ``table``. An embedded Derby (``jdbc:derby:path``;
    the network form is ``jdbc:derby://host``) lives inside this driver
    JVM — cluster executors could never reach it — so it bulk-imports
    the rows through :func:`jvm_write_rows`; every other database gets
    Spark's distributed JDBC writer."""
    if _embedded_derby(dialect, url):
        jvm_write_rows(df.sparkSession, url, table, df, dialect, driver)
        return
    df.write.format("jdbc").options(
        **{
            "url": url,
            # Quote: case-folding DBs (Derby uppercases unquoted names)
            # must resolve to the table OUR quoted DDL created.
            "dbtable": dialect.quote(table),
            "batchsize": str(_BATCH),
            "isolationLevel": "READ_COMMITTED",
            **{k: str(v) for k, v in opts.items()},
        }
    ).mode("append").save()


# --- DB-API route ----------------------------------------------------------


def _adapt_paramstyle(sql: str, conn) -> str:
    """Translate our canonical qmark placeholders to the connection's
    DB-API paramstyle (psycopg2/pymysql use %s). The module's declared
    ``paramstyle`` attribute is authoritative; literals in the built SQL
    never contain '?' (values always travel as parameters), so a plain
    replace is safe."""
    import sys

    mod = sys.modules.get(type(conn).__module__.split(".")[0])
    style = getattr(mod, "paramstyle", "qmark")
    if style in ("format", "pyformat"):
        return sql.replace("?", "%s")
    return sql


def dbapi_write(
    df: DataFrame,
    connect: Callable[[], object],
    table: str,
    dialect: Dialect,
    fields: tuple[Field, ...] = (),
    mode: str = "append",
    key_cols: list[str] | None = None,
    insert_sql: str | None = None,
    max_rows: int = DBAPI_MAX_ROWS,
) -> None:
    """Driver-side DB-API write: DDL + executemany batches (+ upsert).

    The no-jar test path and the small-table path; rows go through the
    driver in _BATCH chunks (autocommit off, like the reference).
    Refuses DataFrames above ``max_rows`` — use the distributed
    ``write_jdbc`` Spark-JDBC path for big tables.
    """
    # Gate via limit(max_rows+1): scans at most max_rows+1 rows instead
    # of executing the full plan once for a count and again for the
    # write stream.
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"dbapi_write: input exceeds the driver-side gate of "
            f"{max_rows} rows; this path funnels all rows through the "
            "driver. Use the Spark JDBC path (write_jdbc without "
            "dbapi_connect) or raise options['dbapi_max_rows'] explicitly."
        )
    conn = connect()
    cur = conn.cursor()
    try:
        if mode == "overwrite":
            _drop(cur.execute, dialect, table)
        _create(cur.execute, dialect, df.schema, table, fields)
        sql = insert_sql or (
            dialect.upsert(table, df.columns, key_cols or [])
            if mode == "upsert"
            else dialect._insert(table, df.columns)
        )
        sql = _adapt_paramstyle(sql, conn)
        for chunk in _drain(df):
            cur.executemany(sql, chunk)
        conn.commit()
    except BaseException:
        # Release locks held by the open uncommitted transaction before
        # propagating; without this a failed batch can block other
        # writers until the abandoned connection times out.
        try:
            conn.rollback()
        except Exception:  # noqa: BLE001 - rollback is best-effort
            pass
        raise
    finally:
        cur.close()
        # ``connect`` opens a new connection on every call, so one left
        # open per write accumulates until the server's connection limit
        # fails later writes.
        try:
            conn.close()
        except Exception:  # noqa: BLE001 - close is best-effort
            pass


def read_key_map(
    connect: Callable[[], object],
    table: str,
    natural_key: str,
    generated_key: str,
    dialect: Dialect,
):
    """Harvest generated keys after a parent write (≙ getGeneratedKeys +
    AutoIncrementValueBuffer publish): returns [(old, new), ...]."""
    conn = connect()
    cur = conn.cursor()
    q = dialect.quote
    try:
        cur.execute(f"SELECT {q(natural_key)}, {q(generated_key)} FROM {q(table)}")
        return list(cur.fetchall())
    finally:
        cur.close()
        try:
            conn.close()
        except Exception:  # noqa: BLE001 - close is best-effort
            pass


# --- JVM route -------------------------------------------------------------


def _jvm_connection(spark, url: str, driver: str | None = None):
    """Open a java.sql.Connection through the session JVM (the JDBC jar
    is already on the Spark classpath)."""
    jvm = spark._jvm
    if driver:
        # Force driver registration (DriverManager may not have loaded it
        # when the URL scheme is only known to an unloaded driver class).
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def jvm_execute(spark, url: str, statements: list[str], driver: str | None = None):
    """Run DDL/DML statements over one JVM JDBC connection; returns the
    per-statement update counts (DDL → 0)."""
    conn = _jvm_connection(spark, url, driver)
    counts = []
    try:
        stmt = conn.createStatement()
        for sql in statements:
            counts.append(stmt.executeUpdate(sql))
        stmt.close()
    finally:
        conn.close()
    return counts


def jvm_query(spark, url: str, sql: str, driver: str | None = None):
    """Run one SELECT over a JVM JDBC connection → list of tuples
    (driver-side; for small reads like key maps / assertions)."""
    conn = _jvm_connection(spark, url, driver)
    try:
        stmt = conn.createStatement()
        rs = stmt.executeQuery(sql)
        ncols = rs.getMetaData().getColumnCount()
        out = []
        while rs.next():
            out.append(tuple(rs.getObject(i + 1) for i in range(ncols)))
        rs.close()
        stmt.close()
        return out
    finally:
        conn.close()


def _import_line(df: DataFrame):
    """Each row as one line of Derby's import format. A non-NULL string
    is quoted with inner quotes doubled (Derby trims the blanks of an
    unquoted field, and an unquoted empty field is NULL); binary is
    quoted hex. Timestamps print the wall clock of the JVM's default
    zone, in which JDBC hands Derby a ``java.sql.Timestamp``, not the
    session zone's. NULL is an empty unquoted field."""
    session_zone = df.sparkSession.conf.get("spark.sql.session.timeZone")
    jvm_zone = df.sparkSession._jvm.java.util.TimeZone.getDefault().getID()
    cells = []
    for f in df.schema.fields:
        c = F.col("`" + f.name.replace("`", "``") + "`")
        if isinstance(f.dataType, StringType):
            c = F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"'))
        elif isinstance(f.dataType, BinaryType):
            c = F.concat(F.lit('"'), F.hex(c), F.lit('"'))
        elif isinstance(f.dataType, TimestampType):
            c = c.cast("timestamp_ntz")  # the session zone's wall clock
            c = F.convert_timezone(F.lit(session_zone), F.lit(jvm_zone), c)
            c = F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")
        else:
            c = c.cast("string")
        cells.append(F.coalesce(c, F.lit("")))
    return F.concat_ws(",", *cells)


def _check_bulk_import(df: DataFrame) -> None:
    """Refuse what one driver-side Derby import cannot load."""
    master = df.sparkSession.sparkContext.master
    if not master.startswith("local"):
        raise ValueError(f"embedded Derby needs a local master, not {master!r}")
    if any("," in c for c in df.columns):
        raise ValueError(
            f"embedded Derby cannot import a comma in a column name: {df.columns}"
        )


def jvm_write_rows(
    spark, url: str, table: str, df: DataFrame, dialect: Dialect, driver: str | None = None
) -> None:
    """Append the rows to ``table`` of an embedded Derby (one inside the
    driver JVM) with one bulk import: Spark writes the rows as a single
    file in Derby's import format (:func:`_import_line`), and one
    ``SYSCS_IMPORT_DATA`` call loads it in one transaction, on its own
    connection. The rows never cross into Python. Column names go into
    the call unquoted: Derby matches them literally. :func:`write_jdbc`
    has already refused what the import cannot load
    (:func:`_check_bulk_import`)."""
    lit = lambda v: "'" + v.replace("'", "''") + "'"  # noqa: E731
    tmp = tempfile.mkdtemp(prefix="tensei_derby_")
    try:
        df.select(_import_line(df)).coalesce(1).write.text(f"file://{tmp}/rows")
        [path] = glob.glob(f"{tmp}/rows/part-*")  # one, empty when no rows
        conn = _jvm_connection(spark, url, driver)
        try:
            conn.createStatement().execute(
                f"CALL SYSCS_UTIL.SYSCS_IMPORT_DATA(NULL, {lit(table)}, "
                f"{lit(','.join(df.columns))}, NULL, {lit(path)}, ',', '\"', 'UTF-8', 0)"
            )
        finally:
            conn.close()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def drop_table_jvm(spark, url: str, table: str, dialect: Dialect, driver) -> None:
    """DROP TABLE through the JVM, tolerating only 'no such table'."""
    _drop(_jvm_executor(spark, url, driver), dialect, table)


@register("jdbc")
def write_jdbc(df: DataFrame, spec: TargetSpec) -> None:
    opts = dict(spec.options)
    table = opts.pop("table", spec.name)
    dialect = dialect_for(spec.uri)
    connect = opts.pop("dbapi_connect", None)
    key_cols = [f.name for f in spec.fields if f.unique] or list(
        opts.pop("key_cols", [])
    )

    if connect is not None:
        dbapi_write(
            df, connect, table, dialect, spec.fields,
            mode=spec.mode, key_cols=key_cols,
            insert_sql=opts.pop("insert_sql", None),
            max_rows=int(opts.pop("dbapi_max_rows", DBAPI_MAX_ROWS)),
        )
        return

    spark, url, driver = df.sparkSession, spec.uri, opts.get("driver")
    if _embedded_derby(dialect, url):
        _check_bulk_import(df)  # before the DDL, so a refusal changes nothing
    execute = _jvm_executor(spark, url, driver)
    if spec.mode == "overwrite":
        _drop(execute, dialect, table)
    _create(execute, dialect, df.schema, table, spec.fields)
    if spec.mode in ("append", "overwrite"):
        _push(df, url, table, dialect, driver, opts)
        return

    # Upsert: push into a staging table, then ONE set-wise MERGE. The
    # staging columns reuse the spec's TYPE hints (length/max_length)
    # minus constraints: bare fields=() would type string keys as the
    # dialect's large-text (CLOB) and the MERGE equality on them fails
    # on Derby/Oracle ('comparisons between CLOB not supported').
    staging = f"{table}__stage"
    _drop(execute, dialect, staging)
    _create(
        execute, dialect, df.schema, staging,
        tuple(replace(f, unique=False, auto_increment=False) for f in spec.fields),
    )
    _push(df, url, staging, dialect, driver, opts)
    jvm_execute(
        spark,
        url,
        [
            dialect.merge_from_staging(table, staging, df.columns, key_cols),
            f"DROP TABLE {dialect.quote(staging)}",
        ],
        driver,
    )
