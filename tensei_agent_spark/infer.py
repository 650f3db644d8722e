"""Schema inference (≙ SchemaExtractor, SURVEY.md §2.8).

- :func:`infer_csv`   ≙ ``helpers/CSVSchemaExtractor.scala:231-454``:
  separator detection, header detection, per-column **type voting**
  among long / decimal (incl. decimal-separator detection) / date /
  time / datetime (configured format lists) / string.
- :func:`infer_json`  ≙ ``helpers/JSONSchemaExtractor.scala``: recursive
  walk of a sample document → dotted field names (the sink's nesting
  convention) + ``explodePath`` when the document root is an array.
- :func:`infer_dbapi` ≙ ``helpers/DatabaseSchemaExtractor.scala``:
  driver-side metadata walk over a DB-API connection (tables → specs,
  columns → typed Fields, PK → ``unique``); the Spark-JDBC path gets
  schemas for free from the reader.
- :func:`infer_jdbc` / :func:`list_tables_jdbc` — the real
  java.sql.DatabaseMetaData walk (PK → ``unique``, identity →
  ``auto_increment``, imported keys → ``foreign_keys``), exercised
  live against the Derby embedded driver.

All functions return ``(fields, options)`` ready to drop into a
:class:`~tensei_agent_spark.plans.spec.SourceSpec` — inference is a
driver-side sampling pass; the subsequent distributed read uses the
inferred schema explicitly so Catalyst sees real types.
"""

from __future__ import annotations

import json as _json
import re
from datetime import datetime

from .plans.spec import Field, SourceSpec

# Candidate separators, reference-style (CSVSchemaExtractor separator
# voting) — ordered by prior likelihood.
_SEPARATORS = [",", ";", "\t", "|", "~"]

# Format lists ≙ extractors.conf (formats.formattime.*): the patterns the
# reference votes among, as strptime/Spark pattern pairs.
DATE_FORMATS = [
    ("%Y-%m-%d", "yyyy-MM-dd"),
    ("%d.%m.%Y", "dd.MM.yyyy"),
    ("%m/%d/%Y", "MM/dd/yyyy"),
    ("%Y/%m/%d", "yyyy/MM/dd"),
]
TIME_FORMATS = [("%H:%M:%S", "HH:mm:ss"), ("%H:%M", "HH:mm")]
DATETIME_FORMATS = [
    ("%Y-%m-%d %H:%M:%S", "yyyy-MM-dd HH:mm:ss"),
    ("%Y-%m-%dT%H:%M:%S", "yyyy-MM-dd'T'HH:mm:ss"),
    ("%d.%m.%Y %H:%M:%S", "dd.MM.yyyy HH:mm:ss"),
]

_LONG_RE = re.compile(r"^-?\d+$")
_DEC_DOT_RE = re.compile(r"^-?\d+\.\d+$")
_DEC_COMMA_RE = re.compile(r"^-?\d+,\d+$")


def _parses_all(values: list[str], fmts) -> str | None:
    """First format (Spark pattern) that parses every non-empty value."""
    for pyfmt, sparkfmt in fmts:
        ok = True
        for v in values:
            try:
                datetime.strptime(v, pyfmt)
            except ValueError:
                ok = False
                break
        if ok:
            return sparkfmt
    return None


def _vote_column(values: list[str]) -> Field:
    """Type-vote one column (≙ ``CSVSchemaExtractor.createRow``)."""
    vals = [v.strip() for v in values if v is not None and v.strip() != ""]
    if not vals:
        return Field("", "string")
    if all(_LONG_RE.match(v) for v in vals):
        return Field("", "long")
    for pat, sep in ((_DEC_DOT_RE, "."), (_DEC_COMMA_RE, ",")):
        if all(pat.match(v) for v in vals):
            # Precision must pair the WIDEST integer part with the
            # WIDEST scale: per-value maxima taken independently
            # (max total digits, max scale) under-size mixed-magnitude
            # columns — ['1000.5', '1.23456'] needs decimal(9,5), not
            # decimal(6,5), which silently nulls 1000.5 on read.
            int_digits = max(
                len(v.replace("-", "").rsplit(sep, 1)[0]) for v in vals
            )
            scale = max(len(v.rsplit(sep, 1)[1]) for v in vals)
            f = Field("", f"decimal({int_digits + scale},{scale})")
            return f if sep == "." else Field(f.name, f.type, format=",")
    if (fmt := _parses_all(vals, DATE_FORMATS)) is not None:
        return Field("", "date", format=fmt)
    if (fmt := _parses_all(vals, DATETIME_FORMATS)) is not None:
        return Field("", "timestamp", format=fmt)
    if (fmt := _parses_all(vals, TIME_FORMATS)) is not None:
        return Field("", "string", format=fmt)  # Spark has no TIME type
    return Field("", "string")


def detect_separator(lines: list[str]) -> str:
    """The separator with a consistent per-line count ≥ 1 and the highest
    count wins (reference separator voting)."""
    best, best_count = ",", 0
    for sep in _SEPARATORS:
        counts = {ln.count(sep) for ln in lines if ln}
        if len(counts) == 1:
            (c,) = counts
            if c > best_count:
                best, best_count = sep, c
    return best


def detect_header(rows: list[list[str]]) -> bool:
    """Header when row 0 votes all-string but some later column doesn't
    (≙ header-detection heuristic)."""
    if len(rows) < 2:
        return False
    head, body = rows[0], rows[1:]
    if any(_vote_column([h]).type != "string" for h in head):
        return False
    body_types = [
        _vote_column([r[i] for r in body if i < len(r)]).type
        for i in range(len(head))
    ]
    return any(t != "string" for t in body_types)


def infer_csv(path: str, sample_lines: int = 100, encoding: str = "utf-8"):
    """CSV → (fields, reader options)."""
    with open(path, encoding=encoding) as fh:
        lines = [ln.rstrip("\r\n") for _, ln in zip(range(sample_lines), fh)]
    lines = [ln for ln in lines if ln]
    if not lines:
        return (), {"sep": ",", "header": "false"}
    sep = detect_separator(lines)
    rows = [ln.split(sep) for ln in lines]
    header = detect_header(rows)
    names = (
        [h.strip() for h in rows[0]]
        if header
        else [f"col{i}" for i in range(len(rows[0]))]
    )
    body = rows[1:] if header else rows
    fields = []
    for i, name in enumerate(names):
        voted = _vote_column([r[i] for r in body if i < len(r)])
        fields.append(Field(name, voted.type, format=voted.format))
    options = {"sep": sep, "header": str(header).lower()}
    # A comma-decimal column (format=',') is only readable if the reader
    # gets the locale option — read_csv localizes (string-read +
    # translate) solely on options['decimalSeparator'].
    if any(
        f.format == "," and f.type.startswith("decimal") for f in fields
    ):
        options["decimalSeparator"] = ","
    return tuple(fields), options


def spec_from_csv(name: str, path: str, **kw) -> SourceSpec:
    fields, options = infer_csv(path, **kw)
    return SourceSpec(name, "csv", path, fields, options)


# --- JSON --------------------------------------------------------------------


def _walk_json(node, prefix: str, out: list[Field]) -> None:
    if isinstance(node, dict):
        for k, v in node.items():
            _walk_json(v, f"{prefix}{k}." if isinstance(v, dict) else f"{prefix}{k}", out)
    elif isinstance(node, bool):
        out.append(Field(prefix, "boolean"))
    elif isinstance(node, int):
        out.append(Field(prefix, "long"))
    elif isinstance(node, float):
        out.append(Field(prefix, "double"))
    elif isinstance(node, list):
        # array of records ≙ a sequence; vote on the first element
        if node and isinstance(node[0], dict):
            sub: list[Field] = []
            _walk_json(node[0], f"{prefix}[].", sub)
            out.extend(sub)
        else:
            out.append(Field(prefix, "array<string>"))
    else:
        out.append(Field(prefix, "string"))


def infer_json(path: str, encoding: str = "utf-8"):
    """JSON document → (fields, reader options). A root-level array (or
    single array attribute) becomes the row sequence via explodePath."""
    with open(path, encoding=encoding) as fh:
        doc = _json.load(fh)
    options: dict = {"multiLine": "true"}
    if isinstance(doc, list):
        # whole-doc array: spark.read.json already yields one row per elem
        doc = doc[0] if doc else {}
    elif isinstance(doc, dict):
        arrays = [k for k, v in doc.items() if isinstance(v, list) and v and isinstance(v[0], dict)]
        if len(arrays) == 1 and len(doc) == 1:
            options["explodePath"] = arrays[0]
            doc = doc[arrays[0]][0]
    fields: list[Field] = []
    _walk_json(doc, "", fields)
    return tuple(f for f in fields), options


# --- JDBC metadata -----------------------------------------------------------

_DBAPI_TYPE_MAP = {
    "BIGINT": "long", "INTEGER": "int", "SMALLINT": "smallint",
    "DOUBLE": "double", "FLOAT": "float", "REAL": "float",
    "VARCHAR": "string", "TEXT": "string", "BOOLEAN": "boolean",
    "DATE": "date", "TIMESTAMP": "timestamp", "BLOB": "binary",
}


def _sql_to_spark_type(type_code: str) -> str:
    base = re.sub(r"\(.*\)", "", type_code).strip().upper()
    if base in ("DECIMAL", "NUMERIC"):
        m = re.search(r"\((\d+),\s*(\d+)\)", type_code)
        return f"decimal({m.group(1)},{m.group(2)})" if m else "decimal(38,10)"
    return _DBAPI_TYPE_MAP.get(base, "string")


def infer_dbapi(connect, table: str) -> tuple[Field, ...]:
    """DB-API metadata → Fields. DESCRIBE (duckdb/mysql) gives real SQL
    type names; ``cursor.description`` only yields coarse DB-API codes,
    so it is the fallback, not the primary (the reference reads
    ``java.sql.DatabaseMetaData``, the JDBC analogue of DESCRIBE)."""
    conn = connect()
    cur = conn.cursor()
    try:
        try:
            rows = cur.execute(f"DESCRIBE {table}").fetchall()
            return tuple(Field(r[0], _sql_to_spark_type(str(r[1]))) for r in rows)
        except Exception:
            cur.execute(f"SELECT * FROM {table} LIMIT 0")
            return tuple(
                Field(d[0], _sql_to_spark_type(str(d[1]))) for d in cur.description
            )
    finally:
        cur.close()


# java.sql.Types → Spark DDL type strings (the JDBC-metadata analogue
# of _DBAPI_TYPE_MAP; constants from the public java.sql.Types API).
_JDBC_TYPE_MAP = {
    -7: "boolean",   # BIT
    -6: "smallint",  # TINYINT
    -5: "long",      # BIGINT
    -4: "binary",    # LONGVARBINARY
    -3: "binary",    # VARBINARY
    -2: "binary",    # BINARY
    -1: "string",    # LONGVARCHAR
    1: "string",     # CHAR
    4: "int",        # INTEGER
    5: "smallint",   # SMALLINT
    6: "double",     # FLOAT
    7: "float",      # REAL
    8: "double",     # DOUBLE
    12: "string",    # VARCHAR
    16: "boolean",   # BOOLEAN
    91: "date",      # DATE
    92: "string",    # TIME (no Spark time type)
    93: "timestamp", # TIMESTAMP
    2004: "binary",  # BLOB
    2005: "string",  # CLOB
    -15: "string",   # NCHAR
    -9: "string",    # NVARCHAR
    2011: "string",  # NCLOB
}
_JDBC_CHAR = {1, -15}        # fixed-width → Field.length
_JDBC_VARCHAR = {12, -9}     # bounded → Field.max_length


def list_tables_jdbc(spark, url: str, driver: str | None = None) -> list[str]:
    """Enumerate user tables via java.sql.DatabaseMetaData.getTables
    (≙ ``DatabaseSchemaExtractor.getTables``,
    ``helpers/DatabaseSchemaExtractor.scala:130-157``)."""
    from .sinks.jdbc import _jvm_connection

    conn = _jvm_connection(spark, url, driver)
    try:
        rs = conn.getMetaData().getTables(None, None, "%", None)
        out = []
        while rs.next():
            if (rs.getString("TABLE_TYPE") or "").upper() == "TABLE":
                out.append(rs.getString("TABLE_NAME"))
        rs.close()
        return out
    finally:
        conn.close()


def infer_jdbc(
    spark, url: str, table: str, driver: str | None = None
) -> tuple[tuple[Field, ...], dict[str, tuple[str, str]]]:
    """JDBC DatabaseMetaData → (Fields, foreign_keys).

    ≙ the reference's per-dialect table-details statements + PK/FK
    harvest (``helpers/DatabaseSchemaExtractor.scala:1660-1800``), but
    through the portable java.sql.DatabaseMetaData API the JVM already
    holds: getColumns (type / size / scale / nullable / identity),
    getPrimaryKeys (→ ``Field.unique``), getImportedKeys (→ the
    ``TargetSpec.foreign_keys`` mapping ``column → (parent_table,
    parent_column)`` that drives recipe topological ordering and key
    remapping).

    Driver-side metadata-only pass — no data is read; the distributed
    read then applies the inferred schema explicitly.
    """
    from .sinks.jdbc import _jvm_connection

    conn = _jvm_connection(spark, url, driver)
    try:
        meta = conn.getMetaData()
        pks: set[str] = set()
        rs = meta.getPrimaryKeys(None, None, table)
        while rs.next():
            pks.add(rs.getString("COLUMN_NAME"))
        rs.close()

        fks: dict[str, tuple[str, str]] = {}
        rs = meta.getImportedKeys(None, None, table)
        while rs.next():
            fks[rs.getString("FKCOLUMN_NAME")] = (
                rs.getString("PKTABLE_NAME"),
                rs.getString("PKCOLUMN_NAME"),
            )
        rs.close()

        fields: list[Field] = []
        rs = meta.getColumns(None, None, table, "%")
        while rs.next():
            name = rs.getString("COLUMN_NAME")
            jtype = rs.getInt("DATA_TYPE")
            size = rs.getInt("COLUMN_SIZE")
            scale = rs.getInt("DECIMAL_DIGITS")
            if jtype in (2, 3):  # NUMERIC / DECIMAL
                stype = f"decimal({size},{scale})"
            else:
                stype = _JDBC_TYPE_MAP.get(jtype, "string")
            fields.append(
                Field(
                    name,
                    stype,
                    nullable=rs.getInt("NULLABLE") != 0,  # columnNoNulls=0
                    unique=name in pks,
                    auto_increment=(
                        (rs.getString("IS_AUTOINCREMENT") or "").upper() == "YES"
                    ),
                    length=size if jtype in _JDBC_CHAR and size > 0 else None,
                    max_length=(
                        size if jtype in _JDBC_VARCHAR and size > 0 else None
                    ),
                )
            )
        rs.close()
        return tuple(fields), fks
    finally:
        conn.close()
