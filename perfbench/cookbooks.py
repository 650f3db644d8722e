"""The two cookbook workloads: pipeline specs and their DuckDB oracles.

``files_pipeline`` is the paper's parse → process → write job over
generated CSV and JSON sources: a mapping-key join, transformer chains,
positional row alignment, auto-increment keys with FK remap and
unique-column dedup, written to parquet, CSV and JSON targets.

``derby_pipeline`` writes the same kind of job to embedded Derby: the
parent table is overwritten with generated keys and the child table is
upserted through a staging table plus MERGE.

``FILE_EXPECTED`` and ``DERBY_EXPECTED`` re-derive every target in
DuckDB SQL over the same generated sources, independently of the Spark
code; the oracle classes compare written rows with them as multisets.
The semantics they restate are the engine's documented ones: keys are
numbered over the pre-dedup rows in natural-key order, the dedup keeps
one row per unique key, defaults fill NULL target cells.
"""

from __future__ import annotations

import os

from tensei_agent_spark.plans import (
    ColumnRef,
    Field,
    Mapping,
    Pipeline,
    Recipe,
    SourceSpec,
    TargetSpec,
)

DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d-]{7,}\d"
REDACT = ("redact_pii", {})


def _redact_sql(col: str) -> str:
    return (
        f"regexp_replace(regexp_replace({col}, '{EMAIL_RE}', '[EMAIL]', 'g'), "
        f"'{PHONE_RE}', '[PHONE]', 'g')"
    )


def _refs(source: str, *cols: str) -> tuple[ColumnRef, ...]:
    return tuple(ColumnRef(source, c) for c in cols)


# --- file cookbook ---------------------------------------------------------

CUSTOMER_FIELDS = (
    Field("cust_id", "long"), Field("name"), Field("email"), Field("phone"),
    Field("city"), Field("segment"), Field("signup"),
)
ORDER_FIELDS = (
    Field("order_id", "long"), Field("cust_id", "long"),
    Field("amount", "decimal(12,2)"), Field("status"), Field("note"),
)
SCORE_FIELDS = (Field("seq", "long"), Field("score", "long"), Field("tier"))

def files_pipeline(src: dict[str, str], out: str) -> Pipeline:
    """Three recipes: customers (parquet, generated keys), orders (CSV,
    mapping-key join + FK remap) and profiles (JSON, positional row
    alignment)."""
    sources = (
        SourceSpec("customers", "csv", src["customers"], CUSTOMER_FIELDS,
                   {"leading_lines": 1}),
        SourceSpec("orders", "json", src["orders"], ORDER_FIELDS,
                   {"multiLine": "false"}),
        SourceSpec("scores", "csv", src["scores"], SCORE_FIELDS,
                   {"leading_lines": 1}),
    )
    targets = (
        TargetSpec(
            "customers_out", "parquet", os.path.join(out, "customers_out"),
            fields=(
                Field("cust_key", "long", auto_increment=True),
                Field("cust_id", "long", unique=True),
                Field("name"), Field("email"),
                Field("city", default="UNKNOWN"),
                Field("segment", default="retail"),
                Field("signup", "timestamp"),
            ),
            options={"natural_key": "cust_id"},
        ),
        TargetSpec(
            "orders_out", "csv", os.path.join(out, "orders_out"),
            fields=(
                Field("order_id", "long", unique=True),
                Field("cust_id", "long"),
                Field("amount", "decimal(12,2)"),
                Field("status", default="unknown"),
                Field("note"), Field("label"),
            ),
            foreign_keys={"cust_id": ("customers_out", "cust_key")},
        ),
        TargetSpec(
            "profiles_out", "json", os.path.join(out, "profiles_out"),
            fields=(
                Field("cust_id", "long"), Field("score", "long"),
                Field("tier", default="BRONZE"),
            ),
        ),
    )
    recipes = (
        Recipe("customers", "customers_out", mappings=(
            Mapping(_refs("customers", "cust_id"), ("cust_id",)),
            Mapping(_refs("customers", "name"), ("name",),
                    transformers=(("lower_or_upper", {"perform": "upper"}),)),
            Mapping(_refs("customers", "email"), ("email",),
                    transformers=(REDACT,)),
            Mapping(_refs("customers", "city"), ("city",)),
            # Replace-all stays in the JVM. The first-N form (count > 0)
            # runs a pandas UDF whose Python workers the JVM forks and
            # retires by load; it made per-pass CPU and peak memory
            # bimodal between runs (1.6 GB or 2.8 GB), so no cookbook
            # crosses the Python boundary.
            Mapping(_refs("customers", "segment"), ("segment",), transformers=(
                ("replace", {"search": ["[^A-Za-z]"], "replace": ""}),
                ("lower_or_upper", {"perform": "lower"}),
            )),
            Mapping(_refs("customers", "signup"), ("signup",),
                    transformers=(("date_converter", {}),)),
        )),
        Recipe("orders", "orders_out", mapping_key="cust_id", mappings=(
            Mapping(_refs("orders", "order_id", "cust_id", "amount"),
                    ("order_id", "cust_id", "amount")),
            Mapping(_refs("orders", "status"), ("status",), transformers=(
                ("replace", {"search": ["[^A-Za-z]"], "replace": ""}),
                ("lower_or_upper", {"perform": "lower"}),
            )),
            Mapping(_refs("orders", "note"), ("note",), transformers=(REDACT,)),
            Mapping(
                (ColumnRef("customers", "name"), ColumnRef("orders", "status")),
                ("label",), mode="all_to_all",
                transformers=(("concat", {"separator": "/"}),),
            ),
        )),
        Recipe(
            "profiles", "profiles_out",
            order_by={"customers": ["cust_id"], "scores": ["seq"]},
            mappings=(
                Mapping(_refs("customers", "cust_id"), ("cust_id",)),
                Mapping(_refs("scores", "score"), ("score",)),
                Mapping(_refs("scores", "tier"), ("tier",), transformers=(
                    ("lower_or_upper", {"perform": "upper"}),
                )),
            ),
        ),
    )
    return Pipeline("files_cookbook", sources, targets, recipes)


def _load_file_sources(con, src: dict[str, str]) -> None:
    con.execute(f"""
        CREATE OR REPLACE TABLE customers AS SELECT * FROM read_csv('{src["customers"]}',
          header=true, nullstr='', quote='"',
          columns={{'cust_id': 'BIGINT', 'name': 'VARCHAR', 'email': 'VARCHAR',
                    'phone': 'VARCHAR', 'city': 'VARCHAR', 'segment': 'VARCHAR',
                    'signup': 'VARCHAR'}})""")
    con.execute(f"""
        CREATE OR REPLACE TABLE orders AS SELECT * FROM read_json('{src["orders"]}',
          format='newline_delimited',
          columns={{'order_id': 'BIGINT', 'cust_id': 'BIGINT',
                    'amount': 'DECIMAL(12,2)', 'status': 'VARCHAR', 'note': 'VARCHAR'}})""")
    con.execute(f"""
        CREATE OR REPLACE TABLE scores AS SELECT * FROM read_csv('{src["scores"]}',
          header=true, nullstr='',
          columns={{'seq': 'BIGINT', 'score': 'BIGINT', 'tier': 'VARCHAR'}})""")
    # Generated keys: row number over the pre-dedup rows in natural-key
    # order; the dedup keeps the copy with the smallest key.
    con.execute("""
        CREATE OR REPLACE TABLE cust_keys AS
        SELECT cust_id, MIN(rn) AS cust_key FROM (
          SELECT cust_id, row_number() OVER (ORDER BY cust_id) AS rn FROM customers)
        GROUP BY cust_id""")


FILE_EXPECTED = {
    "customers_out": f"""
        SELECT k.cust_key, c.cust_id, upper(c.name) AS name,
               {_redact_sql('c.email')} AS email,
               coalesce(c.city, 'UNKNOWN') AS city,
               coalesce(lower(regexp_replace(c.segment, '[^A-Za-z]', '', 'g')), 'retail')
                 AS segment,
               try_strptime(c.signup, '%Y-%m-%d %H:%M:%S') AS signup
        FROM (SELECT DISTINCT * FROM customers) c JOIN cust_keys k USING (cust_id)""",
    # The CSV target writes an empty string and NULL alike, as an empty
    # field, so the empty label of an orphan order without status reads
    # back as NULL.
    "orders_out": f"""
        SELECT o.order_id, k.cust_key AS cust_id, o.amount,
               coalesce(lower(regexp_replace(o.status, '[^A-Za-z]', '', 'g')), 'unknown')
                 AS status,
               {_redact_sql('o.note')} AS note,
               nullif(concat_ws('/', c.name, o.status), '') AS label
        FROM (SELECT DISTINCT * FROM orders) o
        LEFT JOIN (SELECT DISTINCT cust_id, name FROM customers) c USING (cust_id)
        LEFT JOIN cust_keys k USING (cust_id)""",
    "profiles_out": """
        SELECT c.cust_id, s.score, coalesce(upper(s.tier), 'BRONZE') AS tier
        FROM (SELECT cust_id, row_number() OVER (ORDER BY cust_id) AS rn
              FROM customers) c
        JOIN (SELECT score, tier, row_number() OVER (ORDER BY seq) AS rn
              FROM scores) s USING (rn)""",
}

_FILE_READERS = {
    "customers_out": "read_parquet('{d}/*.parquet')",
    "orders_out": """read_csv('{d}/*.csv', header=false, nullstr='',
        columns={{'order_id': 'BIGINT', 'cust_id': 'BIGINT', 'amount': 'DECIMAL(12,2)',
                  'status': 'VARCHAR', 'note': 'VARCHAR', 'label': 'VARCHAR'}})""",
    "profiles_out": """read_json('{d}/*.json', format='newline_delimited',
        columns={{'cust_id': 'BIGINT', 'score': 'BIGINT', 'tier': 'VARCHAR'}})""",
}


class FileOracle:
    """Expected file-cookbook targets, derived once per run in DuckDB."""

    def __init__(self, src: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        _load_file_sources(self.con, src)
        for t, sql in FILE_EXPECTED.items():
            self.con.execute(f"CREATE TABLE exp_{t} AS {sql}")
        count = lambda sql: self.con.execute(sql).fetchone()[0]  # noqa: E731
        self.rows_written = sum(count(f"SELECT count(*) FROM exp_{t}") for t in FILE_EXPECTED)
        # Rows reaching the sinks before their unique-column dedup. The
        # lookup join and the FK remap both match every copy of a
        # repeated customer, so an order row arrives m*m times.
        self.rows_processed = (
            2 * count("SELECT count(*) FROM customers")
            + count("""SELECT count(*) FROM orders o
                       LEFT JOIN customers c USING (cust_id)
                       LEFT JOIN (SELECT cust_id FROM customers) k USING (cust_id)""")
        )

    def mismatches(self, out: str) -> dict[str, int]:
        """Rows in either side's multiset but not the other's, per target."""
        bad = {}
        for t, reader in _FILE_READERS.items():
            src = reader.format(d=os.path.join(out, t))
            cols = ", ".join(
                r[0] for r in self.con.execute(f"DESCRIBE exp_{t}").fetchall()
            )
            n = self.con.execute(f"""
                SELECT (SELECT count(*) FROM (SELECT {cols} FROM exp_{t}
                          EXCEPT ALL SELECT {cols} FROM {src}))
                     + (SELECT count(*) FROM (SELECT {cols} FROM {src}
                          EXCEPT ALL SELECT {cols} FROM exp_{t}))""").fetchone()[0]
            if n:
                bad[t] = n
        return bad

    def close(self) -> None:
        self.con.close()


# --- Derby cookbook --------------------------------------------------------

ACCOUNT_FIELDS = (
    Field("acct_no", "long"), Field("owner"), Field("email"), Field("region"),
)
TXN_FIELDS = (
    Field("txn_id", "long"), Field("acct_no", "long"),
    Field("amount", "decimal(12,2)"), Field("memo"),
)
PARENT, CHILD = "ACCOUNTS", "TXNS"


def derby_pipeline(src: dict[str, str], txns: str, url: str, child_mode: str) -> Pipeline:
    """Parent overwrite with generated keys, child write (FK remapped)
    from the ``txns`` source file in ``child_mode``."""
    jdbc = {"driver": DERBY_DRIVER}
    sources = (
        SourceSpec("accounts", "csv", src["accounts"], ACCOUNT_FIELDS,
                   {"leading_lines": 1}),
        SourceSpec("txns", "csv", txns, TXN_FIELDS, {"leading_lines": 1}),
    )
    targets = (
        TargetSpec(
            PARENT, "jdbc", url, mode="overwrite",
            fields=(
                Field("acct_key", "long", auto_increment=True),
                Field("acct_no", "long", unique=True, nullable=False),
                Field("owner", max_length=64), Field("email", max_length=64),
                Field("region", max_length=32, default="UNKNOWN"),
            ),
            options={**jdbc, "table": PARENT, "natural_key": "acct_no"},
        ),
        TargetSpec(
            CHILD, "jdbc", url, mode=child_mode,
            fields=(
                Field("txn_id", "long", unique=True, nullable=False),
                Field("acct_no", "long"),
                Field("amount", "decimal(12,2)"),
                Field("memo", max_length=96, default="none"),
            ),
            options={**jdbc, "table": CHILD},
            foreign_keys={"acct_no": (PARENT, "acct_key")},
        ),
    )
    recipes = (
        Recipe("accounts", PARENT, mappings=(
            Mapping(_refs("accounts", "acct_no"), ("acct_no",)),
            Mapping(_refs("accounts", "owner"), ("owner",),
                    transformers=(("lower_or_upper", {"perform": "upper"}),)),
            Mapping(_refs("accounts", "email"), ("email",), transformers=(REDACT,)),
            Mapping(_refs("accounts", "region"), ("region",)),
        )),
        Recipe("txns", CHILD, mappings=(
            Mapping(_refs("txns", "txn_id", "acct_no", "amount"),
                    ("txn_id", "acct_no", "amount")),
            Mapping(_refs("txns", "memo"), ("memo",), transformers=(
                REDACT, ("lower_or_upper", {"perform": "lower"}),
            )),
        )),
    )
    return Pipeline("derby_cookbook", sources, targets, recipes)


def _load_derby_sources(con, src: dict[str, str]) -> None:
    con.execute(f"""
        CREATE TABLE accounts AS SELECT * FROM read_csv('{src["accounts"]}',
          header=true, nullstr='',
          columns={{'acct_no': 'BIGINT', 'owner': 'VARCHAR', 'email': 'VARCHAR',
                    'region': 'VARCHAR'}})""")
    for t in ("txns", "txns_delta"):
        con.execute(f"""
            CREATE TABLE {t} AS SELECT * FROM read_csv('{src[t]}',
              header=true, nullstr='',
              columns={{'txn_id': 'BIGINT', 'acct_no': 'BIGINT',
                        'amount': 'DECIMAL(12,2)', 'memo': 'VARCHAR'}})""")
    con.execute("""
        CREATE TABLE acct_keys AS
        SELECT acct_no, MIN(rn) AS acct_key FROM (
          SELECT acct_no, row_number() OVER (ORDER BY acct_no) AS rn FROM accounts)
        GROUP BY acct_no""")


DERBY_EXPECTED = {
    PARENT: f"""
        SELECT k.acct_key, a.acct_no, upper(a.owner) AS owner,
               {_redact_sql('a.email')} AS email,
               coalesce(a.region, 'UNKNOWN') AS region
        FROM (SELECT DISTINCT * FROM accounts) a JOIN acct_keys k USING (acct_no)""",
    # Base batch upserted into an empty table, then the delta: delta rows
    # replace base rows with the same key, new keys are inserted.
    CHILD: f"""
        WITH merged AS (
          SELECT * FROM txns_delta
          UNION ALL
          SELECT * FROM (SELECT DISTINCT * FROM txns)
          WHERE txn_id NOT IN (SELECT txn_id FROM txns_delta))
        SELECT m.txn_id, k.acct_key AS acct_no, m.amount,
               coalesce(lower({_redact_sql('m.memo')}), 'none') AS memo
        FROM merged m LEFT JOIN acct_keys k USING (acct_no)""",
}

DERBY_COLUMNS = {
    PARENT: ("acct_key", "acct_no", "owner", "email", "region"),
    CHILD: ("txn_id", "acct_no", "amount", "memo"),
}


class DerbyOracle:
    """Expected Derby tables after one pass, derived in DuckDB."""

    def __init__(self, src: dict[str, str]):
        import duckdb

        self.con = duckdb.connect()
        _load_derby_sources(self.con, src)
        for t, sql in DERBY_EXPECTED.items():
            self.con.execute(f"CREATE TABLE exp_{t} AS {sql}")
        count = lambda sql: self.con.execute(sql).fetchone()[0]  # noqa: E731
        # Rows written per pass: the parent twice (base and delta run),
        # the deduplicated base batch and the delta batch.
        self.rows_written = (
            2 * count(f"SELECT count(*) FROM exp_{PARENT}")
            + count("SELECT count(*) FROM (SELECT DISTINCT * FROM txns)")
            + count("SELECT count(*) FROM txns_delta")
        )
        # Before the dedup: the FK remap matches every copy of a repeated
        # account.
        self.rows_processed = 2 * count("SELECT count(*) FROM accounts") + sum(
            count(f"""SELECT count(*) FROM {t}
                      LEFT JOIN (SELECT acct_no FROM accounts) USING (acct_no)""")
            for t in ("txns", "txns_delta")
        )

    def mismatches(self, actual: dict[str, list[tuple]]) -> dict[str, int]:
        """``actual``: rows read back per table, in DERBY_COLUMNS order."""
        bad = {}
        for t, rows in actual.items():
            cols = DERBY_COLUMNS[t]
            types = [r[1] for r in self.con.execute(f"DESCRIBE exp_{t}").fetchall()]
            self.con.execute(
                f"CREATE OR REPLACE TABLE act_{t} ("
                + ", ".join(f"{c} VARCHAR" for c in cols) + ")"
            )
            self.con.executemany(
                f"INSERT INTO act_{t} VALUES ({', '.join('?' for _ in cols)})",
                [tuple(None if v is None else str(v) for v in r) for r in rows],
            )
            typed = ", ".join(f"CAST({c} AS {ty}) AS {c}" for c, ty in zip(cols, types))
            n = self.con.execute(f"""
                SELECT (SELECT count(*) FROM (SELECT * FROM exp_{t}
                          EXCEPT ALL SELECT {typed} FROM act_{t}))
                     + (SELECT count(*) FROM (SELECT {typed} FROM act_{t}
                          EXCEPT ALL SELECT * FROM exp_{t}))""").fetchone()[0]
            if n:
                bad[t] = n
        return bad

    def close(self) -> None:
        self.con.close()
