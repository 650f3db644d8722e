"""LIVE JDBC round trips against DuckDB through the REAL java driver.

Complements test_jdbc_live_derby.py: Derby exercises the embedded-JVM
write path (the push step routes its rows through one driver-side
connection), while DuckDB via its JDBC jar exercises the NON-embedded
branch of ``write_jdbc`` — the exact code a remote Postgres/MySQL would
hit: our dialect DDL via DriverManager, then Spark's distributed
``df.write.format("jdbc")`` (executor-side connections, multi-partition
parallel append), then staging + set-wise ON CONFLICT merge.

DuckDB is additionally covered through its Python DBAPI elsewhere
(test_jdbc_sink.py); this file is specifically the java-JDBC surface.

Environment gate: needs ``duckdb_jdbc-*.jar`` somewhere under the user
cache (a public Maven artifact, org.duckdb:duckdb_jdbc). The jar must
be on BOTH the executor classpath (spark.jars) and the driver JVM's
classpath (spark.driver.extraClassPath — DriverManager DDL runs
driver-side), which a live SparkSession cannot change — so the test
runs in a SUBPROCESS with its own session and the shared fixture
session is never touched.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

# Maven-layout lookup, not a full ~/.cache walk (a hot pip/hf cache
# holds hundreds of thousands of files and this runs at every pytest
# collection): .../org/duckdb/duckdb_jdbc/<version>/duckdb_jdbc-*.jar
_JARS = glob.glob(
    os.path.expanduser(
        "~/.cache/coursier/**/org/duckdb/duckdb_jdbc/*/duckdb_jdbc-*.jar"
    ),
    recursive=True,
) or glob.glob(
    os.path.expanduser("~/.m2/repository/org/duckdb/duckdb_jdbc/*/duckdb_jdbc-*.jar")
)

_SCRIPT = r"""
import glob, json, os, sys
jar, repo, db = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[2]")
    .appName("duckdb-jdbc-live")
    .config("spark.jars", jar)
    .config("spark.driver.extraClassPath", jar)
    .config("spark.driver.memory", "2g")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
from tensei_agent_spark.plans.spec import Field, TargetSpec
from tensei_agent_spark.sinks.jdbc import write_jdbc
from tensei_agent_spark.sources.jdbc import read_table

url = f"jdbc:duckdb:{db}"
DRV = "org.duckdb.DuckDBDriver"
out = {}

def rows():
    return sorted(
        (int(r["id"]), r["name"], float(r["bal"]))
        for r in read_table(spark, url, "accounts", driver=DRV).collect()
    )

# 1. dialect DDL + distributed append through the real JDBC writer
df = spark.createDataFrame(
    [(1, "alice", 10.5), (2, "bob", 20.0), (3, "carol", 7.25)],
    "id long, name string, bal double",
)
write_jdbc(df, TargetSpec(
    "accounts", "jdbc", url, mode="append",
    fields=(Field("id", unique=True),), options={"driver": DRV},
))
out["append"] = rows()

# 2. staging + set-wise ON CONFLICT merge (update bob, insert dave)
up = spark.createDataFrame(
    [(2, "bob2", 21.0), (4, "dave", 9.0)],
    "id long, name string, bal double",
)
write_jdbc(up, TargetSpec(
    "accounts", "jdbc", url, mode="upsert",
    fields=(Field("id", unique=True),), options={"driver": DRV},
))
out["upsert"] = rows()

# 3. multi-partition parallel append: each partition opens its own
# executor-side connection to the same embedded file
m = spark.createDataFrame(
    [(5, "eve", 1.0), (6, "frank", 2.0)], "id long, name string, bal double"
).repartition(2)
write_jdbc(m, TargetSpec(
    "accounts", "jdbc", url, mode="append",
    fields=(Field("id", unique=True),), options={"driver": DRV},
))
out["parallel"] = rows()

print("RESULT:" + json.dumps(out))
spark.stop()
"""


@pytest.mark.skipif(not _JARS, reason="duckdb_jdbc jar not on this box")
def test_duckdb_live_jdbc_roundtrip(tmp_path):
    db = str(tmp_path / "live.duckdb")
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, _JARS[0],
         os.path.dirname(os.path.dirname(os.path.abspath(__file__))), db],
        capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    out = json.loads(line[-1][len("RESULT:"):])
    assert out["append"] == [
        [1, "alice", 10.5], [2, "bob", 20.0], [3, "carol", 7.25]]
    assert out["upsert"] == [
        [1, "alice", 10.5], [2, "bob2", 21.0],
        [3, "carol", 7.25], [4, "dave", 9.0]]
    assert out["parallel"] == [
        [1, "alice", 10.5], [2, "bob2", 21.0], [3, "carol", 7.25],
        [4, "dave", 9.0], [5, "eve", 1.0], [6, "frank", 2.0]]
