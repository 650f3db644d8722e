from __future__ import annotations

import pytest

from tensei_agent_spark.session import get_spark

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tensei-agent-spark-tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    yield con
    con.close()


# The reference-parity tests (use-case goldens, parser and DFASDL
# conformance, the CMS-migration goldens that drive write_jdbc end to
# end) read the Tensei-Agent fixture corpus and skip without it.
REFERENCE_SKIP = "reference fixture corpus not present"
REFERENCE_CORPUS = "/root/reference"


def pytest_terminal_summary(terminalreporter):
    skipped = [
        r for r in terminalreporter.stats.get("skipped", [])
        if isinstance(r.longrepr, tuple) and REFERENCE_SKIP in r.longrepr[2]
    ]
    if skipped:
        terminalreporter.write_line(
            f"{len(skipped)} reference-parity tests skipped: {REFERENCE_SKIP} "
            f"({REFERENCE_CORPUS} is missing)",
            yellow=True,
        )
