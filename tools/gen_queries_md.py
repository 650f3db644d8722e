"""Generate QUERIES.md — the registry index (name, check kind, bench
flag, first docstring sentence). Run from the repo root:

    python tools/gen_queries_md.py
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

from tensei_agent_spark.queries import REGISTRY  # noqa: E402


def first_sentence(doc: str | None) -> str:
    if not doc:
        return ""
    text = " ".join(doc.split())
    for stop in (". ", " — the", " – the"):
        if stop in text:
            return text.split(stop, 1)[0].rstrip(".") + "."
    return text[:160]


def render() -> str:
    """QUERIES.md's content, from the live registry."""
    rows = []
    for name, q in sorted(REGISTRY.items()):
        fn = getattr(q.build, "__wrapped__", q.build)
        rows.append(
            (
                name,
                "bit-exact" if q.oracle else "rows-only",
                "yes" if q.bench else "",
                first_sentence(fn.__doc__).replace("|", "\\|"),
            )
        )
    n_exact = sum(1 for r in rows if r[1] == "bit-exact")
    out = [
        "# QUERIES — registry index\n\n",
        f"Generated by `python tools/gen_queries_md.py`. "
        f"{len(rows)} queries: {n_exact} bit-exact vs the DuckDB "
        f"oracle, {len(rows) - n_exact} rows-only (sketch/iterative "
        f"variants with pytest-pinned invariants — see "
        f"tests/test_driver_contract.py allowlist).\n\n",
        "| query | check | bench | what it does |\n|---|---|---|---|\n",
    ]
    for name, chk, bench, desc in rows:
        out.append(f"| `{name}` | {chk} | {bench} | {desc} |\n")
    return "".join(out)


def main() -> None:
    text = render()
    with open("QUERIES.md", "w") as f:
        f.write(text)
    print(f"wrote QUERIES.md ({len(REGISTRY)} rows)")


if __name__ == "__main__":
    main()
