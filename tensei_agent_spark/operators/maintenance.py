"""Privacy maintenance over a foreign-key graph of frames.

Two operations a data owner runs on a multi-table dataset before it is
re-published: erase an entity and everything that references it
(:func:`cascade_delete`, which walks the same FK edges the writer's
topological insert order is built from, plans/plan.py), and replace
entity keys with tokens that keep every join intact
(:func:`pseudonymize`).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def cascade_delete(
    frames: dict[str, "DataFrame"],
    fk_edges: list[tuple[str, str, str, str]],
    root: str,
    root_keys: "DataFrame",
) -> dict[str, "DataFrame"]:
    """GDPR-style cascade deletion across an FK graph: given frames,
    edges (child, child_fk_col, parent, parent_key_col), a root table
    and the root keys to erase, return every frame with the affected
    rows removed — children first in FK order, exactly the inverse of
    the writer's FK-topological insert order (plans/plan.py).

    Mechanics: the doomed key set propagates DOWN the graph by
    semi-joins (parent's doomed keys ⋉ child's FK), and each frame is
    pruned with a LEFT ANTI join — hash equi-joins only, the doomed
    sets broadcast when small (a deletion request is typically tiny
    next to the fact tables). Frames not reachable from the root pass
    through untouched. Diamond-shaped graphs are fine: a child hit
    via two parents anti-joins each doomed set once.

    Returns {table: pruned DataFrame}.
    """
    children: dict[str, list[tuple[str, str, str]]] = {}
    for child, fk_col, parent, pk_col in fk_edges:
        children.setdefault(parent, []).append((child, fk_col, pk_col))
    # BFS the doomed frontier down the FK graph. Frontier rows carry
    # the doomed rows of the parent table (so each hop can select the
    # parent-key column its edge names). ``root_keys`` must expose the
    # root's key under the column name its outgoing edges use.
    doomed: dict[str, list] = {}
    # Level-synchronous BFS with PER-TABLE frontier merging: a table
    # reachable by many FK paths (stacked diamonds) is expanded once
    # per LEVEL on its unioned doomed rows, not once per path — path
    # enumeration would be exponential in diamond depth and would trip
    # the cycle guard on valid DAGs. Rounds are bounded by the longest
    # path, which in a DAG is < |tables|.
    pending: dict[str, "DataFrame"] = {root: root_keys}
    rounds = 0
    while pending:
        rounds += 1
        if rounds > len(frames):
            raise ValueError(
                "FK graph cycle — cascade_delete requires a DAG (the "
                "writer's FK topo-sort enforces the same invariant)"
            )
        nxt: dict[str, "DataFrame"] = {}
        for parent, rows in pending.items():
            for child, fk_col, pk_col in children.get(parent, []):
                kdf = rows.select(pk_col).distinct()
                doomed.setdefault(child, []).append((fk_col, kdf))
                child_rows = frames[child].join(
                    F.broadcast(kdf.withColumnRenamed(pk_col, "_k")),
                    F.col(fk_col) == F.col("_k"),
                    "left_semi",
                )
                nxt[child] = (
                    child_rows
                    if child not in nxt
                    else nxt[child].unionByName(child_rows)
                )
        pending = nxt
    out: dict[str, "DataFrame"] = {}
    root_pk = root_keys.columns[0]
    for name, df in frames.items():
        pruned = df
        if name == root:
            pruned = pruned.join(
                F.broadcast(
                    root_keys.select(root_pk).distinct().withColumnRenamed(
                        root_pk, "_doomed"
                    )
                ),
                F.col(root_pk) == F.col("_doomed"),
                "left_anti",
            )
        for fk_col, kdf in doomed.get(name, []):
            pk_col = kdf.columns[0]
            pruned = pruned.join(
                F.broadcast(kdf.withColumnRenamed(pk_col, "_doomed")),
                F.col(fk_col) == F.col("_doomed"),
                "left_anti",
            )
        out[name] = pruned
    return out


def pseudonymize(
    frames: dict[str, "DataFrame"],
    key_map: dict[str, list[str]],
    salt: str,
    drop_cols: dict[str, list[str]] | None = None,
) -> dict[str, "DataFrame"]:
    """FK-consistent pseudonymization (GDPR Art. 4(5)): replace entity
    keys with salted md5 tokens so datasets can leave the trust
    boundary with JOINS INTACT — the same source key maps to the same
    token in every table (the token is a pure function of
    (salt, value), no mapping table to ship or leak), while the salt
    holder alone can re-identify by recomputing.

    ``key_map``: table -> key columns to tokenize (use the same salt
    for FK pairs across tables so referential joins survive).
    ``drop_cols``: table -> direct-identifier columns to remove
    outright (names, addresses — pseudonymizing those isn't enough).

    Pure map stage per table — no shuffle, no driver state. Tokens are
    32-hex md5 strings; collision odds at 100 TB key cardinalities
    (~2^-64 per pair) are below hardware error rates.
    """
    out: dict[str, DataFrame] = {}
    for name, df in frames.items():
        cur = df
        for col in key_map.get(name, []):
            cur = cur.withColumn(
                col,
                F.md5(
                    F.concat(F.lit(f"{salt}:"), F.col(col).cast("string"))
                ),
            )
        for col in (drop_cols or {}).get(name, []):
            cur = cur.drop(col)
        out[name] = cur
    return out
