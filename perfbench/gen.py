"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files under the run's work directory; the
program under test only ever sees these files. Row counts are fixed per
workload, so two seeds do the same amount of work; the seed moves
values, the choice of repeated keys, NULL cells and orphan references.

Repeated unique keys are exact copies of an earlier row. The writer's
unique-column dedup keeps one of them, and because the copies are
identical the surviving row does not depend on which copy Spark sees
first, so a DuckDB re-derivation can state the expected output exactly.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd

FIRST = np.array(
    ["Ada", "Alan", "Grace", "Edsger", "Barbara", "Donald", "Frances",
     "John", "Margaret", "Niklaus", "Radia", "Ken", "Sophie", "Tim"]
)
LAST = np.array(
    ["Lovelace", "Turing", "Hopper", "Dijkstra", "Liskov", "Knuth",
     "Allen", "Backus", "Hamilton", "Wirth", "Perlman", "Thompson"]
)
CITIES = np.array(
    ["Berlin", "Leipzig", "Hamburg", "Munich", "Cologne", "Dresden",
     "Bremen", "Essen", "Mainz", "Kiel", "Bonn", "Ulm"]
)
SEGMENTS = np.array(["Retail-01", "corp_2", "SMB 3", "Public#4", "retail-5"])
STATUSES = np.array(["Shipped!", "PENDING-2", "Cancelled", "Returned#", "open_1"])
TIERS = np.array(["gold", "Silver", "bronze", "PLATINUM"])


def _with_nulls(rng, values: np.ndarray, share: float) -> np.ndarray:
    out = values.astype(object)
    out[rng.random(len(out)) < share] = None
    return out


def _distinct_ids(rng, n: int, lo: int = 1) -> np.ndarray:
    """``n`` distinct ids spread over ``[lo, lo + 4n)``."""
    return rng.choice(np.arange(lo, lo + 4 * n, dtype=np.int64), n, replace=False)


def _people(rng, n: int) -> dict[str, np.ndarray]:
    first = rng.choice(FIRST, n)
    last = rng.choice(LAST, n)
    num = rng.integers(10, 99, n)
    email = np.char.add(
        np.char.add(np.char.add(np.char.lower(first), "."), np.char.lower(last)),
        np.char.add(num.astype(str), "@example.com"),
    )
    phone = np.char.add("+49-30-", rng.integers(1_000_000, 9_999_999, n).astype(str))
    # A share of contact cells holds no PII, so redaction both fires and
    # passes values through.
    contact = np.where(rng.random(n) < 0.8, email, "n/a")
    return {
        "name": np.char.add(np.char.add(first, " "), last),
        "email": contact,
        "phone": np.where(rng.random(n) < 0.7, phone, "unlisted"),
    }


def _timestamps(rng, n: int) -> np.ndarray:
    secs = rng.integers(1_500_000_000, 1_700_000_000, n)
    return pd.to_datetime(secs, unit="s").strftime("%Y-%m-%d %H:%M:%S").to_numpy()


def _repeat_rows(rng, frame: pd.DataFrame, n_dup: int) -> pd.DataFrame:
    """Append ``n_dup`` exact copies of random rows, then shuffle."""
    dups = frame.iloc[rng.integers(0, len(frame), n_dup)]
    out = pd.concat([frame, dups], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def _write_csv(frame: pd.DataFrame, path: str) -> None:
    frame.to_csv(path, index=False, na_rep="")


def cookbook_files(rng, work: str, n_customers: int, n_orders: int,
                   dup_share: float = 0.05, null_share: float = 0.08,
                   orphan_share: float = 0.04) -> dict[str, str]:
    """customers.csv, orders.jsonl and scores.csv for the file cookbook."""
    n_c = n_customers - int(n_customers * dup_share)
    cust_ids = _distinct_ids(rng, n_c)
    people = _people(rng, n_c)
    customers = pd.DataFrame({
        "cust_id": cust_ids,
        "name": people["name"],
        "email": people["email"],
        "phone": people["phone"],
        "city": _with_nulls(rng, rng.choice(CITIES, n_c), null_share),
        "segment": _with_nulls(rng, rng.choice(SEGMENTS, n_c), null_share),
        "signup": _with_nulls(rng, _timestamps(rng, n_c), null_share),
    })
    customers = _repeat_rows(rng, customers, n_customers - n_c)

    n_o = n_orders - int(n_orders * dup_share)
    refs = rng.choice(cust_ids, n_o)
    orphan = rng.random(n_o) < orphan_share
    # Orphans point past every generated customer id.
    refs[orphan] = 8 * n_customers + rng.integers(1, 1000, orphan.sum())
    contacts = _people(rng, n_o)
    note = np.where(
        rng.random(n_o) < 0.5,
        np.char.add("mail ", contacts["email"]),
        np.char.add("call ", contacts["phone"]),
    )
    cents = rng.integers(100, 5_000_000, n_o)
    orders = pd.DataFrame({
        "order_id": _distinct_ids(rng, n_o),
        "cust_id": refs,
        "amount": [f"{c // 100}.{c % 100:02d}" for c in cents],
        "status": _with_nulls(rng, rng.choice(STATUSES, n_o), null_share),
        "note": note,
    })
    orders = _repeat_rows(rng, orders, n_orders - n_o)

    scores = pd.DataFrame({
        "seq": _distinct_ids(rng, n_customers),
        "score": rng.integers(0, 1000, n_customers),
        "tier": _with_nulls(rng, rng.choice(TIERS, n_customers), null_share),
    })

    paths = {
        "customers": os.path.join(work, "customers.csv"),
        "orders": os.path.join(work, "orders.jsonl"),
        "scores": os.path.join(work, "scores.csv"),
    }
    _write_csv(customers, paths["customers"])
    # Amounts travel as JSON numbers with exactly two decimals.
    with open(paths["orders"], "w") as f:
        for rec in orders.to_dict("records"):
            amount = rec.pop("amount")
            body = json.dumps({k: v for k, v in rec.items() if v is not None})
            f.write(body[:-1] + f', "amount": {amount}}}\n')
    _write_csv(scores, paths["scores"])
    return paths


def cookbook_derby(rng, work: str, n_accounts: int, n_txns: int, n_delta: int,
                   dup_share: float = 0.05, null_share: float = 0.08) -> dict[str, str]:
    """accounts.csv (parent), txns.csv (child base) and txns_delta.csv:
    the delta holds changed copies of existing transactions and new ones,
    so its upsert runs against existing keys."""
    n_a = n_accounts - int(n_accounts * dup_share)
    acct_nos = _distinct_ids(rng, n_a, lo=10_000)
    people = _people(rng, n_a)
    accounts = pd.DataFrame({
        "acct_no": acct_nos,
        "owner": people["name"],
        "email": people["email"],
        "region": _with_nulls(rng, rng.choice(CITIES, n_a), null_share),
    })
    accounts = _repeat_rows(rng, accounts, n_accounts - n_a)

    def txns(ids: np.ndarray) -> pd.DataFrame:
        n = len(ids)
        contacts = _people(rng, n)
        cents = rng.integers(100, 2_000_000, n)
        return pd.DataFrame({
            "txn_id": ids,
            "acct_no": rng.choice(acct_nos, n),
            "amount": [f"{c // 100}.{c % 100:02d}" for c in cents],
            "memo": _with_nulls(
                rng, np.char.add("Ref ", contacts["email"]), null_share
            ),
        })

    n_t = n_txns - int(n_txns * dup_share)
    base_ids = _distinct_ids(rng, n_t, lo=1_000_000)
    base = _repeat_rows(rng, txns(base_ids), n_txns - n_t)
    n_changed = n_delta // 2
    changed = rng.choice(base_ids, n_changed, replace=False)
    fresh = np.arange(2_000_000, 2_000_000 + n_delta - n_changed, dtype=np.int64)
    delta = txns(np.concatenate([changed, fresh]))
    delta = delta.iloc[rng.permutation(len(delta))].reset_index(drop=True)

    paths = {
        "accounts": os.path.join(work, "accounts.csv"),
        "txns": os.path.join(work, "txns.csv"),
        "txns_delta": os.path.join(work, "txns_delta.csv"),
    }
    _write_csv(accounts, paths["accounts"])
    _write_csv(base, paths["txns"])
    _write_csv(delta, paths["txns_delta"])
    return paths
