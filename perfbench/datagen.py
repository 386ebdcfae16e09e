"""Deterministic inputs for the benchmark.

``write_tables`` writes the registry's ten parquet tables (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``) with the
column types and row counts of the sf0.1 test tables (README.md, "Generated
tables").  The tables do not depend on the workload seed, so the expected
per-query results in ``expected.json`` hold for every run; the seed drives
only the EP1 batches.

``write_ep1_batches`` writes two seeded raw EP1 batches (JSONL events and a
users CSV each) carrying the dirty-data cases of FIXTURES.md sections 1-2,
and returns the counts the quality report and the warehouse must show.
"""

from __future__ import annotations

import csv
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _days(base: str, days: np.ndarray) -> pa.Array:
    return _ts_us(base, days.astype(np.int64) * 86_400_000_000)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and rng.random() < 0.002:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs, pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    x = rng.normal(0, 1, (n, dim)) + 0.6 * centers[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def tables(scale: float = 0.1) -> dict[str, pa.Table]:
    """The registry's input tables at ``scale`` (1.0 ~ TPC-H sf1 row counts)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_users = int(1_000_000 * scale), int(15_000 * scale)
    segments = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    adjectives = "large hot blue small red green dark light".split()
    nouns = "ring bolt nut gear pipe valve screw plate".split()
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5), pa.int32()),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(segments, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{adjectives[a]} {nouns[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n_part
                ),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts_us("2024-01-01", ev_ts),
                "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
                "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], n_ev),
                "value": np.round(rng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, int(50_000 * scale)),
        "embeddings": _embeddings(rng, int(20_000 * scale)),
    }


def write_tables(out_dir: str, scale: float = 0.1) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# -- EP1 raw batches ---------------------------------------------------------

_EVENT_VARIANTS = {  # raw spelling -> canonical event (cleaning.canonicalize_event)
    "pageview": "pageview",
    "page_view": "pageview",
    "Page View": "pageview",
    "PAGE VIEW": "pageview",
    "page-view": "pageview",
    "view": "pageview",
    "signup": "signup",
    " Signup ": "signup",
    "purchase": "purchase",
    "PURCHASE": "purchase",
}
_RAW_EVENTS = tuple(_EVENT_VARIANTS)
_INVALID_EVENTS = ("click", "logout", "refund_requested")
_NULL_USERS = (None, "", "nan", "None", "<NA>")


def _iso(epoch_s: int) -> str:
    return np.datetime_as_string(np.datetime64(int(epoch_s), "s"), unit="s") + "Z"


def _ep1_batch(rng, n_lines: int, n_users: int, reuse: dict, first_id: int):
    """One raw batch: returns (jsonl lines, truth counts, {event_id: ts} of
    valid rows).  ``reuse`` maps earlier valid event ids to their ts; about
    30% of this batch's good rows re-send one of them with a later ts."""
    t0 = int(np.datetime64("2026-01-05T00:00:00", "s").astype(np.int64))
    lines: list[str] = []
    truth = dict(raw_lines=0, ingest_bad=0, invalid_event_type=0, valid_rows=0)
    latest: dict[str, int] = {}  # valid event_id -> winning ts
    null_user: dict[str, bool] = {}
    reuse_ids = list(reuse)
    next_id, last_id = first_id, None
    for _ in range(n_lines):
        kind = rng.random()
        if kind < 0.005:  # blank line: numbered, then dropped before counting
            lines.append("")
            continue
        truth["raw_lines"] += 1
        if kind < 0.015:
            lines.append('{"event_id": "broken", "ts": ')
            truth["ingest_bad"] += 1
            continue
        if reuse_ids and rng.random() < 0.3:
            eid = reuse_ids[int(rng.integers(0, len(reuse_ids)))]
            ts = reuse[eid] + int(rng.integers(1, 86_400))
        elif last_id is not None and rng.random() < 0.03:  # in-batch duplicate
            eid = last_id
            ts = latest[eid] + int(rng.integers(1, 3600))
        else:
            eid = f"e{next_id}"
            next_id += 1
            ts = t0 + int(rng.integers(0, 3 * 86_400))
        rec = {"event_id": eid, "ts": _iso(ts)}
        if kind < 0.025:
            del rec["event_id"]  # missing required field
            truth["ingest_bad"] += 1
        elif kind < 0.03:
            rec["ts"] = "BAD_TIME"
            truth["ingest_bad"] += 1
        uid = (
            _NULL_USERS[int(rng.integers(0, len(_NULL_USERS)))]
            if rng.random() < 0.05
            else str(int(rng.integers(1, n_users + 1)))
        )
        if uid is not None:
            rec["user_id"] = uid
        if rng.random() < 0.10:
            rec["event"] = _INVALID_EVENTS[int(rng.integers(0, 3))]
            valid = False
        else:
            raw = _RAW_EVENTS[int(rng.integers(0, len(_RAW_EVENTS)))]
            rec["event"] = raw
            valid = True
            if _EVENT_VARIANTS[raw] == "purchase":
                rec["amount"] = f"{rng.uniform(1, 500):.2f}" if rng.random() < 0.9 else "n/a"
        rec["page"] = f"/p/{int(rng.integers(0, 50))}"
        lines.append(json.dumps(rec))
        if "event_id" not in rec or rec["ts"] == "BAD_TIME":
            continue
        if not valid:
            truth["invalid_event_type"] += 1
            continue
        truth["valid_rows"] += 1
        last_id = eid
        if eid not in latest or ts >= latest[eid]:
            latest[eid] = ts
            null_user[eid] = uid is None or uid.strip().lower() in ("", "nan", "none", "<na>")
    truth["ingest_good"] = truth["raw_lines"] - truth["ingest_bad"]
    truth["loaded_rows"] = len(latest)
    truth["dedup_removed"] = truth["valid_rows"] - len(latest)
    truth["null_user_id"] = sum(null_user[e] for e in latest)
    del truth["valid_rows"]
    return lines, truth, latest


def write_ep1_batches(out_dir: str, seed: int, n_lines: int, n_users: int) -> list[dict]:
    """Two raw batches under ``out_dir/batch{1,2}``.  Returns, per batch,
    the paths, the expected quality-report counts and the expected
    ``fact_events`` row count after that batch is loaded."""
    rng = np.random.default_rng(seed)
    batches, seen, next_id = [], {}, 0
    for b in (1, 2):
        d = os.path.join(out_dir, f"batch{b}")
        os.makedirs(d, exist_ok=True)
        lines, truth, latest = _ep1_batch(rng, n_lines, n_users, dict(seen), next_id)
        next_id += n_lines
        seen.update(latest)
        events_path = os.path.join(d, "events.jsonl")
        with open(events_path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        users_path = os.path.join(d, "users.csv")
        with open(users_path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(["user_id", "country", "signup_source"])
            for u in range(1, n_users + 1):
                country = ("US", "DE", "IN", "BR", "")[int(rng.integers(0, 5))]
                w.writerow([u, country, ("organic", "ads", "referral")[u % 3]])
        batches.append(
            dict(events=events_path, users=users_path, truth=truth, fact_rows=len(seen))
        )
    return batches
