"""Deterministic inputs for the benchmark, made from a seed.

Batch tables mirror the engine's testdata layout (TESTDATA.md): ten
parquet tables with the same columns and Arrow types, the same value
domains and roughly the same distributions, at a row count set by a
scale factor. Nothing here starts Spark: tables are built with NumPy
and written with pyarrow, so input preparation never touches the code
under test.

Stream inputs are headerless CSV files in event-time order, one file
per micro-batch, each with a known answer (see ``StreamInputs``).
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "hot", "blue", "cold", "new", "old", "large"]
PART_NOUN = ["ring", "widget", "gear", "plate", "rod", "bolt", "anvil", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
DAY_US = 86_400 * 1_000_000
EPOCH_1995 = int(np.datetime64("1995-01-01", "us").astype(np.int64))
EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float, n_docs: int, n_emb: int) -> dict[str, pa.Table]:
    """The ten tables. Row counts follow TPC-H's
    per-scale-factor sizes (lineitem 6M x sf, orders 1.5M x sf, ...)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 10)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table(
        {
            "p_partkey": pk,
            "p_name": names[rng.integers(0, len(names), n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    last_order_day = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")).astype(int))
    odate = EPOCH_1995 + rng.integers(0, last_order_day + 1, n_ord) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    lo = rng.integers(0, n_ord, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": lo,
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(odate[lo] + rng.integers(1, 122, n_line) * DAY_US),
        }
    )
    ev_ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # 5% of documents are near-duplicates: another document's text
    # with " dup" appended, as in the testdata corpus
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(n_docs)]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), dups)
    for d in dups:
        texts[d] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
        }
    )
    centroids = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, n_emb)
    vec = centroids[label] + rng.normal(0.0, 0.8, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": label.astype(np.int32),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_emb: int) -> dict:
    """Write the tables to ``out_dir`` (replaced if present), one
    parquet file each. Returns {table: {"rows": n, "bytes": b}}."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    info = {}
    for name, tbl in base_tables(seed, sf, n_docs, n_emb).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        info[name] = {"rows": tbl.num_rows, "bytes": os.path.getsize(path)}
    return info


def ensure_tables(out_dir: str, spec: dict) -> dict:
    """Build the tables for ``spec`` once per checkout; later runs reuse
    them. A spec change rebuilds."""
    stamp = os.path.join(out_dir, "_spec.json")
    want = json.dumps(spec, sort_keys=True)
    if os.path.exists(stamp):
        with open(stamp) as f:
            got = json.load(f)
        if json.dumps(got["spec"], sort_keys=True) == want:
            return got["tables"]
    tables = write_tables(out_dir, **spec)
    with open(stamp, "w") as f:
        json.dump({"spec": spec, "tables": tables}, f)
    return tables


def duckdb_paths(sf_dir: str, names) -> dict[str, str]:
    """DuckDB scan expression per table."""
    return {n: f"'{os.path.join(sf_dir, f'{n}.parquet')}'" for n in names}


# ---------------------------------------------------------------- streams

BASE_TS = 1_700_006_400  # event time of the first stream row (a UTC midnight)


@dataclass
class StreamInputs:
    """CSV replay directories for the stateful detectors, each with
    the answer the generator planted:

    - ``orders``: the order timeout and {order_id: result_type};
    - ``tx``: {tx_id: result_type}.
    """

    dirs: dict[str, str | tuple[str, str]]
    expected: dict[str, object]
    events: dict[str, int] = field(default_factory=dict)
    bytes: int = 0


def _write_files(path: str, rows_by_file: list[list[str]]) -> int:
    os.makedirs(path)
    total = 0
    for i, rows in enumerate(r for r in rows_by_file if r):
        fn = os.path.join(path, f"part-{i:05d}.csv")
        with open(fn, "w") as f:
            f.write("\n".join(rows) + "\n")
        # the file source replays in modification-time order; files
        # written within one clock tick would replay in any order
        os.utime(fn, (BASE_TS + i, BASE_TS + i))
        total += os.path.getsize(fn)
    return total


def _split(rows: list[tuple[int, str]], n_files: int, t0: int, t1: int) -> list[list[str]]:
    """Cut time-sorted (ts, line) rows into ``n_files`` equal event-time
    ranges, so each micro-batch advances the watermark."""
    width = (t1 - t0) / n_files
    out: list[list[str]] = [[] for _ in range(n_files)]
    for ts, line in sorted(rows, key=lambda r: r[0]):
        out[min(int((ts - t0) / width), n_files - 1)].append(line)
    return out


def stream_inputs(out_dir: str, seed: int, n_files: int, scale: int) -> StreamInputs:
    """Seeded backlogs of 50 x ``scale`` orders and as many
    transactions, one state key each. Timings are chosen away from
    every boundary (pays 1-30 s after a 60 s-timeout create, receipts
    1-2 s after a pay against 5 s and 3 s waits, 1 s watermark delay),
    so the answer does not depend on how rows fall into micro-batches."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    span = 20 * scale  # seconds of event time per stream
    t0, t1 = BASE_TS, BASE_TS + span
    dirs: dict[str, object] = {}
    expected: dict[str, object] = {}
    events: dict[str, int] = {}
    size = 0

    # orders: create, then pay 1..30 s later (paid) or never (timeout).
    # A trailing sentinel order pushes the watermark past every timer.
    timeout = 60
    rows, outcome = [], {}
    n_orders = 50 * scale
    for o in range(n_orders):
        ts = t0 + int(rng.integers(0, span - 2 * timeout))
        rows.append((ts, f"{o},create,,{ts}"))
        if rng.random() < 0.7:
            pay = ts + int(rng.integers(1, 31))
            rows.append((pay, f"{o},pay,tx{o},{pay}"))
            outcome[o] = "payed"
        else:
            outcome[o] = "order timeout"
    sentinel = n_orders
    rows.append((t1 - 1, f"{sentinel},create,,{t1 - 1}"))
    rows.append((t1, f"{sentinel},pay,txs,{t1}"))
    p = os.path.join(out_dir, "orders")
    size += _write_files(p, _split(rows, n_files, t0, t1 + 1))
    dirs["orders"], expected["orders"], events["orders"] = p, {"timeout": timeout, "outcome": outcome}, len(rows)

    # transactions: pay then receipt 1-2 s later (matched), pay alone
    # (unmatched_pay) or receipt alone (unmatched_receipt); both
    # streams carry a trailing sentinel so the shared watermark passes
    # every wait timer
    pays, recs, outcome = [], [], {}
    n_tx = 50 * scale
    for i in range(n_tx):
        ts = t0 + int(rng.integers(0, span - 30))
        r = rng.random()
        if r < 0.6:
            d = ts + int(rng.integers(1, 3))
            pays.append((ts, f"{i},pay,tx{i},{ts}"))
            recs.append((d, f"tx{i},wechat,{d}"))
            outcome[f"tx{i}"] = "matched"
        elif r < 0.8:
            pays.append((ts, f"{i},pay,tx{i},{ts}"))
            outcome[f"tx{i}"] = "unmatched_pay"
        else:
            recs.append((ts, f"tx{i},alipay,{ts}"))
            outcome[f"tx{i}"] = "unmatched_receipt"
    pays.append((t1, f"{n_tx},pay,txsentinel,{t1}"))
    recs.append((t1, f"txsentinel,wechat,{t1}"))
    po, pr = os.path.join(out_dir, "tx_pay"), os.path.join(out_dir, "tx_receipt")
    size += _write_files(po, _split(pays, n_files, t0, t1 + 1))
    size += _write_files(pr, _split(recs, n_files, t0, t1 + 1))
    dirs["tx"], expected["tx"] = (po, pr), outcome
    events["tx"] = len(pays) + len(recs)
    return StreamInputs(dirs, expected, events, size)
