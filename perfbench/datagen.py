"""Inputs the benchmark generates itself.

Two kinds:

* ``build_tables`` writes the eight TPC-H-ish tables plus ``documents``
  and ``embeddings`` that the registry queries read, in the same parquet
  layout and column types as the engine's testdata (one file per table,
  naive microsecond timestamps). The tables come from a fixed seed, so
  the pinned output digests in ``pins.json`` hold for every run; the run
  seed only reorders operations.
* ``IngestStream`` produces the raw transaction CSV batches that
  ``ingest_upsert`` lands, from the run seed.

Nothing here imports the engine, so a change to program code cannot
change the load.
"""

from __future__ import annotations

import csv
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
#: Bumped whenever the generator changes, so a cached table set from an
#: older generator is rebuilt instead of silently reused.
GENERATOR_VERSION = "1"

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "old", "small", "bright", "dark",
            "heavy", "light", "red", "green", "smooth")
PART_NOUN = ("anvil", "bolt", "gear", "plate", "ring")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EMBED_DIM = 64


def _ts(rng, n, start: str, days: int) -> np.ndarray:
    """Uniform whole days from ``start``, as naive microsecond timestamps."""
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs, n_vecs = (5_000, 2_000) if sf >= 0.01 else (500, 500)
    i32, i64 = pa.int32(), pa.int64()

    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": list(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
    }
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng, n_line, "1995-01-02", 2498),
    })
    start_us = np.datetime64("2024-01-01", "us").astype(np.int64)
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": (start_us + offs).astype("datetime64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vecs, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    """Bag-of-words documents; 5% are near-duplicates of an earlier
    document (first word dropped, ``dup`` appended), which the dedup
    queries must find."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split(" ")
            texts.append(" ".join(src[1:] + ["dup"]))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_tables(root: str, sf: float) -> str:
    """Return a directory holding the tables at ``sf``, generating it on
    first use. The directory is published by rename, so an interrupted
    build leaves no half-written table set behind."""
    out = os.path.join(root, f"sf{sf}-v{GENERATOR_VERSION}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    os.rename(tmp, out)
    return out


# ---------------------------------------------------------------- ingest batches
RAW_COLUMNS = ("transaction_id", "date", "timestamp", "amount", "category",
               "description", "transaction_type", "account", "location")
# Value sets and distributions of the engine's transaction generator
# (aws_etl_pipeline_spark/generator.py), copied rather than imported.
INCOME_CATEGORIES = ("salary", "freelance", "investment", "bonus")
EXPENSE_PAIRS = (
    ("food", "Groceries"), ("food", "Restaurant"),
    ("transport", "Gas"), ("transport", "Public Transit"),
    ("utilities", "Electricity"), ("utilities", "Internet"),
    ("entertainment", "Streaming"), ("entertainment", "Movies"),
    ("shopping", "Clothes"), ("shopping", "Electronics"),
    ("healthcare", "Pharmacy"), ("healthcare", "Doctor"),
)
ACCOUNTS = ("checking", "savings", "credit_card")
LOCATIONS = ("Online", "New York", "Los Angeles", "Chicago", "Houston")
INCOME_SHARE = 0.3
FIRST_DAY = "2024-03-01"
#: Keys per day in ``TXN_YYYYMMDD_NNNN``: the generator's largest daily
#: file (it draws 20-100 rows a day).
ROWS_PER_DAY = 100
# Not in the generator, which writes neither updates nor dirty rows;
# the reasons are in perfbench/README.md.
#: Share of each batch's keys reused from earlier batches (updates).
REPEAT_SHARE = 0.2
#: Share of each batch's rows that miss a required field, half of them
#: the key and half the amount.
DIRTY_SHARE = 0.05


class IngestStream:
    """Raw transaction CSV batches with the generator's columns, value
    sets and id format, landed one at a time.

    Each batch has ``rows`` rows with keys unique within the batch:
    REPEAT_SHARE of them reuse keys landed by earlier batches, the rest
    are new. DIRTY_SHARE of the rows have an empty key or an empty amount
    and must be dropped by the pipeline. The stream tracks what a correct
    pipeline leaves behind: the clean rows per batch and the distinct
    clean keys so far (``landed_keys``).
    """

    def __init__(self, seed: int, rows: int):
        self.rng = np.random.default_rng(seed)
        self.rows = rows
        self.next_key = 0
        self.landed_keys: list[int] = []

    def write_batch(self, path: str) -> int:
        """Write the next batch as CSV at ``path``; return its clean rows."""
        rng, n = self.rng, self.rows
        n_rep = min(int(n * REPEAT_SHARE), len(self.landed_keys))
        reused = (rng.choice(np.asarray(self.landed_keys), n_rep, replace=False)
                  if n_rep else np.empty(0, np.int64))
        fresh = np.arange(self.next_key, self.next_key + n - n_rep)
        self.next_key += n - n_rep
        keys = rng.permutation(np.concatenate([reused, fresh]))
        dirty = rng.random(n) < DIRTY_SHARE
        no_key = dirty & (rng.random(n) < 0.5)
        no_amount = dirty & ~no_key
        income = rng.random(n) < INCOME_SHARE
        r_amt = rng.random(n)
        amount = np.round(np.where(income, 500 + r_amt * 4500, -(10 + r_amt * 490)), 2)
        inc_i = rng.integers(0, len(INCOME_CATEGORIES), n)
        exp_i = rng.integers(0, len(EXPENSE_PAIRS), n)
        acct = rng.integers(0, len(ACCOUNTS), n)
        loc = rng.integers(0, len(LOCATIONS), n)
        secs = rng.integers(6 * 3600, 23 * 3600, n)  # 06:00:00-22:59:59
        days = (np.datetime64(FIRST_DAY) + keys // ROWS_PER_DAY).astype(str)
        seq = keys % ROWS_PER_DAY + 1
        with open(path, "w", newline="") as fh:
            w = csv.writer(fh)
            w.writerow(RAW_COLUMNS)
            for i in range(n):
                day = days[i]
                tid = "" if no_key[i] else f"TXN_{day.replace('-', '')}_{seq[i]:04d}"
                amt = "" if no_amount[i] else f"{amount[i]:.2f}"
                s = int(secs[i])
                ts = f"{day} {s // 3600:02d}:{s % 3600 // 60:02d}:{s % 60:02d}"
                if income[i]:
                    cat, desc, kind = INCOME_CATEGORIES[inc_i[i]], "Payment", "income"
                else:
                    (cat, desc), kind = EXPENSE_PAIRS[exp_i[i]], "expense"
                w.writerow((tid, day, ts, amt, cat, desc, kind,
                            ACCOUNTS[acct[i]], LOCATIONS[loc[i]]))
        clean = ~dirty
        self.landed_keys.extend(int(k) for k in fresh[np.isin(fresh, keys[clean])])
        return int(clean.sum())
