"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: the same seed gives
byte-identical inputs, and row counts depend only on the size, so runs with
different seeds do the same amount of work on different values.

* :func:`star_schema` writes the ten corpus tables the query registry reads
  (same names, columns and physical types as the engine's test corpus).
* :func:`zipf_corpus` writes a directory of Zipf-distributed text files and
  returns the exact word counts the word-count job must reproduce.
* :func:`lakehouse_tables` writes the lakehouse workload's starting tables
  and :func:`lakehouse_deltas` yields one seeded corrections delta per cycle.

Run as a script, it writes one workload's inputs, with what they are checked
against, into a directory; the benchmark runs it in a child process so that
its own peak memory holds none of the generation::

    python3 perfbench/gen.py <workload> <seed> <scale> <out> [headliner ...]
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "hot", "large", "red", "small", "bolt", "ring", "nut"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
#: closed document vocabulary; 'product' is deliberately absent (the grep
#: headliner's default pattern matches nothing, as in the engine's corpus)
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
EVENTS_START_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
US_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng: np.random.Generator, n: int, lo_day: int, hi_day: int) -> pa.Array:
    return _ts(US_1995 + rng.integers(lo_day, hi_day, n) * DAY_US)


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def events_frame(rng: np.random.Generator, n: int, n_users: int, days: int = 30) -> pd.DataFrame:
    """``events`` rows in event-time order over ``days`` days from 2024-01-01."""
    ts = np.sort(EVENTS_START_US + rng.integers(0, days * DAY_US, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pd.to_datetime(ts, unit="us"),
        "user_id": rng.integers(0, n_users, n).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator, n: int) -> dict:
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
        for _ in range(n)
    ]
    # near-duplicates (an earlier doc plus a marker token) feed the LSH
    # headliner; exact duplicates up to case and padding feed exact dedup
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n // 2))] + " dup"
    for i in rng.choice(np.arange(n // 2, n), max(2, n // 600), replace=False):
        texts[i] = "  " + texts[int(rng.integers(0, n // 2))].upper() + " "
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict:
    centers = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    x = centers[label] * 0.5 + rng.normal(size=(n, EMBED_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(x.astype("float32").ravel()), EMBED_DIM
    ).cast(pa.list_(pa.float32()))
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": emb,
        "label": label.astype("int32"),
    }


def star_schema(out: str, seed: int, sf: float) -> None:
    """Write the ten corpus tables at scale factor ``sf`` into ``out``.

    Row counts follow the engine's corpus: 150k customers, 1.5 M orders,
    6 M line items and 1 M events per unit of ``sf``; 1500 users per
    150k customers; 500 documents and embeddings at small scale."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99),
    })
    pw = np.array(PART_WORDS)
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{a} {b}" for a, b in zip(
            pw[rng.integers(0, 5, n_part)], pw[rng.integers(5, 8, n_part)])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = np.sort(rng.integers(0, n_ord, n_li))
    starts = np.r_[0, np.flatnonzero(np.diff(l_order)) + 1]
    run_len = np.diff(np.r_[starts, n_li])
    linenumber = np.arange(n_li) - np.repeat(starts, run_len) + 1
    perm = rng.permutation(n_li)
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": l_order[perm].astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": linenumber[perm].astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": _cents(rng, n_li, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, 1, 2499),
    })
    ev = events_frame(rng, n_ev, max(150, n_cust // 10))
    pq.write_table(
        pa.Table.from_pandas(ev, preserve_index=False).cast(pa.schema([
            ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()), ("event_type", pa.string()),
            ("value", pa.float64()), ("props", pa.string()),
        ])),
        os.path.join(out, "events.parquet"),
    )
    _write(out, "documents", _documents(rng, n_doc))
    _write(out, "embeddings", _embeddings(rng, n_emb))


def zipf_corpus(out: str, seed: int, n_files: int, mb: float,
                vocab: int = 50_000, s: float = 1.1) -> dict[str, int]:
    """Write ``n_files`` text files totalling about ``mb`` MB of words drawn
    from a Zipf(``s``) law over a seeded ``vocab``-word vocabulary; return
    the word counts a correct word-count job must produce.

    Sampling inverts the precomputed cumulative weights with one
    ``searchsorted`` per file instead of a weighted draw per token."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < vocab:
        w = "".join(letters[rng.integers(0, 26, int(rng.integers(2, 11)))])
        if w not in seen:
            seen.add(w)
            words.append(w)
    vocab_arr = np.array(words)
    cum = np.cumsum(1.0 / np.arange(1, vocab + 1) ** s)
    cum /= cum[-1]
    avg_bytes = float(np.dot(np.diff(np.r_[0.0, cum]),
                             np.char.str_len(vocab_arr) + 1))
    per_file = int(mb * 1e6 / avg_bytes / n_files)
    counts = np.zeros(vocab, dtype="int64")
    for f in range(n_files):
        ids = np.minimum(np.searchsorted(cum, rng.random(per_file)), vocab - 1)
        counts += np.bincount(ids, minlength=vocab)
        toks = vocab_arr[ids]
        line_len = 12
        with open(os.path.join(out, f"part{f:03d}.txt"), "w") as fh:
            for i in range(0, per_file, line_len):
                fh.write(" ".join(toks[i:i + line_len]))
                fh.write("\n")
    return {w: int(c) for w, c in zip(words, counts) if c}


LAKE_DAYS = 30
LAKE_USERS = 1500


def lakehouse_tables(out: str, seed: int, rows: int) -> None:
    """Write the lakehouse starting state: ``rows`` events over
    :data:`LAKE_DAYS` days as a day-partitioned table, the same rows as a
    flat four-file table (the deletion-vector target), and the pandas
    model both are checked against."""
    rng = np.random.default_rng(seed)
    ev = events_frame(rng, rows, LAKE_USERS, LAKE_DAYS)
    ev["day"] = ((ev["ts"] - pd.Timestamp("2024-01-01")) // pd.Timedelta(days=1)
                 ).astype("int32")
    ev.to_parquet(os.path.join(out, "model.parquet"), index=False)
    table = pa.Table.from_pandas(ev, preserve_index=False)
    table = table.set_column(1, "ts", table["ts"].cast(pa.timestamp("us", tz="UTC")))
    pq.write_to_dataset(table, os.path.join(out, "events_by_day"),
                        partition_cols=["day"])
    flat = os.path.join(out, "events_flat")
    os.makedirs(flat)
    chunk = -(-rows // 4)
    for i in range(4):
        pq.write_table(table.drop(["day"]).slice(i * chunk, chunk),
                       os.path.join(flat, f"part-{i:05d}.parquet"))


def lakehouse_deltas(seed: int, base: pd.DataFrame, days: int, n_users: int):
    """Yield ``(day, delta)`` forever: per cycle, about 2% of one seeded
    day's rows with corrected values, plus late inserts with fresh ids."""
    rng = np.random.default_rng(seed + 1)
    next_id = int(base["event_id"].max()) + 1
    day_of = base["day"].to_numpy()
    while True:
        day = int(rng.integers(0, days))
        rows = np.flatnonzero(day_of == day)
        pick = rng.choice(rows, max(1, len(rows) // 50), replace=False)
        upd = base.iloc[pick].copy()
        upd["value"] = np.round(rng.exponential(50.0, len(upd)), 2)
        upd["props"] = '{"k": -1}'
        n_new = max(1, len(upd) // 4)
        new = events_frame(rng, n_new, n_users, days=1)
        new["event_id"] = np.arange(next_id, next_id + n_new, dtype="int64")
        new["ts"] = new["ts"] + pd.Timedelta(days=day)
        new["day"] = day
        next_id += n_new
        yield day, pd.concat([upd, new], ignore_index=True)


def main(argv: list[str]) -> None:
    workload, seed, scale, out, names = (
        argv[0], int(argv[1]), float(argv[2]), argv[3], argv[4:])
    if workload == "headline":
        import workloads

        star_schema(out, seed, scale)
        expected = workloads.oracle_fingerprints(out, names)
        with open(os.path.join(out, "oracle.json"), "w") as fh:
            json.dump(expected, fh)
    elif workload == "pipe_exec":
        counts = zipf_corpus(os.path.join(out, "corpus"), seed, n_files=16, mb=scale)
        with open(os.path.join(out, "counts.json"), "w") as fh:
            json.dump(counts, fh)
    else:
        lakehouse_tables(out, seed, int(scale))


if __name__ == "__main__":
    main(sys.argv[1:])
