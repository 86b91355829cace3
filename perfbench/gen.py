"""Seeded input generator for the incremental-ETL benchmark.

Every input the engine sees is written here, from a numpy PCG64 stream
keyed on (seed, workload), so the same seed always gives byte-identical
inputs. Each workload also gets a ledger (``ledger.json``) that records what
was generated: which file holds which key range and which rows are late.
The checker derives the expected outputs from the files and the ledger
alone.

Star-schema tables follow the engine's catalog shape (FIXTURES.md): the
fact is ``lineitem`` keyed by the ascending bookmark key ``l_orderkey``,
and the dimensions are ``supplier`` and ``part``. Fact keys are gapped and
ascending across batches. A few rows carry orphan foreign keys, which the
star join's inner joins drop. A few rows per appended batch are *late*: they
carry a key at or below the previous batch's maximum, so Glue bookmark
semantics drop them.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

WORKLOAD_IDS = {"trickle": 1, "backfill": 2, "rds_redshift": 3, "near_dup": 4}

N_SUPP = 100
N_PART = 2000
N_BRANDS = 25
DAYS = 365
DAY0 = 9131  # 1995-01-01 as days since the epoch
ORPHAN_SHARE = 0.002
LATE_PER_BATCH = 4

# Sizes at scale 1; `--scale` multiplies the row counts (the smoke test
# runs at a small scale). Chosen for a 4-core box: see README.md.
SIZES = {
    "trickle": {"history_rows": 200_000, "history_files": 50, "batch_rows": 1_000},
    "backfill": {"history_rows": 240_000, "history_files": 24},
    "rds_redshift": {"history_rows": 20_000, "batch_rows": 1_000},
    "near_dup": {"singletons": 40, "chains": 12, "chain_len": 5, "words": 60},
}


def rng_for(seed, workload):
    return np.random.default_rng([int(seed), WORKLOAD_IDS[workload]])


def scaled(n, scale, floor=1):
    return max(floor, int(round(n * scale)))


def dims():
    """Dimension tables; fixed (not seeded) so every run joins the same keys."""
    s = np.arange(1, N_SUPP + 1, dtype=np.int64)
    supplier = pa.table({
        "s_suppkey": s,
        "s_name": [f"Supplier#{k:09d}" for k in s],
        "s_nationkey": (s % 25).astype(np.int32),
    })
    p = np.arange(1, N_PART + 1, dtype=np.int64)
    types = ["STANDARD BRUSHED", "SMALL PLATED", "LARGE POLISHED",
             "ECONOMY ANODIZED", "PROMO BURNISHED", "MEDIUM PLATED"]
    part = pa.table({
        "p_partkey": p,
        "p_brand": [f"Brand#{(k % N_BRANDS) // 5 + 1}{k % 5 + 1}" for k in p],
        "p_type": [types[k % len(types)] for k in p],
        "p_size": (p % 50 + 1).astype(np.int32),
    })
    return supplier, part


def fact_rows(rng, last_key, n):
    """`n` fact rows whose orders continue ascending after `last_key`.

    Orders hold 1-4 lines and consecutive order keys differ by 1-3, so keys
    are gapped and not unique per row. Returns (columns, new last key).
    """
    lines = rng.integers(1, 5, size=n)
    n_orders = int(np.searchsorted(np.cumsum(lines), n)) + 1
    lines = lines[:n_orders]
    lines[-1] -= int(lines.sum()) - n
    order_keys = last_key + np.cumsum(rng.integers(1, 4, size=n_orders))
    keys = np.repeat(order_keys, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(1, N_PART + 1, size=n)
    suppkey = rng.integers(1, N_SUPP + 1, size=n)
    orphans = rng.random(n) < ORPHAN_SHARE
    half = rng.random(n) < 0.5
    partkey = np.where(orphans & half, N_PART + rng.integers(1, 1000, size=n), partkey)
    suppkey = np.where(orphans & ~half, N_SUPP + rng.integers(1, 1000, size=n), suppkey)
    cols = {
        "l_orderkey": keys.astype(np.int64),
        "l_linenumber": linenumber,
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": suppkey.astype(np.int64),
        # quarter-valued prices: every partial and total sum is exact in
        # binary floating point, so sums compare bit-exactly in any order
        "l_extendedprice": rng.integers(400, 400_000, size=n) / 4.0,
        "l_shipdate": DAY0 + rng.integers(0, DAYS, size=n),
    }
    return cols, int(order_keys[-1])


def late_rows(rng, low_key, high_key, n):
    """`n` rows whose keys fall in (low_key, high_key]: below the bookmark."""
    cols, _ = fact_rows(rng, 0, n)
    cols["l_orderkey"] = rng.integers(low_key + 1, high_key + 1, size=n).astype(np.int64)
    cols["l_linenumber"] = np.full(n, 9, dtype=np.int32)
    return cols


def concat(a, b):
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def to_table(cols):
    return pa.table({
        "l_orderkey": pa.array(cols["l_orderkey"], pa.int64()),
        "l_linenumber": pa.array(cols["l_linenumber"], pa.int32()),
        "l_partkey": pa.array(cols["l_partkey"], pa.int64()),
        "l_suppkey": pa.array(cols["l_suppkey"], pa.int64()),
        "l_extendedprice": pa.array(cols["l_extendedprice"], pa.float64()),
        "l_shipdate": pa.array(cols["l_shipdate"].astype(np.int32), pa.date32()),
    })


def write_dims_parquet(root):
    supplier, part = dims()
    for name, t in (("supplier", supplier), ("part", part)):
        os.makedirs(f"{root}/{name}.parquet", exist_ok=True)
        pq.write_table(t, f"{root}/{name}.parquet/part-0.parquet")


def history(rng, root, rows, files):
    """Initial fact history as `files` parquet files under lineitem.parquet."""
    os.makedirs(f"{root}/lineitem.parquet", exist_ok=True)
    last, entries = 0, []
    per = rows // files
    for f in range(files):
        cols, new_last = fact_rows(rng, last, per)
        path = f"{root}/lineitem.parquet/history-{f:04d}.parquet"
        pq.write_table(to_table(cols), path)
        entries.append({"file": path, "rows": per, "late_rows": 0,
                        "min_key": last + 1, "max_key": new_last})
        last = new_last
    return entries, last


def batches(rng, out_dir, last, n_batches, rows, writer):
    """Append batches: `rows` new ascending rows plus LATE_PER_BATCH late rows."""
    os.makedirs(out_dir, exist_ok=True)
    entries = []
    for b in range(n_batches):
        cols, new_last = fact_rows(rng, last, rows)
        late = late_rows(rng, max(0, last - 10_000), last, LATE_PER_BATCH)
        path = writer(out_dir, b, concat(cols, late))
        entries.append({"file": path, "rows": rows + LATE_PER_BATCH,
                        "late_rows": LATE_PER_BATCH,
                        "min_key": last + 1, "max_key": new_last})
        last = new_last
    return entries


def parquet_writer(out_dir, b, cols):
    path = f"{out_dir}/batch-{b:05d}.parquet"
    pq.write_table(to_table(cols), path)
    return path


def csv_writer(out_dir, b, cols):
    path = f"{out_dir}/batch-{b:05d}.csv"
    write_csv(to_table(cols), path)
    return path


def write_csv(table, path):
    pacsv.write_csv(table, path, pacsv.WriteOptions(include_header=False))


def gen_trickle(root, seed, scale, n_batches):
    rng = rng_for(seed, "trickle")
    sz = SIZES["trickle"]
    write_dims_parquet(f"{root}/table")
    hist, last = history(rng, f"{root}/table", scaled(sz["history_rows"], scale, 2_000),
                         scaled(sz["history_files"], scale, 2))
    appends = batches(rng, f"{root}/incoming", last, n_batches,
                      scaled(sz["batch_rows"], scale, 50), parquet_writer)
    return {"history": hist, "batches": appends}


def gen_backfill(root, seed, scale, n_runs):
    rng = rng_for(seed, "backfill")
    sz = SIZES["backfill"]
    write_dims_parquet(f"{root}/table")
    hist, last = history(rng, f"{root}/table", scaled(sz["history_rows"], scale, 2_000),
                         scaled(sz["history_files"], scale, 2))
    # each catch-up run restarts from a seeded midpoint of the key range
    mids = rng.integers(int(last * 0.45), int(last * 0.55), size=n_runs)
    return {"history": hist, "midpoints": [int(m) for m in mids]}


def gen_rds(root, seed, scale, n_batches):
    rng = rng_for(seed, "rds_redshift")
    sz = SIZES["rds_redshift"]
    os.makedirs(f"{root}/source", exist_ok=True)
    supplier, part = dims()
    write_csv(supplier, f"{root}/source/supplier.csv")
    write_csv(part, f"{root}/source/part.csv")
    rows = scaled(sz["history_rows"], scale, 500)
    cols, last = fact_rows(rng, 0, rows)
    write_csv(to_table(cols), f"{root}/source/history.csv")
    hist = [{"file": f"{root}/source/history.csv", "rows": rows, "late_rows": 0,
             "min_key": 1, "max_key": last}]
    appends = batches(rng, f"{root}/incoming", last, n_batches,
                      scaled(sz["batch_rows"], scale, 50), csv_writer)
    return {"history": hist, "batches": appends}


ALPHABET = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary(rng, n=3000):
    lengths = rng.integers(3, 9, size=n)
    return ["".join(rng.choice(ALPHABET, size=k)) for k in lengths]


def gen_near_dup(root, seed, scale, n_batches):
    """Document batches with injected near-duplicate chains.

    A chain starts from a random document; each next member rewrites a few
    random words of its predecessor. Neighbours stay far above the 0.5
    Jaccard threshold and members a few hops apart fall below it, so the
    pair graph is a long path-like component whose diameter makes the
    connected-components fixpoint run several rounds.
    """
    rng = rng_for(seed, "near_dup")
    sz = SIZES["near_dup"]
    vocab = vocabulary(rng)
    n_single = scaled(sz["singletons"], scale, 4)
    n_chains = scaled(sz["chains"], scale, 2)
    chain_len, words = sz["chain_len"], sz["words"]
    entries, next_id = [], 1
    for b in range(n_batches):
        texts = []
        for _ in range(n_single):
            texts.append(list(rng.integers(0, len(vocab), size=words)))
        for _ in range(n_chains):
            doc = list(rng.integers(0, len(vocab), size=words))
            for _ in range(chain_len):
                texts.append(list(doc))
                for pos in rng.choice(words, size=3, replace=False):
                    doc[pos] = int(rng.integers(0, len(vocab)))
        order = rng.permutation(len(texts))
        ids = np.arange(next_id, next_id + len(texts), dtype=np.int64)
        text = [" ".join(vocab[w] for w in texts[i]) for i in order]
        table = pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "text": text,
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
        })
        d = f"{root}/batch-{b:05d}/documents.parquet"
        os.makedirs(d, exist_ok=True)
        pq.write_table(table, f"{d}/part-0.parquet")
        entries.append({"dir": f"{root}/batch-{b:05d}", "docs": len(text),
                        "min_id": int(ids[0]), "max_id": int(ids[-1])})
        next_id += len(texts)
    return {"batches": entries}


GENERATORS = {
    "trickle": gen_trickle,
    "backfill": gen_backfill,
    "rds_redshift": gen_rds,
    "near_dup": gen_near_dup,
}


def generate(workload, root, seed, scale, n):
    """Write `workload`'s inputs under `root` and return its ledger."""
    ledger = GENERATORS[workload](root, seed, scale, n)
    ledger.update({"workload": workload, "seed": int(seed), "scale": scale})
    with open(f"{root}/ledger.json", "w") as f:
        json.dump(ledger, f)
    return ledger
