"""Seeded input generators for the pipeline benchmark.

Every generator is a pure function of the seed: the same seed writes
byte-identical files, and the input volume does not depend on the seed.
The program under test only ever sees the files written here.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# TPC-H-shaped tables (column names and types as in the repo's sf0.1 test
# data; row counts are the benchmark's own).
N_CUSTOMERS = 1_500
N_ORDERS = 6_000
LINES_PER_ORDER = (1, 7)          # uniform, inclusive: ~24k lineitem rows
N_NATIONS = 25

# Corpus shaped like the sf0.1 `documents` table: a 30-word vocabulary,
# 10..100 words per document.
N_DOCS = 1_200
NEAR_DUP_SHARE = 0.05             # planted near-duplicates (few words edited)
EXACT_DUP_SHARE = 0.02            # planted exact copies
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20

# Stream events: one csv file of (user_id, ts) per schedule tick.
EVENTS_PER_FILE = 200
N_USERS = 400
FILE_SPAN_S = 120                 # event-time span covered by one file
OUT_OF_ORDER_SHARE = 0.10         # events displaced within their file
STREAM_EPOCH_S = 1_704_067_200    # 2024-01-01 00:00:00 UTC
SESSION_GAP_S = 1800              # the pipeline's processor.gapSeconds


def _rng(seed, *stream):
    return np.random.default_rng([int(seed), *stream])


def _write_parquet(table, path):
    # single file, fixed writer settings: same table => same bytes
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, row_group_size=1 << 20)


def tpch(out_dir, seed):
    """nation, customer, orders, lineitem as parquet files in out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 1)
    names = [f"NATION_{i:02d}" for i in range(N_NATIONS)]
    _write_parquet(pa.table({
        "n_nationkey": pa.array(np.arange(N_NATIONS, dtype=np.int32)),
        "n_name": pa.array(names),
        "n_regionkey": pa.array((np.arange(N_NATIONS) % 5).astype(np.int32)),
    }), os.path.join(out_dir, "nation.parquet"))

    ckey = np.arange(1, N_CUSTOMERS + 1, dtype=np.int64)
    _write_parquet(pa.table({
        "c_custkey": pa.array(ckey),
        "c_name": pa.array([f"Customer#{k:09d}" for k in ckey]),
        "c_nationkey": pa.array(r.integers(0, N_NATIONS, N_CUSTOMERS).astype(np.int32)),
        "c_acctbal": pa.array(r.integers(-99_999, 999_999, N_CUSTOMERS) / 100.0),
        "c_mktsegment": pa.array(r.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], N_CUSTOMERS)),
    }), os.path.join(out_dir, "customer.parquet"))

    okey = np.arange(1, N_ORDERS + 1, dtype=np.int64) * 4
    # order dates 1995-01-01 .. 2001-12-31 (the test data's year range)
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + r.integers(0, 2556, N_ORDERS).astype("timedelta64[D]")
    _write_parquet(pa.table({
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(r.integers(1, N_CUSTOMERS + 1, N_ORDERS).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(["F", "O", "P"], N_ORDERS)),
        "o_totalprice": pa.array(r.integers(1_000, 50_000_000, N_ORDERS) / 100.0),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(r.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], N_ORDERS)),
    }), os.path.join(out_dir, "orders.parquet"))

    lines = r.integers(LINES_PER_ORDER[0], LINES_PER_ORDER[1] + 1, N_ORDERS)
    n = int(lines.sum())
    l_okey = np.repeat(okey, lines)
    l_line = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    qty = r.integers(1, 51, n).astype(np.float64)
    price_cents = r.integers(90_000, 10_500_000, n)
    ship = np.repeat(odate, lines) + r.integers(1, 122, n).astype("timedelta64[D]")
    _write_parquet(pa.table({
        "l_orderkey": pa.array(l_okey),
        "l_partkey": pa.array(r.integers(1, 20_001, n).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(1, 1_001, n).astype(np.int64)),
        "l_linenumber": pa.array(l_line),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price_cents / 100.0),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(r.choice(["A", "N", "R"], n)),
        "l_linestatus": pa.array(r.choice(["F", "O"], n)),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    }), os.path.join(out_dir, "lineitem.parquet"))


def corpus(out_dir, seed):
    """documents.parquet with planted near-duplicate and exact-copy docs.

    Returns the planted truth: near-duplicate (original, copy) id pairs and
    exact-copy groups. Copies take ids above every original id."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 2)
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(N_DOCS):
        texts.append(list(vocab[r.integers(0, len(vocab), r.integers(10, 101))]))
    ids = list(range(N_DOCS))
    n_near = int(N_DOCS * NEAR_DUP_SHARE)
    n_exact = int(N_DOCS * EXACT_DUP_SHARE)
    # long originals only, so a few edits leave a high shingle overlap
    long_docs = [i for i in range(N_DOCS) if len(texts[i]) >= 40]
    picks = r.permutation(long_docs)[:n_near + n_exact]
    near_pairs, exact_groups = [], []
    next_id = N_DOCS
    for j, src in enumerate(picks):
        src = int(src)
        words = list(texts[src])
        if j < n_near:
            # edit one word in 25 (at least one), never the same word back
            for pos in r.choice(len(words), max(1, len(words) // 25), replace=False):
                words[pos] = VOCAB[(VOCAB.index(words[pos]) + 1 + int(r.integers(0, 29))) % 30]
            near_pairs.append([src, next_id])
        else:
            exact_groups.append([src, next_id])
        texts.append(words)
        ids.append(next_id)
        next_id += 1
    strs = [" ".join(w) for w in texts]
    n = len(ids)
    _write_parquet(pa.table({
        "doc_id": pa.array(np.array(ids, dtype=np.int64)),
        "text": pa.array(strs),
        "lang": pa.array(np.array(LANGS)[r.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{k}" for k in r.integers(0, N_SOURCES, n)]),
        "n_chars": pa.array(np.array([len(s) for s in strs], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))
    return {"near_pairs": near_pairs, "exact_groups": exact_groups}


def stream_events(seed, file_index):
    """(user_id, ts epoch seconds) rows of one stream file, in file order.

    File i covers event time [i*FILE_SPAN_S, (i+1)*FILE_SPAN_S) after the
    stream epoch, so a user's events never go back past a session start
    across files; OUT_OF_ORDER_SHARE of each file's rows are displaced."""
    r = _rng(seed, 3, file_index)
    # skewed activity: low ids are busy, high ids are sparse and time out
    users = np.floor(N_USERS * r.random(EVENTS_PER_FILE) ** 2).astype(np.int64)
    ts = STREAM_EPOCH_S + file_index * FILE_SPAN_S + np.sort(
        r.integers(0, FILE_SPAN_S, EVENTS_PER_FILE))
    order = np.arange(EVENTS_PER_FILE)
    moved = r.choice(EVENTS_PER_FILE, int(EVENTS_PER_FILE * OUT_OF_ORDER_SHARE), replace=False)
    order[np.sort(moved)] = r.permutation(moved)
    return users[order], ts[order]


def stream_csv(seed, file_index):
    users, ts = stream_events(seed, file_index)
    stamps = np.datetime_as_string(ts.astype("datetime64[s]"), unit="s")
    return "".join(f"{u},{s.replace('T', ' ')}\n" for u, s in zip(users, stamps)).encode()


def sessionize(events, gap_s=SESSION_GAP_S):
    """Batch sessionization: {(user, session_start): count} over (user, ts)
    pairs, a new session starting after more than gap_s of silence —
    the reference the streaming output is checked against."""
    by_user = {}
    for u, t in events:
        by_user.setdefault(int(u), []).append(int(t))
    out = {}
    for u, ts in by_user.items():
        ts.sort()
        start, last, cnt = ts[0], ts[0], 0
        for t in ts:
            if t - last > gap_s:
                out[(u, start)] = cnt
                start, cnt = t, 0
            last, cnt = t, cnt + 1
        out[(u, start)] = cnt
    return out


def tree_checksum(path):
    """sha256 over the relative names and bytes of every file under path."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for f in sorted(filenames):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()
