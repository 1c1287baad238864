"""Seeded input generator for the benchmark.

Every table is synthesised from ``--seed`` alone, with the shape of the
repo's reference test data (TESTDATA.md): the same schemas and types,
one parquet file per table with ONE row group (the layout that
``sources/tables._starved_scan_partitions`` plans from), uniform keys,
the same word-length and ``lang`` mix in ``documents``, and unit-norm
64-d embeddings.  Sizes follow the reference scale-factor rule, so
``sf=0.01`` gives the sf0.01 row counts.

The CDC stream for ``cdc_upsert`` is also derived from the seed: a base
load followed by micro-batches that mix new keys, updates and late rows.
Every timestamp is globally unique, so "latest row per key" has exactly
one answer.

Outputs are cached per (kind, seed, size) under the build directory; a
cache hit costs a directory listing.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the reference corpus draws every language from one 30-word vocabulary;
# its near-duplicates are copies of another document plus " dup"
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
DUP_FRAC = 0.05
# corpus line dedup in corpus_jobs.yml: lines split on LINE_DELIM that
# occur in >= LINE_MIN_DOCS documents are removed
LINE_DELIM, LINE_MIN_DOCS = " batch ", 3
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.148, 0.148, 0.144]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    # one row group per file, like the reference data
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _days(rng, start: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _words_text(rng, n_docs: int) -> list[str]:
    lens = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, i = [], 0
    for n in lens:
        out.append(" ".join(words[i:i + n]))
        i += n
    return out


def _emptied_by_line_dedup(text: list[str]) -> list[int]:
    """Documents whose every line is shared by >= LINE_MIN_DOCS docs."""
    lines = [{x.strip() for x in t.split(LINE_DELIM)} for t in text]
    docs_per_line: dict[str, int] = {}
    for ls in lines:
        for x in ls:
            docs_per_line[x] = docs_per_line.get(x, 0) + 1
    return [
        i for i, ls in enumerate(lines)
        if all(x == "" or docs_per_line[x] >= LINE_MIN_DOCS for x in ls)
    ]


def documents_table(rng, n_docs: int) -> pa.Table:
    """Random documents over VOCAB with DUP_FRAC near-duplicates.  Like
    the reference corpus, no document consists only of lines that the
    corpus line dedup removes: such a document is redrawn (an empty
    document makes the quality filter divide by zero, see CHANGES.md)."""
    text = _words_text(rng, n_docs)
    for i in rng.choice(n_docs, int(n_docs * DUP_FRAC), replace=False):
        j = int(rng.integers(0, n_docs - 1))
        text[i] = text[j + (j >= i)] + " dup"
    for _ in range(100):
        empty = _emptied_by_line_dedup(text)
        if not empty:
            break
        for i, t in zip(empty, _words_text(rng, len(empty))):
            text[i] = t
    ids = np.arange(n_docs, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": text,
        "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten reference tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, int(150_000 * sf))
    n_supp = max(1, int(10_000 * sf))
    n_part = max(1, int(200_000 * sf))
    n_ord = max(1, int(1_500_000 * sf))
    n_line = max(1, int(6_000_000 * sf))
    n_ev = max(1, int(1_000_000 * sf))
    n_users = max(1, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.asarray(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2400, n_ord),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2500, n_line),
    })
    # events: distinct, time-ordered timestamps over 30 days
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.choice(span_us, n_ev, replace=False))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = documents_table(rng, n_docs)
    vec = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


# CDC batch mix: shares of new keys, updates and late rows.  Chosen, like
# the base load and the batch size the workload passes: no recorded
# change stream exists in the repository (README: sensitivity of
# op_p50_s to the mix)
CDC_MIX = (0.4, 0.4, 0.2)


def cdc_stream(seed: int, base_rows: int, batch_rows: int, n_batches: int,
               late_across_batches: bool = False):
    """(base, [batch, ...]) Arrow tables of (id, ts, value, payload).

    Each batch is CDC_MIX: new keys, updates of known keys (newer than
    the key's latest ts; a key may be updated twice in one batch) and
    late rows: an older version of a key this batch also updates, which
    the merge must drop.  Per key, every batch is newer than the
    snapshot, as in a change log ordered by commit time.  With
    ``late_across_batches`` each batch's late rows arrive in the next
    batch instead, after the snapshot already holds the newer row.  A ts
    is a coarse tick plus a unique sequence number in its low digits: no
    two rows anywhere share a ts."""
    rng = np.random.default_rng([seed, 2])
    seq = iter(rng.permutation(10 ** 6))
    latest: dict[int, int] = {}
    next_key = 0
    pending: list[tuple[int, int]] = []
    t0 = np.datetime64("2024-01-01", "us")

    def make(n_new: int, n_upd: int, n_late: int) -> pa.Table:
        nonlocal next_key, pending
        ids = list(range(next_key, next_key + n_new))
        ticks = [int(x) for x in rng.integers(1_000, 2_000, n_new)]
        next_key += n_new
        known = np.fromiter(latest.keys(), dtype=np.int64, count=len(latest))
        upd = [int(k) for k in known[rng.integers(0, len(known), n_upd)]] if len(known) else []
        upd_ticks = [latest[k] + int(rng.integers(1, 100)) for k in upd]
        late = [upd[i] for i in rng.integers(0, len(upd), n_late)] if upd else []
        newest = {}
        for k, t in zip(upd, upd_ticks):
            newest[k] = max(newest.get(k, 0), t)
        late_rows = [(k, newest[k] - int(rng.integers(1, 200))) for k in late]
        if late_across_batches:
            late_rows, pending = pending, late_rows
        ids += upd + [k for k, _ in late_rows]
        ticks += upd_ticks + [t for _, t in late_rows]
        for k, t in zip(ids, ticks):
            latest[k] = max(latest.get(k, -1), t)
        order = rng.permutation(len(ids))
        us = np.array(ticks, dtype=np.int64)[order] * 10 ** 6 + np.fromiter(
            (next(seq) for _ in ids), dtype=np.int64, count=len(ids)
        )
        n = len(ids)
        return pa.table({
            "id": np.array(ids, dtype=np.int64)[order],
            "ts": t0 + us.astype("timedelta64[us]"),
            "value": np.round(rng.uniform(0.0, 1000.0, n), 2),
            "payload": [f"p{v}" for v in rng.integers(0, 10 ** 9, n)],
        })

    base = make(base_rows, 0, 0)
    n_new, n_upd = (round(batch_rows * f) for f in CDC_MIX[:2])
    batches = [make(n_new, n_upd, batch_rows - n_new - n_upd) for _ in range(n_batches)]
    return base, batches


def _ready(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_READY"))


def _mark_ready(d: str, info: dict) -> None:
    with open(os.path.join(d, "_READY"), "w") as fh:
        json.dump(info, fh)


def ensure_star(cache: str, seed: int, sf: float) -> str:
    d = os.path.join(cache, f"star_seed{seed}_sf{sf}")
    if not _ready(d):
        os.makedirs(d, exist_ok=True)
        for name, table in star_tables(seed, sf).items():
            _write(table, os.path.join(d, f"{name}.parquet"))
        _mark_ready(d, {"seed": seed, "sf": sf})
    return d


def ensure_documents(cache: str, seed: int, n_docs: int) -> str:
    d = os.path.join(cache, f"docs_seed{seed}_n{n_docs}")
    if not _ready(d):
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng([seed, 3])
        _write(documents_table(rng, n_docs), os.path.join(d, "documents.parquet"))
        _mark_ready(d, {"seed": seed, "n_docs": n_docs})
    return d


def ensure_cdc(cache: str, seed: int, base_rows: int, batch_rows: int, n_batches: int,
               late_across_batches: bool = False) -> str:
    mix = "_".join(str(f) for f in CDC_MIX)
    late = "_lateacross" if late_across_batches else ""
    d = os.path.join(cache, f"cdc_seed{seed}_b{base_rows}_r{batch_rows}_n{n_batches}_m{mix}{late}")
    if not _ready(d):
        os.makedirs(d, exist_ok=True)
        base, batches = cdc_stream(seed, base_rows, batch_rows, n_batches, late_across_batches)
        _write(base, os.path.join(d, "batch_0000.parquet"))
        for i, b in enumerate(batches, start=1):
            _write(b, os.path.join(d, f"batch_{i:04d}.parquet"))
        _mark_ready(d, {"seed": seed})
    return d
