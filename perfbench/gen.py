"""Seeded input generators for the three workloads.

Every table comes from one ``numpy`` generator seeded with the run's seed,
so the same seed gives byte-identical tables and a different seed gives
different ones. The program under test only ever sees the parquet files.

Each table is written as a directory of part files, one per core, so a
scan splits into one task per core instead of one long task next to idle
ones (a single-file table is one row group, which Spark cannot split).
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Warehouse: a TESTDATA.md-shaped star schema (same columns, types and value
# domains as the sf0.1 testdata) at roughly sf0.02, plus `events`.
STAR_ROWS = {"customer": 3_000, "supplier": 200, "part": 4_000, "orders": 30_000}
EVENTS_ROWS, EVENT_USERS, EVENT_ZIPF = 20_000, 1_500, 1.1

# Corpus: documents with the sf0.1 length profile (8..100 words, about 300
# characters), words drawn from a Zipf vocabulary, and a declared share of
# duplicates made as copies of earlier documents.
DOC_ROWS, VOCAB, VOCAB_ZIPF = 600, 4_000, 1.05
EXACT_DUP_SHARE, NEAR_DUP_SHARE, NEAR_DUP_EDIT_SHARE = 0.03, 0.12, 0.08
VEC_ROWS, VEC_DIM, VEC_LABELS, VEC_NEAR_DUP_SHARE = 200, 64, 10, 0.10

# Terasort: 100-byte records (10-byte key, 90-byte payload). 1.5 M records
# are 150 MB, more than the execution memory of the benchmark's session
# (see run.DRIVER_MEM), so the sort has to spill.
TERA_ROWS = 1_500_000

# The sf0.1 testdata vocabulary leads the Zipf ranks, so the most frequent
# words are the ones the testdata uses.
_BASE_WORDS = (
    "the a spark data table row column query join sort merge group agg filter "
    "scan hash key value window stream batch line part order customer vector "
    "small big fast slow dup"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "green", "large", "small", "hot", "cold", "old", "new", "dark"]
_PART_NOUN = ["bolt", "ring", "plate", "gear", "screw", "nut", "pipe", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS, _LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, choices: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.choice(len(choices), n, p=p)])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _zipf_ranks(rng: np.random.Generator, n_items: int, s: float, n: int) -> np.ndarray:
    """``n`` draws of 0-based ranks from a Zipf(s) law truncated to ``n_items``."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    return rng.choice(n_items, n, p=w / w.sum())


def star_tables(rng: np.random.Generator, scale: float = 1.0) -> dict[str, pa.Table]:
    n = {k: max(8, int(v * scale)) for k, v in STAR_ROWS.items()}
    n_events = max(16, int(EVENTS_ROWS * scale))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), p)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), p)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(adj + " " + noun),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, _PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2),
    })
    o = n["orders"]
    odate = _EPOCH_1995 + rng.integers(0, 2404, o) * _DAY_US  # .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    # 1..7 lines per order, and about 2 % of orders without lines, as in
    # the testdata
    lines = rng.integers(1, 8, o)
    lines[rng.random(o) < 0.02] = 0
    okey = np.repeat(np.arange(o, dtype=np.int64), lines)
    m = len(okey)
    linenumber = np.arange(m) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, p, m, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, m, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _ts(odate[okey] + rng.integers(1, 122, m) * _DAY_US),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_events))
    users = rng.permutation(EVENT_USERS)[_zipf_ranks(rng, EVENT_USERS, EVENT_ZIPF, n_events)]
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": _pick(rng, _EVENT_TYPES, n_events),
        "value": np.round(np.minimum(rng.exponential(50.0, n_events), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    return t


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    syl = [a + b for a in "bcdfghklmnprstvz" for b in "aeiou"]
    words, seen = list(_BASE_WORDS), set(_BASE_WORDS)
    while len(words) < VOCAB:
        w = "".join(syl[i] for i in rng.integers(0, len(syl), rng.integers(2, 5)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.asarray(words, dtype=object)


def _edit(rng: np.random.Generator, toks: list[str], vocab: np.ndarray) -> list[str]:
    """A near-duplicate: a copy with a few words substituted, deleted or
    inserted (about NEAR_DUP_EDIT_SHARE of its length)."""
    out = list(toks)
    for _ in range(max(1, round(len(toks) * NEAR_DUP_EDIT_SHARE))):
        pos = int(rng.integers(0, len(out)))
        op = int(rng.integers(0, 3))
        word = vocab[_zipf_ranks(rng, len(vocab), VOCAB_ZIPF, 1)[0]]
        if op == 0:
            out[pos] = word
        elif op == 1 and len(out) > 8:
            del out[pos]
        else:
            out.insert(pos, word)
    return out


def corpus_tables(rng: np.random.Generator, scale: float = 1.0) -> dict[str, pa.Table]:
    n = max(16, int(DOC_ROWS * scale))
    vocab = _vocabulary(rng)
    lengths = rng.integers(8, 101, n)
    ranks = _zipf_ranks(rng, len(vocab), VOCAB_ZIPF, int(lengths.sum()))
    starts = np.cumsum(lengths) - lengths
    kind = rng.random(n)
    docs: list[list[str]] = []
    for i in range(n):
        if i > 0 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            src = docs[int(rng.integers(0, i))]
            docs.append(list(src) if kind[i] < EXACT_DUP_SHARE else _edit(rng, src, vocab))
        else:
            docs.append(list(vocab[ranks[starts[i]:starts[i] + lengths[i]]]))
    text = [" ".join(d) for d in docs]
    t = {
        "documents": pa.table({
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": text,
            "lang": _pick(rng, _LANGS, n, p=_LANG_P),
            "source": pa.array([f"src{i % 20}" for i in rng.permutation(n)]),
            "n_chars": pa.array(np.fromiter(map(len, text), np.int64, n)),
        })
    }
    v = max(16, int(VEC_ROWS * scale))
    labels = rng.integers(0, VEC_LABELS, v)
    centers = rng.normal(size=(VEC_LABELS, VEC_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vec = 0.45 * centers[labels] + rng.normal(scale=VEC_DIM ** -0.5, size=(v, VEC_DIM))
    dup = np.flatnonzero(rng.random(v) < VEC_NEAR_DUP_SHARE)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(np.int64)
    labels[dup] = labels[src]
    vec[dup] = vec[src] + rng.normal(scale=0.02 * VEC_DIM ** -0.5, size=(len(dup), VEC_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, v * VEC_DIM + 1, VEC_DIM, dtype=np.int32)), flat),
        "label": pa.array(labels.astype(np.int32)),
    })
    return t


def _fixed_strings(mat: np.ndarray) -> pa.Array:
    n, w = mat.shape
    buf = pa.py_buffer(np.ascontiguousarray(mat, dtype=np.uint8).tobytes())
    fixed = pa.FixedSizeBinaryArray.from_buffers(pa.binary(w), n, [None, buf])
    return fixed.cast(pa.binary()).cast(pa.string())


def tera_records(rng: np.random.Generator, scale: float = 1.0) -> pa.Table:
    """TeraGen-shaped records: a random 10-character key and a 90-character
    payload (the row id as 32 hex digits, then filler)."""
    n = max(16, int(TERA_ROWS * scale))
    alphabet = np.frombuffer(b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz", np.uint8)
    key = alphabet[rng.integers(0, len(alphabet), (n, 10))]
    ids = np.arange(n, dtype=np.uint64)
    hexd = np.frombuffer(b"0123456789ABCDEF", np.uint8)
    shifts = np.arange(60, -4, -4, dtype=np.uint64)
    row_hex = hexd[((ids[:, None] >> shifts) & np.uint64(15)).astype(np.int64)]
    pad = np.zeros((n, 16), np.uint8) + ord("0")
    filler = np.repeat((ord("A") + (ids * 7) % 26).astype(np.uint8)[:, None], 58, axis=1)
    payload = np.concatenate([pad, row_hex, filler], axis=1)
    return pa.table({"key": _fixed_strings(key), "payload": _fixed_strings(payload)})


def generate(workload: str, seed: int, scale: float = 1.0) -> dict[str, pa.Table]:
    """All input tables of ``workload`` for ``seed``. Workloads that do not
    use a table still get a small one, because the registry's view set
    names every table."""
    rng = np.random.default_rng([seed, 0x5EED])
    if workload == "warehouse":
        return {**star_tables(rng, scale), **corpus_tables(rng, scale * 0.02)}
    if workload == "corpus":
        return {**star_tables(rng, scale * 0.02), **corpus_tables(rng, scale)}
    if workload == "terasort":
        return {"records": tera_records(rng, scale)}
    raise ValueError(f"unknown workload {workload!r}")


def checksum(table: pa.Table) -> str:
    """sha256 of the table's Arrow IPC stream: equal tables, equal sums."""
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def write_tables(tables: dict[str, pa.Table], out_dir: str, n_files: int) -> int:
    """Write each table as ``<out_dir>/<name>.parquet/part-NNNNN.parquet``,
    ``n_files`` parts of contiguous rows. Returns the on-disk bytes."""
    total = 0
    for name, table in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        parts = max(1, min(n_files, table.num_rows))
        bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
        for i in range(parts):
            path = os.path.join(d, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
            total += os.path.getsize(path)
    return total
