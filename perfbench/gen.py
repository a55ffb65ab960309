"""Seeded input generator for the pipeline benchmark.

Every workload's inputs are a pure function of ``(workload, seed)``: the
same seed writes byte-identical files, another seed writes other data of
the same shape and size. Batch tables are written one parquet file per
table (the layout of the repository's TPC-H style test data), so a scan
sees exactly what a user pointing ``parquet_scan`` at such a file sees —
including the single-partition scan of a small ``documents`` file.
Only the streaming input is many files: a file source needs a directory
of arrivals.

Generation runs before any timing starts and is cached per seed under
the benchmark's state directory.
"""

from __future__ import annotations

import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per input table, per workload. Fixed so every seed does the
#: same amount of work; the seed only changes values.
SIZES = {
    "etl_join_rollup": {"customer": 30_000, "orders": 300_000, "lineitem": 1_200_000},
    "corpus_curation": {"documents": 200},
    "events_fanout": {"events": 200_000},
    "stream_sessions": {"events": 40_000, "files": 16},
}

#: Literal PII strings injected into documents; none may survive the scrub.
PII_SAMPLES = (
    "alice.smith@example.com",
    "bob_99@mail.example.org",
    "https://tracker.example.net/u/8841?ref=mail",
    "http://198.51.100.23/login",
    "10.0.34.199",
    "+1 415-555-0132",
    "030 1234 5678",
)

_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
_DAY_US = 86_400_000_000
_UTC_US = pa.timestamp("us", tz="UTC")


def input_rows(workload: str) -> int:
    """Total input rows a workload's pipeline reads per run."""
    return sum(n for k, n in SIZES[workload].items() if k != "files")


def _write(table: pa.Table, path: Path) -> None:
    # One row group per file and no dictionary surprises: identical
    # tables give identical bytes.
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 9))
        words.add("".join(rng.choice(letters, size=k)))
    return np.array(sorted(words))


def gen_etl(rng: np.random.Generator, out: Path) -> None:
    n = SIZES["etl_join_rollup"]
    nc, no, nl = n["customer"], n["orders"], n["lineitem"]
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    custkey = np.arange(1, nc + 1, dtype=np.int64)
    _write(pa.table({
        "c_custkey": custkey,
        "c_name": pa.array([f"Customer#{k:09d}" for k in custkey]),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": segments[rng.integers(0, len(segments), nc)],
    }), out / "customer.parquet")

    orderkey = np.arange(1, no + 1, dtype=np.int64)
    odate = _EPOCH_US - 7 * 365 * _DAY_US + rng.integers(0, 6 * 365, no) * _DAY_US
    _write(pa.table({
        "o_orderkey": orderkey,
        "o_custkey": rng.integers(1, nc + 1, no).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, no), 2),
        "o_orderdate": pa.array(odate, type=_UTC_US),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, no)
        ],
    }), out / "orders.parquet")

    l_order = np.sort(rng.integers(1, no + 1, nl)).astype(np.int64)
    same = np.concatenate([[False], l_order[1:] == l_order[:-1]])
    # running line number within each order
    idx = np.arange(nl)
    starts = np.maximum.accumulate(np.where(~same, idx, 0))
    linenumber = (idx - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[l_order - 1] + rng.integers(1, 122, nl) * _DAY_US
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(1, 20_001, nl).astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, nl).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship, type=_UTC_US),
    }), out / "lineitem.parquet")


#: Share of documents that are near-duplicates of an earlier one. Fixed so
#: that every seed makes the same amount of candidate-pair work; the seed
#: chooses which documents are duplicated and how they are edited.
DUP_SHARE = 0.2


def gen_documents(rng: np.random.Generator, out: Path) -> None:
    """Documents with injected near-duplicates (``DUP_SHARE``), plus
    repetitive, too-short and PII-bearing docs."""
    n = SIZES["corpus_curation"]["documents"]
    vocab = _vocab(rng, 3_000)
    # Zipf-like word frequencies, as in natural text.
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.9
    weights /= weights.sum()
    dup_share = DUP_SHARE
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < dup_share:
            # near-duplicate: an earlier doc with ~2% of its tokens replaced
            toks = texts[int(rng.integers(0, i))].split(" ")
            flips = rng.random(len(toks)) < 0.02
            for j in np.flatnonzero(flips):
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        elif r < dup_share + 0.04:
            # repetitive doc: one token dominates (repetition filter drops it)
            w = vocab[int(rng.integers(0, len(vocab)))]
            k = int(rng.integers(30, 120))
            toks = [w] * k + list(rng.choice(vocab, size=k // 4, p=weights))
        elif r < dup_share + 0.06:
            toks = list(rng.choice(vocab, size=int(rng.integers(1, 5)), p=weights))
        else:
            toks = list(rng.choice(vocab, size=int(rng.integers(60, 400)), p=weights))
        if rng.random() < 0.12:
            pos = int(rng.integers(0, len(toks) + 1))
            toks.insert(pos, PII_SAMPLES[int(rng.integers(0, len(PII_SAMPLES)))])
        texts.append(" ".join(toks))
    langs = np.array(["en", "de", "fr", "es", "ja"])[
        rng.choice(5, size=n, p=[0.5, 0.15, 0.15, 0.15, 0.05])
    ]
    _write(pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(texts),
        "lang": langs,
        "source": np.array([f"src{k}" for k in range(8)])[rng.integers(0, 8, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), out / "documents.parquet")


def _events_table(rng: np.random.Generator, n: int, n_users: int, days: int) -> pa.Table:
    ts = np.sort(_EPOCH_US + rng.integers(0, days * _DAY_US, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.zipf(1.3, n).astype(np.int64) % n_users,
        "event_type": np.array(["view", "click", "cart", "purchase", "error"])[
            rng.choice(5, size=n, p=[0.55, 0.25, 0.1, 0.05, 0.05])
        ],
        "value": np.round(rng.exponential(12.0, n), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def gen_events(rng: np.random.Generator, out: Path) -> None:
    t = _events_table(rng, SIZES["events_fanout"]["events"], 5_000, 28)
    # LTZ micros with UTC adjustment: what ``queries.load_events``
    # normalizes any events file to, and what DuckDB reads identically.
    t = t.set_column(1, "ts", t.column("ts").cast(pa.int64()).cast(_UTC_US))
    _write(t, out / "events.parquet")


def gen_stream(rng: np.random.Generator, out: Path) -> None:
    """Time-ordered event files. Rows are out of order within a file only,
    and every file is later than the one before, so no row arrives behind
    the watermark of an earlier micro-batch."""
    n = SIZES["stream_sessions"]["events"]
    n_files = SIZES["stream_sessions"]["files"]
    # Two days of events from 2,000 users with Zipf-skewed activity: heavy
    # users form long sessions, light users many one-event sessions.
    t = _events_table(rng, n, 2_000, 2)
    d = out / "events"
    d.mkdir()
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for f in range(n_files):
        part = t.slice(bounds[f], bounds[f + 1] - bounds[f])
        part = part.take(rng.permutation(part.num_rows))
        # Naive (TIMESTAMP_NTZ) timestamps, as a raw event drop often has;
        # the pipeline's ``cast`` step turns them into session-zone
        # timestamps before the watermark.
        col = part.column("ts").cast(pa.timestamp("us"))
        _write(part.set_column(1, "ts", col), d / f"events-{f:04d}.parquet")


GENERATORS = {
    "etl_join_rollup": gen_etl,
    "corpus_curation": gen_documents,
    "events_fanout": gen_events,
    "stream_sessions": gen_stream,
}


def generate(workload: str, seed: int, out: Path, keep: int = 3) -> None:
    """Write the inputs of ``workload`` for ``seed`` into ``out`` unless a
    finished copy is already there. At most ``keep`` input sets stay
    cached beside ``out`` (oldest evicted)."""
    if (out / "DONE").exists():
        return
    tmp = out.with_name(f".tmp-{out.name}")
    for d in (out, tmp):
        if d.exists():
            shutil.rmtree(d)
    tmp.mkdir(parents=True)
    # Seed by (seed, workload) so workloads never share data.
    rng = np.random.default_rng([seed, list(GENERATORS).index(workload)])
    GENERATORS[workload](rng, tmp)
    (tmp / "DONE").write_text("ok\n")
    tmp.rename(out)
    cached = sorted(
        (p for p in out.parent.glob("seed-*") if p != out),
        key=lambda p: p.stat().st_mtime,
    )
    for old in cached[: max(0, len(cached) - (keep - 1))]:
        shutil.rmtree(old, ignore_errors=True)
