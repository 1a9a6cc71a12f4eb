"""Seeded input generators for the benchmark workloads.

Everything the program sees is made here from ``--seed`` and written as
parquet (plus SQL text built by the workloads). The NumPy arrays that
produced each file are returned beside it, so the checkers compute their
expected answers from the generator's own arrays, never from the
program's output.

Inputs are cached per (kind, seed, size) under the git-ignored
``perfbench/.cache`` directory; a cached entry is reused only when its
``done`` marker exists, so an interrupted write is regenerated.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")
#: cached input sets kept per kind; older ones are removed
KEEP_CACHED = 3

MINUTE_MS = 60_000
HOUR_MS = 3_600_000
DAY_MS = 86_400_000
#: the reference month: watermark 2024-01-01, advanced to 2024-02-01 (UTC)
WM_MS = 1_704_067_200_000
ADV_MS = 1_706_745_600_000

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_TYPE_P = np.array([0.5, 0.25, 0.12, 0.08, 0.05])


def _cache_dir(kind: str, seed: int, size: int) -> str:
    return os.path.join(CACHE, kind, f"seed{seed}_n{size}")


def _evict(kind: str, keep: str) -> None:
    """Keep the newest KEEP_CACHED entries of ``kind`` (and ``keep``)."""
    root = os.path.join(CACHE, kind)
    entries = sorted(
        (os.path.join(root, e) for e in os.listdir(root)),
        key=os.path.getmtime,
        reverse=True,
    )
    for path in entries[KEEP_CACHED:]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


def _unique_sorted_ms(rng, lo: int, hi: int, n: int) -> np.ndarray:
    """n distinct integer ms in [lo, hi), sorted."""
    ts = np.sort(rng.integers(lo, hi, size=n, dtype=np.int64))
    while True:
        dup = np.flatnonzero(np.diff(ts) == 0)
        if not len(dup):
            return ts
        ts[dup + 1] += 1
        ts.sort()


def _values(rng, n: int) -> np.ndarray:
    """Fare-like positive values with whole cents, so value*1e6 rounds
    the same under every rounding mode (the scaled-long policy)."""
    cents = np.clip(np.rint(rng.lognormal(7.2, 0.65, size=n)), 50, 40_000)
    return cents / 100.0


# ---------------------------------------------------------------- events


@dataclass
class Events:
    """The reference-sized table and the arrays behind it."""

    path: str
    ts_ms: np.ndarray  # int64, file order
    value: np.ndarray  # float64
    event_type: np.ndarray  # str
    user_id: np.ndarray  # int64
    n_late: int  # ts < WM_MS
    n_ahead: int  # ts >= ADV_MS


def events(seed: int, n_rows: int = 2_400_000) -> Events:
    """~n_rows over the reference month, written in arrival order: each
    row arrives up to 5 minutes after its event time, so the file is
    time-ordered with a few minutes of disorder. 0.25 % of rows are
    late (up to 6 h before the watermark) and 0.25 % are write-ahead
    (up to 6 h past the advanced watermark). Event times are distinct
    milliseconds, so first/last-by-time answers have no ties."""
    d = _cache_dir("events", seed, n_rows)
    path = os.path.join(d, "events.parquet")
    arrays = os.path.join(d, "arrays.npz")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = np.random.default_rng([seed, 1])
        n_late = n_ahead = max(1, n_rows // 400)
        n_on = n_rows - n_late - n_ahead
        ts = np.concatenate(
            [
                _unique_sorted_ms(rng, WM_MS - 6 * HOUR_MS, WM_MS, n_late),
                _unique_sorted_ms(rng, WM_MS, ADV_MS, n_on),
                _unique_sorted_ms(rng, ADV_MS, ADV_MS + 6 * HOUR_MS, n_ahead),
            ]
        )
        arrival = ts + rng.integers(0, 5 * MINUTE_MS, size=len(ts))
        order = np.argsort(arrival, kind="stable")
        ts = ts[order]
        value = _values(rng, len(ts))
        etype = rng.choice(len(EVENT_TYPES), len(ts), p=EVENT_TYPE_P).astype(np.int8)
        # heavy-tailed users, so top-k has clear leaders and tied tails
        user = (rng.zipf(1.4, size=len(ts)) % 20_000).astype(np.int64)
        table = pa.table(
            {
                "ts": pa.array(ts * 1000, type=pa.timestamp("us")),
                "value": value,
                "event_type": pa.DictionaryArray.from_arrays(
                    etype, pa.array(EVENT_TYPES.tolist())
                ),
                "user_id": user,
            }
        )
        pq.write_table(table, path, row_group_size=256 * 1024)
        np.savez(
            arrays, ts=ts, value=value, event_type=etype, user=user,
            n_late=n_late, n_ahead=n_ahead,
        )
        open(os.path.join(d, "done"), "w").close()
        _evict("events", d)
    z = np.load(arrays)
    return Events(
        path=path,
        ts_ms=z["ts"],
        value=z["value"],
        event_type=EVENT_TYPES[z["event_type"]],
        user_id=z["user"],
        n_late=int(z["n_late"]),
        n_ahead=int(z["n_ahead"]),
    )


def ranges(rng, n: int, unit_ms: int, lo: int = WM_MS, hi: int = ADV_MS):
    """n random unit-aligned [s, e) ranges inside [lo, hi), as in the
    reference's MINUTE/HOUR RANGES generator (hour offsets fixed)."""
    units = (hi - lo) // unit_ms
    a = rng.integers(0, units, size=n)
    b = rng.integers(0, units, size=n)
    s = np.minimum(a, b)
    e = np.maximum(a, b) + 1
    return [(lo + int(x) * unit_ms, lo + int(y) * unit_ms) for x, y in zip(s, e)]


# ---------------------------------------------------------------- stream


@dataclass
class StreamChunk:
    """One landed file: its rows in file order, and which are late."""

    ts_ms: np.ndarray
    value: np.ndarray
    late: np.ndarray  # bool: far behind the watermark when it lands


def stream_chunks(
    seed: int, n_chunks: int, rows_per_chunk: int, delay_ms: int
) -> list[StreamChunk]:
    """Event-time chunks over the reference month, one chunk per day.

    On-time rows of chunk c lie in day c, disordered by up to 5 minutes
    across the day boundary, which stays inside the watermark delay.
    From chunk 1 on, 0.5 % of each chunk is late: event times 30 min to
    3 h behind the watermark Spark holds when the chunk lands (the
    latest event time so far minus ``delay_ms``), far enough that the
    row's whole minute window is behind it too. No row lies in the
    future, so nothing drags the watermark past the rows still due."""
    assert delay_ms > 5 * MINUTE_MS + MINUTE_MS
    rng = np.random.default_rng([seed, 2])
    out = []
    max_seen = None
    for c in range(n_chunks):
        lo = WM_MS + c * DAY_MS
        ts = _unique_sorted_ms(rng, lo, lo + DAY_MS, rows_per_chunk)
        if c:
            # disorder across the boundary: some rows of this day carry
            # event times up to 5 minutes before it
            back = rng.random(len(ts)) < 0.01
            ts[back] -= rng.integers(1, 5 * MINUTE_MS, size=int(back.sum()))
        late = np.zeros(len(ts), dtype=bool)
        if c:
            n_late = max(1, rows_per_chunk // 200)
            wm = max_seen - delay_ms
            lts = wm - rng.integers(30 * MINUTE_MS, 3 * HOUR_MS, size=n_late)
            ts = np.concatenate([ts, lts])
            late = np.concatenate([late, np.ones(n_late, dtype=bool)])
        order = rng.permutation(len(ts))
        ts, late = ts[order], late[order]
        value = _values(rng, len(ts))
        max_seen = int(ts[~late].max()) if max_seen is None else max(
            max_seen, int(ts[~late].max())
        )
        out.append(StreamChunk(ts_ms=ts, value=value, late=late))
    return out


def write_chunk(chunk: StreamChunk, path: str) -> None:
    pq.write_table(
        pa.table(
            {
                "ts": pa.array(chunk.ts_ms * 1000, type=pa.timestamp("us")),
                "value": chunk.value,
            }
        ),
        path,
    )


# ---------------------------------------------------------------- corpus


@dataclass
class Corpus:
    """Documents with injected duplicate clusters, and their embeddings."""

    docs_path: str
    emb_path: str
    doc_id: np.ndarray  # int64
    texts: list
    n_chars: np.ndarray
    emb: np.ndarray  # float32 (n, dim), unit rows
    clusters: list  # list of sorted doc_id lists, each an injected cluster


def corpus(
    seed: int, n_base: int = 3000, dim: int = 64, n_clusters: int = 32
) -> Corpus:
    """n_base original documents plus duplicates of 10 % of them.

    Tokens follow a Zipf law (exponent 0.5) over 50 000 words: frequent
    terms give BM25 real idf spread, while two unrelated documents share
    almost no distinct token, so their MinHash bands should not collide
    (seed 13 has one pair that does). A duplicate is either exact (same
    text) or near (the same token set, reordered and with one token
    repeated), so its MinHash signature equals its original's and
    MinHash-LSH must pair them. Embeddings are unit vectors around
    ``n_clusters`` centres; a duplicate's embedding is a small
    perturbation of its original's."""
    d = _cache_dir("corpus", seed, n_base)
    docs_path = os.path.join(d, "documents.parquet")
    emb_path = os.path.join(d, "embeddings.parquet")
    arrays = os.path.join(d, "arrays.npz")
    if not os.path.exists(os.path.join(d, "done")):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        rng = np.random.default_rng([seed, 3])
        vocab_n = 50_000
        p = 1.0 / np.arange(1, vocab_n + 1) ** 0.5
        p /= p.sum()
        words = np.array([f"w{i}" for i in range(vocab_n)])
        texts = []
        for _ in range(n_base):
            k = int(rng.integers(30, 90))
            texts.append(" ".join(words[rng.choice(vocab_n, k, p=p)]))
        centres = rng.normal(size=(n_clusters, dim))
        emb = centres[rng.integers(0, n_clusters, n_base)] + 0.35 * rng.normal(
            size=(n_base, dim)
        )
        n_dup_src = n_base // 10
        srcs = rng.choice(n_base, n_dup_src, replace=False)
        clusters = []
        extra_text, extra_emb = [], []
        next_id = n_base
        for s in srcs:
            members = [int(s)]
            for _ in range(int(rng.integers(1, 4))):
                toks = texts[s].split(" ")
                if rng.random() < 0.5:
                    t = texts[s]  # exact duplicate
                else:
                    toks = list(rng.permutation(toks))
                    toks.append(toks[int(rng.integers(0, len(toks)))])
                    t = " ".join(toks)
                extra_text.append(t)
                extra_emb.append(emb[s] + 0.01 * rng.normal(size=dim))
                members.append(next_id)
                next_id += 1
            clusters.append(sorted(members))
        texts = texts + extra_text
        emb = np.vstack([emb, np.array(extra_emb)])
        emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
        # shuffle ids so duplicates are not a contiguous id block
        perm = rng.permutation(len(texts))
        new_id = np.empty(len(texts), dtype=np.int64)
        new_id[perm] = np.arange(len(texts))
        texts = [texts[i] for i in perm]
        emb = emb[perm]
        clusters = [sorted(int(new_id[m]) for m in c) for c in clusters]
        doc_id = np.arange(len(texts), dtype=np.int64)
        n_chars = np.array([len(t) for t in texts], dtype=np.int64)
        pq.write_table(
            pa.table(
                {"doc_id": doc_id, "text": texts, "n_chars": n_chars}
            ),
            docs_path,
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": doc_id,
                    "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                }
            ),
            emb_path,
        )
        flat = np.array([m for c in clusters for m in c], dtype=np.int64)
        sizes = np.array([len(c) for c in clusters], dtype=np.int64)
        np.savez(arrays, emb=emb, flat=flat, sizes=sizes)
        open(os.path.join(d, "done"), "w").close()
        _evict("corpus", d)
    z = np.load(arrays)
    docs = pq.read_table(docs_path)
    bounds = np.concatenate([[0], np.cumsum(z["sizes"])])
    flat = z["flat"]
    return Corpus(
        docs_path=docs_path,
        emb_path=emb_path,
        doc_id=docs.column("doc_id").to_numpy(),
        texts=docs.column("text").to_pylist(),
        n_chars=docs.column("n_chars").to_numpy(),
        emb=z["emb"],
        clusters=[
            [int(x) for x in flat[bounds[i] : bounds[i + 1]]]
            for i in range(len(bounds) - 1)
        ],
    )
