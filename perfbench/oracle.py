"""Expected answers, computed apart from the program.

Range aggregates come from the generator's NumPy arrays under the
scaled-long policy (value·1e6 rounded to int64, summed exactly); SQL
statements the program hands to Spark are replayed in DuckDB over the
same parquet; retrieval answers come from a plain-Python BM25 over the
corpus text, exact NumPy cosine top-k, and RRF recomputed from the two
tier lists. Every checker here is a pure function, so the self-test can
feed it perturbed answers.
"""

from __future__ import annotations

import math

import numpy as np

QUANT = 1_000_000
MINUTE_MS = 60_000


def micros(values: np.ndarray) -> np.ndarray:
    # values carry whole cents, so no product sits on a .5 tie
    return np.rint(values * QUANT).astype(np.int64)


class Slots:
    """Per-minute partials (exact micro sum, count, min, max) over
    [lo, hi), filled incrementally; answers minute-aligned ranges."""

    def __init__(self, lo: int, hi: int):
        n = (hi - lo) // MINUTE_MS
        self.lo = lo
        self.sum = np.zeros(n, dtype=np.int64)
        self.cnt = np.zeros(n, dtype=np.int64)
        self.min = np.full(n, np.inf)
        self.max = np.full(n, -np.inf)

    def add(self, ts_ms: np.ndarray, values: np.ndarray) -> None:
        slot = (ts_ms - self.lo) // MINUTE_MS
        keep = (slot >= 0) & (slot < len(self.sum))
        slot, values = slot[keep], values[keep]
        np.add.at(self.sum, slot, micros(values))
        np.add.at(self.cnt, slot, 1)
        np.minimum.at(self.min, slot, values)
        np.maximum.at(self.max, slot, values)

    def answer(self, agg: str, s: int, e: int):
        a, b = (s - self.lo) // MINUTE_MS, (e - self.lo) // MINUTE_MS
        c = int(self.cnt[a:b].sum())
        if agg == "COUNT":
            return c
        if not c:
            return None
        total = int(self.sum[a:b].sum())
        if agg == "SUM":
            return float(total) / QUANT
        if agg == "AVG":
            return float(total) / float(c) / QUANT
        return float(self.min[a:b].min() if agg == "MIN" else self.max[a:b].max())


def scalars_equal(got, want, rel: float = 0.0) -> bool:
    """Exact (rel=0) or relative-tolerance scalar comparison; None and
    NaN only equal themselves."""
    if got is None or want is None:
        return got is None and want is None
    got, want = float(got), float(want)
    if rel == 0.0:
        return got == want
    return math.isclose(got, want, rel_tol=rel, abs_tol=0.0)


def duckdb_scalars(parquet: str, table: str, statements: list) -> list:
    """Run each statement in DuckDB over the parquet's rows (loaded as
    ``table``, sorted by ts so range filters prune); returns the first
    column of the first row of each."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE TABLE {table} AS SELECT * FROM read_parquet('{parquet}') ORDER BY ts"
        )
        return [con.execute(q).fetchone()[0] for q in statements]
    finally:
        con.close()


# -------------------------------------------------------------- dashboard


class Rows:
    """Rows with ts in [lo, hi) sorted by ts, with their value (and
    optional key) columns; answers range queries by binary search."""

    def __init__(self, ts_ms, values, lo: int, hi: int, keys=None):
        keep = (ts_ms >= lo) & (ts_ms < hi)
        order = np.argsort(ts_ms[keep], kind="stable")
        self.ts = ts_ms[keep][order]
        self.values = values[keep][order]
        self.keys = None if keys is None else keys[keep][order]
        self.lo = lo
        self.sum_prefix = np.concatenate(([0], np.cumsum(micros(self.values))))
        # per-minute min/max, so MIN/MAX over a long range reads slots
        n_slots = (hi - lo) // MINUTE_MS
        slot = (self.ts - lo) // MINUTE_MS
        self.slot_min = np.full(n_slots, np.inf)
        self.slot_max = np.full(n_slots, -np.inf)
        np.minimum.at(self.slot_min, slot, self.values)
        np.maximum.at(self.slot_max, slot, self.values)

    def _slice(self, s: int, e: int) -> slice:
        return slice(
            int(np.searchsorted(self.ts, s, "left")),
            int(np.searchsorted(self.ts, e, "left")),
        )

    def answer(self, agg: str, s: int, e: int):
        """The driver index's answer contract: None on an empty range
        (COUNT: 0); SUM/AVG lowered from the exact int64 micro sum."""
        sl = self._slice(s, e)
        c = sl.stop - sl.start
        if agg == "COUNT":
            return c
        if not c:
            return None
        total = int(self.sum_prefix[sl.stop] - self.sum_prefix[sl.start])
        if agg == "SUM":
            return float(total) / QUANT
        if agg == "AVG":
            return float(total) / float(c) / QUANT
        if s % MINUTE_MS == 0 and e % MINUTE_MS == 0:
            a, b = (s - self.lo) // MINUTE_MS, (e - self.lo) // MINUTE_MS
            arr = self.slot_min[a:b] if agg == "MIN" else self.slot_max[a:b]
        else:
            arr = self.values[sl]
        return float(arr.min() if agg == "MIN" else arr.max())

    def ohlc(self, s: int, e: int):
        """(open, high, low, close) of [s, e) by event time."""
        v = self.values[self._slice(s, e)]
        if not len(v):
            return (None, None, None, None)
        return (float(v[0]), float(v.max()), float(v.min()), float(v[-1]))

    def topk(self, s: int, e: int, k: int) -> list:
        """[(key, count)] by count desc, key asc — the tie-break."""
        u, c = np.unique(self.keys[self._slice(s, e)], return_counts=True)
        order = np.lexsort((u, -c))[:k]
        return [(int(u[i]), int(c[i])) for i in order]

    def distinct_by_hour(self, s: int, e: int) -> list:
        """[(hour start ms, distinct keys)] for non-empty hours."""
        sl = self._slice(s, e)
        hour = self.ts[sl] // 3_600_000
        # keys are < 2**32, so (hour, key) packs into one int64
        pairs = np.unique((hour << 32) | self.keys[sl])
        h, c = np.unique(pairs >> 32, return_counts=True)
        return [(int(a) * 3_600_000, int(b)) for a, b in zip(h, c)]

    def median_bounds(self, s: int, e: int):
        """(lower median, upper median), or None for an empty range."""
        v = self.values[self._slice(s, e)]
        n = len(v)
        if not n:
            return None
        part = np.partition(v, [(n - 1) // 2, n // 2])
        return float(part[(n - 1) // 2]), float(part[n // 2])


def median_ok(got, bounds, bin_width: float) -> bool:
    """True when ``got`` lies within ``bin_width`` of an exact median
    (anywhere between the lower and upper median)."""
    if bounds is None:
        return got is None
    lo, hi = bounds
    return got is not None and lo - bin_width <= float(got) <= hi + bin_width


# -------------------------------------------------------------- retrieval

#: the keyword tier's integer BM25 (k1 = 1.2, b = 0.75, linear idf)
IDF_SCALE = 10_000


def bm25_topk(texts: list, doc_ids: list, terms: tuple, k: int) -> list:
    """[(doc_id, score)] top-k by (score desc, doc_id asc), scored from
    the raw text with the keyword tier's integer BM25 formula."""
    n_docs = len(texts)
    toks = [t.split(" ") for t in texts]
    total_dl = sum(len(t) for t in toks)
    tset = set(terms)
    tf: dict = {}
    df: dict = {}
    for d, tk in zip(doc_ids, toks):
        counts: dict = {}
        for w in tk:
            if w in tset:
                counts[w] = counts.get(w, 0) + 1
        for w, c in counts.items():
            tf[(d, w)] = (c, len(tk))
            df[w] = df.get(w, 0) + 1
    scores: dict = {}
    for (d, w), (c, dl) in tf.items():
        idf = (IDF_SCALE * n_docs) // df[w]
        L = (dl * n_docs * 10_000) // total_dl
        tfn = (880_000_000 * c) // (400_000 * c + 120_000 + 36 * L)
        scores[d] = scores.get(d, 0) + (idf * tfn) // 1000
    ranked = sorted(scores.items(), key=lambda x: (-x[1], x[0]))
    return ranked[:k]


def cosine_topk(emb: np.ndarray, ids: np.ndarray, q: int, k: int) -> list:
    """Exact cosine top-k neighbours of vector ``q`` (excluding itself)."""
    pos = {int(x): i for i, x in enumerate(ids)}
    v = emb[pos[q]]
    sims = emb @ v / (np.linalg.norm(emb, axis=1) * np.linalg.norm(v))
    sims[pos[q]] = -np.inf
    order = np.lexsort((ids, -sims))[:k]
    return [int(ids[i]) for i in order]


def rrf(kw: list, vec: list, k: int, rrf_k: int = 60, scale: int = 1_000_000):
    """[(doc_id, score)] fused from two ranked doc-id lists."""
    score: dict = {}
    for lst in (kw, vec):
        for rank, d in enumerate(lst, 1):
            score[d] = score.get(d, 0) + scale // (rrf_k + rank)
    return sorted(score.items(), key=lambda x: (-x[1], x[0]))[:k]


def dedup_expected(doc_ids, n_chars, clusters: list) -> dict:
    """doc_id → (component, canonical_id, keep) for the injected
    clusters: component = min id, canonical = longest member (then
    lowest id); every other document is its own canonical."""
    out = {int(d): (int(d), int(d), 1) for d in doc_ids}
    length = dict(zip((int(d) for d in doc_ids), (int(c) for c in n_chars)))
    for members in clusters:
        comp = min(members)
        canon = max(members, key=lambda m: (length[m], -m))
        for m in members:
            out[m] = (comp, canon, int(m == canon))
    return out
