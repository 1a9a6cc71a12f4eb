"""DriverWheelIndex — O(1) range-aggregate serving from NumPy arrays.

This is the latency-class analogue of µWheel's ``WheelMode::Index``
prefix-sum layout plus SIMD wheels (/root/reference/src/main.rs:88,
146-148): the minute rollup is densified over ``[watermark, advanced)``
and turned into

- int64 prefix sums of the scaled-long value sums (exact, associative),
- int64 prefix sums of counts,
- sparse tables (O(n log n) build, O(1) query) for range MIN / MAX —
  beyond the reference's SUM-only aggregator, covering uwheel's
  min/max/avg/all aggregators (SURVEY §2.4 A8).

Empty ranges (or ranges with no rows) lower to ``None``, matching the
``Option<f64>`` contract of ``combine_range_and_lower``
(/root/reference/src/main.rs:212).
"""

from __future__ import annotations

import numpy as np

from uwheel_datafusion_spark.functions.quant import QUANT_SCALE
from uwheel_datafusion_spark.functions.time import MINUTE_MS


class _SparseTable:
    """Idempotent-op (min/max) range queries in O(1) after O(n log n)."""

    def __init__(self, arr: np.ndarray, op) -> None:
        self.op = op
        n = len(arr)
        self.levels = [arr]
        k = 1
        while (1 << k) <= n:
            prev = self.levels[-1]
            half = 1 << (k - 1)
            self.levels.append(op(prev[: n - (1 << k) + 1], prev[half : n - half + 1]))
            k += 1

    def query(self, lo: int, hi: int):
        """op over arr[lo:hi); hi > lo required."""
        k = (hi - lo).bit_length() - 1
        lvl = self.levels[k]
        return self.op(lvl[lo], lvl[hi - (1 << k)])

    def nbytes(self) -> int:
        return sum(l.nbytes for l in self.levels)


class DriverWheelIndex:
    def __init__(
        self,
        watermark_ms: int,
        advanced_ms: int,
        sum_prefix: np.ndarray,
        cnt_prefix: np.ndarray,
        min_table: _SparseTable,
        max_table: _SparseTable,
    ) -> None:
        self.watermark_ms = watermark_ms
        self.advanced_ms = advanced_ms
        self._sum_prefix = sum_prefix  # int64, len n+1
        self._cnt_prefix = cnt_prefix
        self._min = min_table
        self._max = max_table

    @classmethod
    def from_minute_rows(cls, rows, watermark_ms: int, advanced_ms: int):
        """rows: (bucket_ms, sum_micros, cnt, min_value, max_value).

        A minute whose values are all NULL holds ``(None, cnt, None,
        None)``: NULL is the identity (0, +inf, −inf). NumPy stores a
        None min/max as NaN, which is replaced once after the loop."""
        n = (advanced_ms - watermark_ms) // MINUTE_MS
        sums = np.zeros(n, dtype=np.int64)
        cnts = np.zeros(n, dtype=np.int64)
        mins = np.full(n, np.inf, dtype=np.float64)
        maxs = np.full(n, -np.inf, dtype=np.float64)
        for r in rows:
            i = (r["bucket_ms"] - watermark_ms) // MINUTE_MS
            if 0 <= i < n:
                sums[i] = r["sum_micros"] or 0
                cnts[i] = r["cnt"]
                mins[i] = r["min_value"]
                maxs[i] = r["max_value"]
        mins[np.isnan(mins)] = np.inf
        maxs[np.isnan(maxs)] = -np.inf
        sum_prefix = np.concatenate(([0], np.cumsum(sums)))
        cnt_prefix = np.concatenate(([0], np.cumsum(cnts)))
        return cls(
            watermark_ms,
            advanced_ms,
            sum_prefix,
            cnt_prefix,
            _SparseTable(mins, np.minimum),
            _SparseTable(maxs, np.maximum),
        )

    # --------------------------------------------------------------- queries

    def _slots(self, start_ms: int, end_ms: int) -> tuple[int, int] | None:
        """Clamp to the indexed horizon and convert to slot indices.
        Minute alignment is the v1 index contract (SURVEY §4.2); callers
        route unaligned ranges to the SQL path."""
        start_ms = max(start_ms, self.watermark_ms)
        end_ms = min(end_ms, self.advanced_ms)
        if end_ms <= start_ms:
            return None
        if start_ms % MINUTE_MS or end_ms % MINUTE_MS:
            raise ValueError("index path requires minute-aligned endpoints")
        lo = (start_ms - self.watermark_ms) // MINUTE_MS
        hi = (end_ms - self.watermark_ms) // MINUTE_MS
        return lo, hi

    def query_count(self, start_ms: int, end_ms: int) -> int:
        s = self._slots(start_ms, end_ms)
        if s is None:
            return 0
        return int(self._cnt_prefix[s[1]] - self._cnt_prefix[s[0]])

    def _no_values(self, lo: int, hi: int) -> bool:
        """No non-NULL value in slots [lo, hi): the min table keeps its
        +inf identity and the max table its −inf one."""
        return self._min.query(lo, hi) > self._max.query(lo, hi)

    def query_sum(self, start_ms: int, end_ms: int) -> float | None:
        """SUM over [start, end) — two array reads (A5); a zero total is
        told apart from an all-NULL range by the min/max tables."""
        s = self._slots(start_ms, end_ms)
        if s is None:
            return None
        cp = self._cnt_prefix
        if cp[s[1]] == cp[s[0]]:  # no rows in range ⇒ Option::None
            return None
        total = int(self._sum_prefix[s[1]] - self._sum_prefix[s[0]])
        if total == 0 and self._no_values(*s):
            return None
        return float(total) / QUANT_SCALE

    def query_min(self, start_ms: int, end_ms: int) -> float | None:
        s = self._slots(start_ms, end_ms)
        if s is None or self._cnt_prefix[s[1]] == self._cnt_prefix[s[0]]:
            return None
        v = float(self._min.query(s[0], s[1]))
        return None if v == np.inf and self._no_values(*s) else v

    def query_max(self, start_ms: int, end_ms: int) -> float | None:
        s = self._slots(start_ms, end_ms)
        if s is None or self._cnt_prefix[s[1]] == self._cnt_prefix[s[0]]:
            return None
        v = float(self._max.query(s[0], s[1]))
        return None if v == -np.inf and self._no_values(*s) else v

    def query_avg(self, start_ms: int, end_ms: int) -> float | None:
        s = self._slots(start_ms, end_ms)
        if s is None:
            return None
        c = int(self._cnt_prefix[s[1]] - self._cnt_prefix[s[0]])
        if not c:
            return None
        total = int(self._sum_prefix[s[1]] - self._sum_prefix[s[0]])
        if total == 0 and self._no_values(*s):
            return None
        return float(total) / float(c) / QUANT_SCALE

    def query_all(self, start_ms: int, end_ms: int) -> dict:
        """uwheel's "all" aggregator: one partial, every lowering."""
        return {
            "sum": self.query_sum(start_ms, end_ms),
            "cnt": self.query_count(start_ms, end_ms),
            "min": self.query_min(start_ms, end_ms),
            "max": self.query_max(start_ms, end_ms),
            "avg": self.query_avg(start_ms, end_ms),
        }

    def landmark(self) -> dict:
        """Aggregate of the full indexed history (A7)."""
        return self.query_all(self.watermark_ms, self.advanced_ms)

    def interval(self, duration_ms: int) -> dict:
        """Aggregate of the trailing window [advanced - d, advanced) (A7)."""
        return self.query_all(self.advanced_ms - duration_ms, self.advanced_ms)

    def size_bytes(self) -> int:
        return int(
            self._sum_prefix.nbytes
            + self._cnt_prefix.nbytes
            + self._min.nbytes()
            + self._max.nbytes()
        )
