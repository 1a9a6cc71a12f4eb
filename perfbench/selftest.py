"""Self-test of the benchmark's checkers.

    python3 perfbench/selftest.py            # negative cases + smoke runs
    python3 perfbench/selftest.py --no-smoke # negative cases only

1. Negative cases: every checker is fed the right answer (it must
   pass) and a perturbed one — one slot off, a swapped top-k pair, a
   dropped duplicate, ... (it must fail).
2. BENCHMARK.json must list the catalogue in metrics.py.
3. A copy of the benchmark without the program must exit non-zero
   within seconds and print no result.
4. Smoke runs: each workload runs end to end on tiny inputs
   (``run.py --smoke``) and must exit 0 with ``correct: true``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:] = [p for p in sys.path if os.path.abspath(p or ".") != HERE]
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

from perfbench import gen, oracle  # noqa: E402
from perfbench.workloads import dashboard_rollups as dash  # noqa: E402

FAILURES: list = []


def expect(name: str, passed: bool, want: bool) -> None:
    ok = passed == want
    print(f"{'ok  ' if ok else 'FAIL'} {name}: checker {'passes' if passed else 'fails'}")
    if not ok:
        FAILURES.append(name)


def negative_cases() -> None:
    ev = gen.events(7, 60_000)
    rows = oracle.Rows(ev.ts_ms, ev.value, gen.WM_MS, gen.ADV_MS, keys=ev.user_id)
    s, e = gen.WM_MS + 3 * gen.HOUR_MS, gen.WM_MS + 40 * gen.HOUR_MS
    m = gen.MINUTE_MS

    # reference_ranges: index answers (exact) and fallback answers (1e-9)
    eq, ans = oracle.scalars_equal, rows.answer
    want = ans("SUM", s, e)
    expect("index SUM, right answer", eq(ans("SUM", s, e), want), True)
    expect("index SUM, one slot off", eq(ans("SUM", s, e + m), want), False)
    expect("index COUNT, one row off", eq(ans("COUNT", s, e) + 1, ans("COUNT", s, e)), False)
    expect("index MAX, one slot short", eq(ans("MAX", s, s + m), ans("MAX", s, e)), False)
    expect("fallback SUM within 1e-9", eq(want * (1 + 1e-12), want, 1e-9), True)
    expect("fallback SUM off by 1e-6", eq(want * (1 + 1e-6), want, 1e-9), False)
    expect("empty range reads None", eq(None, ans("SUM", s, s)), True)

    # dashboard_rollups: one checker per panel kind
    o = rows.ohlc(s, e)
    expect("OHLC, right answer", dash.panel_ok("ohlc", [o], o), True)
    swapped = (o[3], o[1], o[2], o[0])
    expect("OHLC, open and close swapped", dash.panel_ok("ohlc", [swapped], o), False)
    tk = rows.topk(s, e, 5)
    expect("top-k, right answer", dash.panel_ok("topk", tk, tk), True)
    expect("top-k, a swapped pair", dash.panel_ok("topk", [tk[1], tk[0], *tk[2:]], tk), False)
    tied = rows.topk(gen.WM_MS, gen.ADV_MS, 400)
    i = next(
        (k for k in range(len(tied) - 1) if tied[k][1] == tied[k + 1][1]), None
    )
    if i is not None:  # equal counts: the key order is the tie-break
        swapped = tied[:i] + [tied[i + 1], tied[i]] + tied[i + 2 :]
        expect("top-k, tie-break reversed", dash.panel_ok("topk", swapped, tied), False)
    bounds = rows.median_bounds(s, e)
    expect("median, inside the bin", dash.panel_ok("median", [(bounds[0] + 0.5,)], bounds), True)
    expect("median, two bins out", dash.panel_ok("median", [(bounds[1] + 2.0,)], bounds), False)
    want_sum = rows.answer("SUM", s, e)
    expect("SUM panel, one cent off", dash.panel_ok("sum", [(want_sum + 0.01,)], want_sum), False)
    dist = rows.distinct_by_hour(s, e)

    def as_rows(pairs):
        from datetime import datetime, timezone

        return [
            (datetime.fromtimestamp(h / 1000, tz=timezone.utc).replace(tzinfo=None), c)
            for h, c in pairs
        ]

    expect("distinct, right answer", dash.panel_ok("distinct", as_rows(dist), dist), True)
    off = [(dist[0][0], dist[0][1] + 1), *dist[1:]]
    expect("distinct, one hour off by one", dash.panel_ok("distinct", as_rows(off), dist), False)

    # stream_ingest: snapshots against the landed on-time rows
    chunks = gen.stream_chunks(7, 3, 2_000, 10 * m)
    full, short = oracle.Slots(gen.WM_MS, gen.ADV_MS), oracle.Slots(gen.WM_MS, gen.ADV_MS)
    for c in chunks:
        full.add(c.ts_ms[~c.late], c.value[~c.late])
        keep = ~c.late
        keep[np.flatnonzero(keep)[0]] = False  # one on-time row dropped
        short.add(c.ts_ms[keep], c.value[keep])
    a, b = gen.WM_MS, gen.WM_MS + 3 * gen.DAY_MS
    expect(
        "snapshot, one row dropped",
        all(eq(short.answer(g, a, b), full.answer(g, a, b)) for g in ("SUM", "COUNT")),
        False,
    )
    expect(
        "late rows are behind the watermark",
        all((c.ts_ms[c.late] < c.ts_ms[~c.late].min()).all() for c in chunks[1:]),
        True,
    )

    # hybrid_retrieval: dedup, BM25, RRF
    ids = np.arange(6)
    n_chars = np.array([10, 12, 12, 9, 30, 5])
    clusters = [[0, 1, 2], [3, 4]]
    want_d = oracle.dedup_expected(ids, n_chars, clusters)
    expect(
        "dedup, canonical is the longest then lowest id",
        want_d[1] == (0, 1, 1) and want_d[2] == (0, 1, 0),
        True,
    )
    dropped = oracle.dedup_expected(ids, n_chars, [[0, 1], [3, 4]])
    expect("dedup, a dropped duplicate", dropped == want_d, False)
    from perfbench.workloads.hybrid_retrieval import dedup_diff

    expect("dedup check, right keep list", dedup_diff(want_d, want_d, clusters) == (0, 0), True)
    lost = {**want_d, 2: (2, 2, 1)}  # one duplicate no longer found
    expect("dedup check, a dropped duplicate", dedup_diff(lost, want_d, clusters)[0] == 0, False)
    merged = {**want_d, 5: (3, 4, 0)}  # an unrelated document merged in
    expect("dedup check, a false merge counted", dedup_diff(merged, want_d, clusters) == (0, 1), True)
    texts = ["a b c", "a a d", "b c d e", "c c c", "e f"]
    bm = oracle.bm25_topk(texts, list(range(5)), ("a", "c"), 3)
    expect("BM25, swapped pair", [bm[1], bm[0], bm[2]] == bm, False)
    fused = oracle.rrf([1, 2, 3], [3, 4], 3)
    expect("RRF, right lists", fused == [(3, 32266), (1, 16393), (2, 16129)], True)
    expect("RRF, off-by-one rank", oracle.rrf([1, 2, 3], [4, 3], 3) == fused, False)


def catalogue() -> None:
    """BENCHMARK.json must list exactly the catalogue in metrics.py."""
    from perfbench.metrics import END_TO_END, LISTED, PER_LAYER

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        b = json.load(fh)
    expect(
        "BENCHMARK.json matches metrics.py",
        [w["name"] for w in b["workloads"]] == list(LISTED)
        and [tuple(m.values()) for m in b["end_to_end"]] == [tuple(m) for m in END_TO_END]
        and [tuple(m.values()) for m in b["per_layer"]] == [tuple(m) for m in PER_LAYER],
        True,
    )


def run_json(args: list, cwd: str, timeout: float):
    p = subprocess.run(
        ["python3", "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True,
        timeout=timeout,
    )
    lines = p.stdout.strip().splitlines()
    return p.returncode, (json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None), p


def smoke_runs() -> None:
    for wl in ("reference_ranges", "dashboard_rollups", "stream_ingest", "hybrid_retrieval"):
        for trace in ("0", "1"):
            t0 = time.time()
            rc, out, p = run_json(
                ["--workload", wl, "--seed", "3", "--seconds", "2", "--trace", trace, "--smoke"],
                ROOT, 900,
            )
            ok = rc == 0 and out is not None and out["correct"] and out["failed"] == 0
            print(f"{'ok  ' if ok else 'FAIL'} smoke {wl} trace={trace} ({time.time() - t0:.0f} s)")
            if not ok:
                print(p.stdout[-2000:], p.stderr[-4000:])
                FAILURES.append(f"smoke {wl} trace={trace}")


def bare_directory() -> None:
    bare = os.path.join(HERE, ".cache", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(
        HERE,
        os.path.join(bare, "perfbench"),
        ignore=shutil.ignore_patterns(".cache", ".out", "__pycache__"),
    )
    t0 = time.time()
    args = ["--workload", "reference_ranges", "--seed", "1", "--seconds", "10"]
    rc, out, _ = run_json(args, bare, 60)
    ok = rc != 0 and out is None and time.time() - t0 < 30
    print(f"{'ok  ' if ok else 'FAIL'} without the program: exit {rc} in {time.time() - t0:.1f} s")
    if not ok:
        FAILURES.append("bare directory")
    shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    negative_cases()
    catalogue()
    bare_directory()
    if "--no-smoke" not in sys.argv:
        smoke_runs()
    print("self-test", "FAILED: " + ", ".join(FAILURES) if FAILURES else "passed")
    sys.exit(1 if FAILURES else 0)
