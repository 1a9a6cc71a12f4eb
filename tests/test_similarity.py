"""Similarity-search quality guards (beyond exact-parity gates):
hyperplane LSH must stay a true subset of the exact pair join (precision
1 by construction) with usable recall for the configured (L, b)."""

import pytest

from uwheel_datafusion_spark.operators import similarity as sim
from uwheel_datafusion_spark.sources.registry import load_table


def test_hyperplane_lsh_precision_and_recall(spark, sf_correctness):
    emb = load_table(spark, sf_correctness, "embeddings")
    lsh = {(r.vec_a, r.vec_b) for r in sim.hyperplane_lsh_pairs(emb, 0.45).collect()}
    exact = {
        (r.vec_a, r.vec_b) for r in sim.cosine_pair_dedup(emb, 0.45).collect()
    }
    assert lsh <= exact  # verification step ⇒ precision 1
    assert exact, "fixture should contain near-dup pairs"
    recall = len(lsh & exact) / len(exact)
    # L=8, b=4 at cosine 0.45 ⇒ theoretical recall ≈ 0.79 for pairs at
    # the threshold (higher for closer pairs); guard well below that
    assert recall >= 0.5, f"LSH recall degraded: {recall:.2f}"


def test_plane_components_match_sql_hash32():
    """The inlined literal planes must equal what the per-row SQL
    expression hash32(concat('plane{t}_{j}_', i)) % 2001 - 1000 yields
    — the literals are an optimization, not a semantics change."""
    import duckdb

    from uwheel_datafusion_spark.functions.dialect import DUCK

    con = duckdb.connect()
    for t, j in ((0, 0), (3, 2), (7, 3)):
        h = DUCK.hash32(f"concat('plane{t}_{j}_', i)")
        expr = DUCK.transform(DUCK.seq1("7"), "i", f"({h} % 2001) - 1000")
        sql_vals = list(con.execute(f"SELECT {expr}").fetchone()[0])
        assert sql_vals == sim._plane_components(t, j, 7), (t, j)


def test_kmeans_tdiv_matches_sql_integer_division():
    """Python fold must truncate toward zero like Spark `div` and
    DuckDB `//` (Python's // floors — differs on negatives)."""
    import duckdb

    con = duckdb.connect()
    for a, b in ((-7, 2), (7, 2), (-8, 4), (-9, 4), (1, 3), (-1, 3)):
        assert sim._tdiv(a, b) == con.execute(f"SELECT {a} // {b}").fetchone()[0]
    # the oracle Lloyd update divides SUM(BIGINT) (= HUGEINT) by
    # COUNT(*): HUGEINT // must ALSO truncate toward zero for corpora
    # with negative embedding components, or the oracle would drift
    # from _tdiv/Spark-div by 1 on every negative-sum cluster
    for a, b in ((-7, 2), (-9, 4), (-1, 3)):
        got = con.execute(
            f"SELECT s // c FROM (SELECT SUM(x) AS s, COUNT(*) AS c "
            f"FROM (VALUES ({a}), (0)) t(x) WHERE x <> 0 OR {b} = 2) q"
        ).fetchone()
        hug = con.execute(
            f"SELECT s // {b} FROM (SELECT SUM(x) AS s "
            f"FROM (VALUES ({a})) t(x)) q"
        ).fetchone()[0]
        assert hug == sim._tdiv(a, b), (a, b, hug)


def test_kmeans_assignment_is_map_only(spark, sf_correctness):
    """The assignment pass must not shuffle: the frozen centroids ride
    the Arrow argmin kernel's closure, so the final assignment is one
    map-only MapInPandas pass — no aggregate, window or join."""
    df = sim.kmeans_assignments(
        load_table(spark, sf_correctness, "embeddings"), k=4, n_iter=2
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    # no aggregate/window/join in the serving pass
    for op in ("HashAggregate", "SortAggregate", "Window", "Join"):
        assert op not in plan, op


def test_kmeans_rejects_bad_k(spark, sf_smoke):
    import pytest as _pt

    with _pt.raises(ValueError):
        sim.kmeans_assignments(load_table(spark, sf_smoke, "embeddings"), k=1)


def test_one_shots_run_past_sixteen_cells(spark, sf_smoke):
    """The one-shots take any k / n_cells ≥ 2 (only the DuckDB
    oracles pack dist·16 + cid): at 17, every vector gets one of the
    17 clusters, and a full 17-cell probe returns exactly the
    brute-force top-k."""
    emb = load_table(spark, sf_smoke, "embeddings")
    km = sim.kmeans_assignments(emb, k=17).collect()
    assert len(km) == emb.count()
    assert {r["cluster"] for r in km} <= set(range(17))
    assert max(r["cluster"] for r in km) == 16

    qids = (0, 1, 2)
    want = sorted(map(tuple, sim.knn_brute_force(emb, qids, k=5).collect()))
    got = sorted(
        map(
            tuple,
            sim.ann_ivf_multiprobe_topk(
                emb, qids, k=5, nprobe=17, n_cells=17
            ).collect(),
        )
    )
    assert got == want and len(got) == 15


def test_null_embedding_rows_match_oracles(spark, sf_smoke, tmp_path):
    """A NULL embedding (vec_id 30 of a 40-vector frame) gets NULL
    cluster/sq_dist from kmeans_assignments and NULL codes from
    pq_encode — the rows the DuckDB oracles emit — instead of being
    dropped or crashing the PQ assign kernel."""
    import duckdb
    from pyspark.sql import functions as F

    from tests.driver_sim import compare

    path = str(tmp_path / "emb_null")
    (
        load_table(spark, sf_smoke, "embeddings")
        .filter("vec_id < 40")
        .withColumn(
            "embedding",
            F.when(F.col("vec_id") != 30, F.col("embedding")),
        )
        .coalesce(1)
        .write.parquet(path)
    )
    emb = spark.read.parquet(path)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'"
    )

    km = sim.kmeans_assignments(emb, k=4)
    ok, msg = compare(km, con, sim.kmeans_assignments_oracle(k=4))
    assert ok, msg
    assert tuple(km.filter("vec_id = 30").collect()[0]) == (30, None, None)

    codes = sim.pq_encode(emb)
    ok, msg = compare(codes, con, sim.pq_encode_oracle())
    assert ok, msg
    null_row = codes.filter("vec_id = 30").collect()[0]
    assert all(null_row[f"code_{s}"] is None for s in range(sim.PQ_M))

    # the build at the embedding_pq_encode_wide gate's shape
    wide = sim.pq_build_wide(emb, m=4, k=8)
    ok, msg = compare(wide.codes, con, sim.pq_encode_oracle(m=4, k=8))
    assert ok, msg
    wide.codes.unpersist()


@pytest.mark.parametrize("rotate", [False, True])
def test_served_cells_follow_index_cells(spark, sf_smoke, rotate):
    """The cell contract of the served tier: for the rows an
    ivf_build_wide index holds, ivf_payload_frame (and, for the plain
    index, the streamed cells_rows_stream) assigns exactly
    ``index.cells``; a row the index does not hold is assigned its
    nearest frozen centroid (FAISS add()), not dropped. The streamed
    assignment takes a bare centroid list, so it has no rotated form."""
    import numpy as np
    from pyspark.sql import functions as F

    from uwheel_datafusion_spark.operators.ann_serving import (
        ivf_payload_frame,
    )
    from uwheel_datafusion_spark.streaming.ann_stream import (
        cells_rows_stream,
    )

    emb = load_table(spark, sf_smoke, "embeddings")
    indexed = emb.filter(F.col("vec_id") < 400)
    fresh = emb.filter(F.col("vec_id") >= 400)
    idx = sim.ivf_build_wide(indexed, n_cells=8, rotate=rotate)
    want = {tuple(r) for r in idx.cells.collect()}
    assert len(want) == 400

    def cells(df):
        return {(r["vec_id"], r["cell"]) for r in df.collect()}

    assert cells(ivf_payload_frame(idx, indexed)) == want
    if not rotate:
        assert cells(cells_rows_stream(indexed, idx.centroids)) == want

    # rows outside the index: nearest centroid in the index's space,
    # ties toward the lower cell id
    space = (
        sim._rotated_qv(fresh, "embedding", 64)
        if rotate
        else sim._quantized(fresh).select("vec_id", "qvec")
    )
    cmat = np.asarray(idx.centroids, dtype=np.int64)
    expect = {
        (r["vec_id"], int(((cmat - np.asarray(r["qvec"])) ** 2).sum(1).argmin()))
        for r in space.collect()
    }
    assert len(expect) == 100
    assert cells(ivf_payload_frame(idx, fresh)) == expect
    if not rotate:
        assert cells(cells_rows_stream(fresh, idx.centroids)) == expect
    idx.cells.unpersist()


def test_streamed_payload_equals_batch_payload(spark, sf_smoke):
    """ann_stream.payload_rows_stream assigns with the batch argmin
    kernel, so for a plain index its rows equal ivf_payload_frame's,
    and a NULL embedding (vec_id 30 of 40) is dropped by both instead
    of failing the streamed kernel."""
    from pyspark.sql import functions as F

    from uwheel_datafusion_spark.operators.ann_serving import (
        ivf_payload_frame,
    )
    from uwheel_datafusion_spark.streaming.ann_stream import (
        payload_rows_stream,
    )

    emb = (
        load_table(spark, sf_smoke, "embeddings")
        .filter("vec_id < 40")
        .withColumn(
            "embedding", F.when(F.col("vec_id") != 30, F.col("embedding"))
        )
    )
    idx = sim.ivf_build_wide(emb, n_cells=4)

    def rows(df):
        return sorted(
            (r["cell"], r["vec_id"], tuple(r["qvec"]), r["qnorm"])
            for r in df.collect()
        )

    streamed = rows(payload_rows_stream(emb, idx.centroids))
    assert streamed == rows(ivf_payload_frame(idx, emb))
    assert len(streamed) == 39 and 30 not in {r[1] for r in streamed}
    idx.cells.unpersist()


def test_zero_and_null_embeddings_excluded_from_cosine_ops(spark):
    """A zero-norm or null embedding would make cosine 0/0 = NaN, and
    Spark ranks NaN above every real number — one bad row would win
    every top-k. All cosine ops must drop such rows; kmeans keeps them
    (squared-L2 needs no norm)."""
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.9, 0.1], 0),
        (3, [0.0, 0.0], 1),   # zero vector
        (4, None, 1),          # null vector
        (5, [0.5, 0.5], 1),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    knn = sim.knn_brute_force(df, query_ids=(1,), k=10).collect()
    ids = {r["neighbor_id"] for r in knn}
    assert ids == {2, 5}
    assert all(r["cosine"] == r["cosine"] for r in knn)  # no NaN

    pairs = sim.cosine_pair_dedup(df, threshold=-1.0).collect()
    touched = {v for r in pairs for v in (r["vec_a"], r["vec_b"])}
    assert touched == {1, 2, 5}

    lsh = sim.hyperplane_lsh_pairs(df, threshold=-1.0, dim=2).collect()
    touched = {v for r in lsh for v in (r["vec_a"], r["vec_b"])}
    assert 3 not in touched and 4 not in touched

    km = sim.kmeans_assignments(df.filter("embedding IS NOT NULL"), k=2).collect()
    assert {r["vec_id"] for r in km} == {1, 2, 3, 5}  # zero vec clustered


def test_dedup_ops_tolerate_null_and_empty_text(spark):
    """Null/empty text must not crash any dedup stage; null texts get
    the sentinel minhash signature (all-PRIME) and group with each
    other — at real scale the bucket cap (dedup_minhash_lsh_capped)
    keeps such degenerate buckets from exploding the pair join."""
    from uwheel_datafusion_spark.operators import dedup as dd

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, None), (3, ""), (4, None),
         (5, "the quick brown fox")],
        "doc_id long, text string",
    )
    groups = dd.exact_dup_groups(docs).collect()
    assert any(r["n_copies"] >= 2 for r in groups)  # docs 1 & 5
    sigs = {r["doc_id"]: r["mh0"] for r in dd.minhash_signatures(docs).collect()}
    assert sigs[2] == sigs[4]  # null docs share the sentinel signature
    cands = dd.minhash_lsh_candidates(docs).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in cands} >= {(1, 5), (2, 4)}
    capped = dd.minhash_lsh_candidates(docs, max_bucket_size=1).collect()
    assert capped == []  # cap drops every degenerate bucket
    fps = dd.simhash_fingerprints(docs).collect()
    assert len(fps) == 5  # no crash on null/empty


def test_connected_components_chain_and_singletons(spark):
    """A chain A-B, B-C must collapse into one component labeled by its
    min id; disjoint pairs stay separate; self-loops are harmless."""
    from uwheel_datafusion_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (9, 3)], "doc_a long, doc_b long"
    )
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 9: 1, 5: 5, 6: 5, 7: 7}


def test_connected_components_plan_depth_bounded(spark):
    """The per-round localCheckpoint must truncate lineage: a long
    chain (many propagation rounds) may not grow the final plan — the
    100×-scale guard against driver-side plan blowup. A 33-node chain
    needs ~6 rounds; the checkpointed plan stays the size of ONE round
    regardless (compare against a 3-node/1-round baseline)."""
    from uwheel_datafusion_spark.operators.dedup import connected_components

    def plan_len(n_chain: int) -> tuple[int, dict]:
        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, n_chain)], "doc_a long, doc_b long"
        )
        out = connected_components(pairs)
        labels = {r["doc_id"]: r["component"] for r in out.collect()}
        return len(out._jdf.queryExecution().optimizedPlan().toString()), labels

    short_len, short_labels = plan_len(3)
    long_len, long_labels = plan_len(33)
    assert long_labels == {i: 1 for i in range(1, 34)}
    assert short_labels == {1: 1, 2: 1, 3: 1}
    # bounded: the deep run's plan is the same shape as the shallow one
    # (checkpoint truncation), not 2^rounds bigger
    assert long_len <= short_len * 2


def test_connected_components_star_matches_propagation(spark):
    """Large-star/small-star must produce EXACTLY the min-label
    propagation's answer on chains, disjoint pairs, self-loops, and a
    random graph — and converge in far fewer rounds on a deep chain."""
    from uwheel_datafusion_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    cases = [
        [(1, 2), (2, 3), (5, 6), (7, 7), (9, 3)],
    ]
    import random

    rng = random.Random(11)
    cases.append(
        [(rng.randrange(50), rng.randrange(50)) for _ in range(60)]
    )
    for edges in cases:
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        want = {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components_star(pairs).collect()
        }
        assert got == want

    # deep chain: diameter 64 exceeds the propagation round budget —
    # it must REFUSE (a silent cutoff returned wrong labels before),
    # while the star contraction converges in ~7 rounds and is exact
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 65)], "doc_a long, doc_b long"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=20).collect()
    got = {
        r["doc_id"]: r["component"]
        for r in connected_components_star(chain).collect()
    }
    assert got == {i: 1 for i in range(1, 66)}


def test_quantize_int8_bounds(spark, sf_correctness):
    """int8 codes stay in [-127, 127], reconstruction error per
    component is ≤ q_scale/2, and a zero/degenerate scale yields
    all-zero codes — the guarantees the ANN tiers rely on."""
    from uwheel_datafusion_spark.operators.similarity import quantize_int8
    from uwheel_datafusion_spark.sources.registry import load_table

    vecs = load_table(spark, sf_correctness, "embeddings")
    q = quantize_int8(vecs)
    joined = q.join(vecs, "vec_id").collect()
    assert len(joined) > 0
    for r in joined:
        assert all(-127 <= c <= 127 for c in r["qvec8"])
        if r["q_scale"] == 0:
            assert all(c == 0 for c in r["qvec8"])
            continue
        for x, c in zip(r["embedding"], r["qvec8"]):
            assert abs(float(x) - c * r["q_scale"]) <= r["q_scale"] / 2 + 1e-12


def test_multiprobe_full_probe_equals_brute_force(spark, sf_correctness):
    """nprobe = n_cells searches every cell, so multi-probe IVF must
    return EXACTLY the brute-force top-k (same cosine, same ties) —
    and shrinking nprobe can only shrink per-query recall, never the
    output contract."""
    from uwheel_datafusion_spark.operators.similarity import (
        ann_ivf_multiprobe_topk,
        knn_brute_force,
    )
    from uwheel_datafusion_spark.sources.registry import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    qids = tuple(range(8))
    want = sorted(
        map(tuple, knn_brute_force(emb, qids, k=5).collect())
    )
    got = sorted(
        map(
            tuple,
            ann_ivf_multiprobe_topk(
                emb, qids, k=5, nprobe=4, n_cells=4
            ).collect(),
        )
    )
    assert got == want and len(got) > 0

    # recall is monotone in nprobe (set containment per query)
    def neigh(nprobe):
        out = {}
        for r in ann_ivf_multiprobe_topk(
            emb, qids, k=5, nprobe=nprobe, n_cells=4
        ).collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    want_sets = {}
    for r in want:
        want_sets.setdefault(r[0], set()).add(r[1])
    n1, n2 = neigh(1), neigh(2)
    hits1 = sum(len(n1.get(q, set()) & want_sets[q]) for q in want_sets)
    hits2 = sum(len(n2.get(q, set()) & want_sets[q]) for q in want_sets)
    assert hits1 <= hits2


def test_pq_codes_bounded_and_encode_is_map_only(spark, sf_correctness):
    """PQ invariants: one row per vector, every code in [0, k); the
    encode pass is map-only (codebooks ride the Arrow kernel's closure
    — a join or extra shuffle in the final pass would not survive
    100 TB)."""
    emb = load_table(spark, sf_correctness, "embeddings")
    codes = sim.pq_encode(emb, m=4, k=8, n_iter=2)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows:
        for s in range(4):
            assert 0 <= r[f"code_{s}"] < 8
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_pq_adc_reproduces_subvector_exact_distance(spark):
    """When every distinct subvector IS a codebook centroid (corpus of
    k=4 distinct vectors, enough iterations), the ADC distance equals
    the exact quantized squared-L2 distance — the approximation error
    is EXACTLY the codebook residual, nothing else."""
    import itertools

    base = [
        [1.0] * 8,
        [-1.0] * 8,
        [1.0] * 4 + [-1.0] * 4,
        [0.5] * 8,
    ]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in sim.knn_pq_adc(
            df, (0, 1, 2, 3), topk=3, m=2, k=4, n_iter=4, dim=8
        ).collect()
    }
    # exact quantized distances between the 8-dim int vectors
    q = [[round(x * sim.Q_SCALE) for x in v] for v in base]
    for (a, b), d in got.items():
        want = sum((xa - xb) ** 2 for xa, xb in zip(q[a], q[b]))
        assert d == want, ((a, b), d, want)


def test_ivfpq_full_probe_equals_pq_adc(spark, sf_correctness):
    """With nprobe = n_cells the IVF half degenerates to a full scan,
    so IVF-PQ must return exactly knn_pq_adc's ranking — the
    composition's correctness anchor (the multiprobe twin of
    test's nprobe=n_cells ≡ brute force pin, on the PQ metric)."""
    import uwheel_datafusion_spark.operators.similarity as sim
    from uwheel_datafusion_spark.sources.registry import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    qids = (0, 1, 2)
    full = {
        (r.query_id, r.rnk): (r.neighbor_id, r.adc_dist)
        for r in sim.knn_pq_adc(emb, qids, topk=5).collect()
    }
    ivfpq = {
        (r.query_id, r.rnk): (r.neighbor_id, r.adc_dist)
        for r in sim.ann_ivfpq_topk(
            emb, qids, topk=5, nprobe=4, n_cells=4
        ).collect()
    }
    assert ivfpq == full


def test_wide_ivf_beyond_literal_cap_full_probe_exact(spark, sf_correctness):
    """n_cells = 64 — four times past the 16-cell mord packing of the
    one-shot oracles: the build must self-consistently assign every
    vector to its nearest centroid, and a FULL probe (nprobe =
    n_cells) must equal the exact brute-force top-k."""
    import numpy as np

    import uwheel_datafusion_spark.operators.similarity as sim
    from uwheel_datafusion_spark.sources.registry import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    idx = sim.ivf_build_wide(emb, n_cells=64)
    assert len(idx.centroids) == 64

    # self-consistency on a sample: assigned cell IS the argmin
    cmat = np.asarray(idx.centroids, dtype=np.int64)
    cnorm = (cmat * cmat).sum(axis=1)
    qv = sim._quantized(emb).select("vec_id", "qvec")
    sample = {r["vec_id"]: np.asarray(r["qvec"], dtype=np.int64)
              for r in qv.limit(50).collect()}
    cells = dict(idx.cells.filter(
        idx.cells.vec_id.isin(*sample)).collect())
    for vid, x in sample.items():
        d2 = (x * x).sum() + cnorm - 2 * (cmat @ x)
        assert cells[vid] == int(d2.argmin()), vid

    qids = (0, 1, 2)
    got = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in sim.ivf_search_wide(
            idx, emb, qids, k=5, nprobe=64
        ).collect()
    }
    want = {
        (r.query_id, r.rnk): r.neighbor_id
        for r in sim.knn_brute_force(emb, qids, k=5).collect()
    }
    assert got == want
    idx.cells.unpersist()


def test_wide_pq_byte_codes_beyond_literal_cap(spark, sf_correctness):
    """k=256 byte codes (16x past KMEANS_ENC): codes must be
    self-consistent argmins against the learned codebooks, and ADC of
    a query against ITSELF must rank the query's own code distance 0
    when the query vector coincides with a codebook entry's argmin."""
    import numpy as np

    import uwheel_datafusion_spark.operators.similarity as sim
    from uwheel_datafusion_spark.sources.registry import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    idx = sim.pq_build_wide(emb, m=8, k=256)
    assert all(len(b) == 256 for b in idx.books)

    geom = sim._pq_geometry(idx.dim, idx.m)
    mats = [np.asarray(b, dtype=np.int64) for b in idx.books]
    qv = sim._quantized(emb).select("vec_id", "qvec")
    sample = {r["vec_id"]: np.asarray(r["qvec"], dtype=np.int64)
              for r in qv.limit(30).collect()}
    codes = {r["vec_id"]: r for r in idx.codes.filter(
        idx.codes.vec_id.isin(*sample)).collect()}
    for vid, x in sample.items():
        for s, (lo, w) in enumerate(geom):
            sub = x[lo - 1: lo - 1 + w]
            d2 = ((mats[s] - sub) ** 2).sum(axis=1)
            assert codes[vid][f"code_{s}"] == int(d2.argmin()), (vid, s)
    idx.codes.unpersist()


def test_wide_ivfpq_full_probe_equals_wide_adc(spark, sf_correctness):
    """nprobe = n_cells ⇒ wide IVF-PQ degenerates to the full wide ADC
    scan — the composition anchor at wide shapes (64 cells ×
    256-centroid byte codes)."""
    import uwheel_datafusion_spark.operators.similarity as sim
    from uwheel_datafusion_spark.sources.registry import load_table

    emb = load_table(spark, sf_correctness, "embeddings")
    ivf = sim.ivf_build_wide(emb, n_cells=64)
    pq = sim.pq_build_wide(emb, m=8, k=256)
    qids = (0, 1, 2)
    full = {
        (r.query_id, r.rnk): (r.neighbor_id, r.adc_dist)
        for r in sim.knn_pq_adc_wide(pq, emb, qids, topk=5).collect()
    }
    comp = {
        (r.query_id, r.rnk): (r.neighbor_id, r.adc_dist)
        for r in sim.ivfpq_search_wide(
            ivf, pq, emb, qids, topk=5, nprobe=64
        ).collect()
    }
    assert comp == full
    ivf.cells.unpersist()
    pq.codes.unpersist()


def test_semantic_dedup_fence_and_keep_lowest(spark, sf_correctness):
    """SemDeDup invariants: (a) a degenerate clustering (mega-cell)
    is refused, not silently joined quadratically; (b) within any
    near-dup relation the LOWEST vec_id always survives; (c) dropped
    rows really have a kept lower-id within-cell neighbor >= tau."""
    import pytest as _pt

    emb = load_table(spark, sf_correctness, "embeddings")
    with _pt.raises(ValueError, match="more cells"):
        sim.semantic_dedup(emb, max_cell_rows=10)

    out = sim.semantic_dedup(emb).collect()
    kept = {r.vec_id for r in out if r.kept == 1}
    cell = {r.vec_id: r.cell for r in out}
    dropped = [r.vec_id for r in out if r.kept == 0]
    assert dropped, "fixture should contain semantic near-dups"
    qv = {
        r.vec_id: (list(r.qvec), r.qnorm)
        for r in sim._quantized(emb, drop_zero=True)
        .select("vec_id", "qvec", "qnorm")
        .collect()
    }

    def cos(a, b):
        (va, na), (vb, nb) = qv[a], qv[b]
        return sum(x * y for x, y in zip(va, vb)) / (na * nb) ** 0.5

    for d in dropped:
        lower = [
            v for v in kept | set(dropped)
            if v < d and cell[v] == cell[d] and cos(v, d) >= 0.45
        ]
        assert lower, f"vec {d} dropped without a lower near neighbor"
    # minimum id of every cell is always kept (no lower id exists)
    for c in set(cell.values()):
        members = [v for v in cell if cell[v] == c]
        assert min(members) in kept


def test_ivfpq_rerank_full_candidates_equals_exact_l2(spark, sf_correctness):
    """The refine-stage anchor: with nprobe = n_cells (full ADC scan)
    and n_candidates >= corpus size, the two-stage rerank must equal
    the exact quantized squared-L2 top-k — the compressed stage can
    no longer lose the true neighbors, and the exact stage re-ranks
    all of them."""
    import numpy as np

    emb = load_table(spark, sf_correctness, "embeddings")
    n = emb.count()
    ivf = sim.ivf_build_wide(emb, n_cells=4)
    pq = sim.pq_build_wide(emb, m=4, k=16)
    qids = (0, 1, 2)
    got = {
        (r.query_id, r.rnk): (r.neighbor_id, r.exact_dist)
        for r in sim.ivfpq_search_rerank(
            ivf, pq, emb, qids, topk=5, nprobe=4, n_candidates=n
        ).collect()
    }
    # exact L2 reference in the same integer arithmetic
    qv = {
        r["vec_id"]: np.asarray(r["qvec"], dtype=np.int64)
        for r in sim._quantized(emb).select("vec_id", "qvec").collect()
    }
    want = {}
    for q in qids:
        dists = sorted(
            (int(((qv[q] - x) ** 2).sum()), vid)
            for vid, x in qv.items()
            if vid != q
        )
        for rnk, (d, vid) in enumerate(dists[:5], start=1):
            want[(q, rnk)] = (vid, d)
    assert got == want
    ivf.cells.unpersist()


def test_ivfpq_rerank_recall_not_below_adc(spark, sf_correctness):
    """Re-ranking the top-25 ADC candidates by the exact metric must
    not lose recall vs taking the ADC top-5 directly. Truth is the
    exact squared-L2 top-5 — the SAME metric rerank optimizes — so the
    inequality is implied, not a fixture accident (ADVICE r8: against
    a cosine truth it merely happened to hold): any true L2 neighbor
    present in the candidate pool is top-5 by L2 within every superset
    containing it, so rerank recall = |truth ∩ pool| >= ADC recall."""
    import numpy as np

    emb = load_table(spark, sf_correctness, "embeddings")
    ivf = sim.ivf_build_wide(emb, n_cells=8)
    pq = sim.pq_build_wide(emb, m=4, k=16)
    qids = (0, 1, 2)
    qv = {
        r.vec_id: np.asarray(r.qvec, dtype=np.int64)
        for r in sim._quantized(emb).select("vec_id", "qvec").collect()
    }
    truth = {}
    for q in qids:
        dists = sorted(
            (int(((qv[q] - x) ** 2).sum()), vid)
            for vid, x in qv.items()
            if vid != q
        )
        truth[q] = {vid for _, vid in dists[:5]}
    adc = {}
    for r in sim.ivfpq_search_wide(
        ivf, pq, emb, qids, topk=5, nprobe=8
    ).collect():
        adc.setdefault(r.query_id, set()).add(r.neighbor_id)
    rr = {}
    for r in sim.ivfpq_search_rerank(
        ivf, pq, emb, qids, topk=5, nprobe=8, n_candidates=25
    ).collect():
        rr.setdefault(r.query_id, set()).add(r.neighbor_id)
    adc_recall = sum(len(adc[q] & truth[q]) for q in qids)
    rr_recall = sum(len(rr[q] & truth[q]) for q in qids)
    assert rr_recall >= adc_recall
    ivf.cells.unpersist()


def test_hadamard_rotation_is_exact_scaled_isometry():
    """The round-10 OPQ-class rotation's defining identity, exactly in
    int64: HᵀH = dim·I for the Sylvester ±1 matrix, hence
    ‖Hx − Hy‖² = dim·‖x − y‖² for ANY integer vectors — rotated-space
    rankings are true rankings scaled by a constant."""
    import numpy as np

    from uwheel_datafusion_spark.operators.similarity import _had_row

    dim = 64
    H = np.array([_had_row(j, dim) for j in range(dim)], dtype=np.int64)
    assert (H @ H.T == dim * np.eye(dim, dtype=np.int64)).all()
    rng = np.random.default_rng(7)
    for _ in range(20):
        x = rng.integers(-10_000, 10_000, size=dim)
        y = rng.integers(-10_000, 10_000, size=dim)
        lhs = int(((H @ x - H @ y) ** 2).sum())
        rhs = dim * int(((x - y) ** 2).sum())
        assert lhs == rhs


def test_hadamard_spark_duckdb_rotation_parity(spark):
    """The literal ±1 rotation produces identical int64 components on
    both engines AND matches the numpy H the query side uses: Spark's
    _rotated_qv vs H @ qvec (same quantized input, taken FROM the
    Spark path), plus the DuckDB _had_expr evaluated on a literal
    qvec."""
    import duckdb
    import numpy as np

    from uwheel_datafusion_spark.functions.dialect import DUCK
    from uwheel_datafusion_spark.operators.similarity import (
        _had_expr,
        _had_row,
        _quantized,
        _rotated_qv,
    )

    rows = [
        (i, [((i * 31 + j * 7) % 200 - 100) / 50.0 for j in range(64)])
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qvecs = {
        r["vec_id"]: list(r["qvec"])
        for r in _quantized(df, "embedding").select("vec_id", "qvec").collect()
    }
    got = {
        r["vec_id"]: list(r["qvec"])
        for r in _rotated_qv(df, "embedding", 64).collect()
    }
    H = np.array([_had_row(j, 64) for j in range(64)], dtype=np.int64)
    for vid, q in qvecs.items():
        expect = list(map(int, H @ np.array(q, dtype=np.int64)))
        assert got[vid] == expect, vid
    # DuckDB renders the same rotation from the same qvec literal
    q0 = qvecs[0]
    duck_rot = [
        duckdb.sql(
            f"SELECT CAST({_had_expr(DUCK, j, 64)} AS BIGINT) "
            f"FROM (SELECT {q0} AS qvec)"
        ).fetchone()[0]
        for j in range(0, 64, 9)
    ]
    expect0 = list(map(int, H @ np.array(q0, dtype=np.int64)))
    assert duck_rot == [expect0[j] for j in range(0, 64, 9)]
