"""Round-13 optimization pins: the map-side Arrow kernels that replaced
relational chains must stay bit-identical to the relational math they
replaced (Lloyd update sums, brute-force cosine top-k, the shared ADC
scan, and the driver-folded heavy-hitter serving path)."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

import uwheel_datafusion_spark.operators.similarity as sim


@pytest.fixture(scope="module")
def tiny_vecs(spark):
    """24 deterministic 8-dim vectors (ints disguised as floats so the
    quantization is exact and tie cases actually occur)."""
    rows = []
    for i in range(24):
        rows.append((i, [float((i * 7 + j * 3) % 5 - 2) for j in range(8)]))
    # a duplicate pair → distance ties exercise the tie-break paths
    rows.append((24, rows[3][1]))
    rows.append((25, rows[3][1]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _relational_cell_sums(qv, centroids):
    """The pre-r13 update chain: assignment → posexplode → groupBy
    (the assign kernel passes qvec through, so no self-join) — kept
    here as the equivalence reference."""
    assigned = sim._assign_cells_passthrough(qv, centroids)
    return {
        (r["cell"], r["pos"]): (r["s"], r["c"])
        for r in (
            assigned.select("cell", F.posexplode("qvec").alias("pos", "comp"))
            .groupBy("cell", "pos")
            .agg(F.sum("comp").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        )
    }


def test_cell_update_sums_match_relational_fold(spark, tiny_vecs):
    qv = sim._quantized(tiny_vecs, "embedding").select("vec_id", "qvec")
    init = [list(r["qvec"]) for r in qv.orderBy("vec_id").limit(3).collect()]
    got = {
        (r["cell"], r["pos"]): (r["s"], r["c"])
        for r in sim._cell_update_sums(qv, init)
    }
    assert got == _relational_cell_sums(qv, init)


def test_pq_update_sums_match_relational_fold(spark, tiny_vecs):
    dim, m, k = 8, 4, 3
    qv = sim._quantized(tiny_vecs, "embedding").select("vec_id", "qvec")
    geom = sim._pq_geometry(dim, m)
    init_rows = qv.orderBy("vec_id").limit(k).collect()
    books = [
        [list(r["qvec"])[lo - 1 : lo - 1 + w] for r in init_rows]
        for (lo, w) in geom
    ]
    got = {
        (r["sub"], r["cid"], r["pos"]): (r["s"], r["c"])
        for r in sim._pq_update_sums(qv, books, dim, m)
    }
    # reference: the old m-jobs chain — encode, join back, explode each
    # subspace slice
    assigned = sim._pq_assign_codes_pandas(qv, books, dim, m).join(
        qv, "vec_id"
    )
    want = {}
    for s, (lo, w) in enumerate(geom):
        for r in (
            assigned.select(
                F.col(f"code_{s}").alias("cid"),
                F.posexplode(F.expr(f"slice(qvec, {lo}, {w})")).alias(
                    "pos", "comp"
                ),
            )
            .groupBy("cid", "pos")
            .agg(F.sum("comp").alias("s"), F.count(F.lit(1)).alias("c"))
            .collect()
        ):
            want[(s, r["cid"], r["pos"])] = (r["s"], r["c"])
    assert got == want


def test_brute_cosine_topk_matches_relational(spark, tiny_vecs):
    """The Arrow matmul + task-local-prefilter path must equal the old
    broadcast-join + full window formulation, including float bits and
    tie-breaks (duplicate vectors present in the fixture)."""
    qids = (0, 3, 24)  # 3, 24, 25 are identical vectors → cosine ties
    got = sorted(
        tuple(r) for r in sim.knn_brute_force(tiny_vecs, qids, k=4).collect()
    )
    qv = sim._quantized(tiny_vecs, "embedding", drop_zero=True)
    queries = qv.filter(F.col("vec_id").isin(*qids)).select(
        F.col("vec_id").alias("query_id"),
        F.col("qvec").alias("q_qvec"),
        F.col("qnorm").alias("q_qnorm"),
    )
    from uwheel_datafusion_spark.functions.dialect import SPARK as D

    cos = F.expr(D.cosine_q(D.dot_q("q_qvec", "qvec"), "q_qnorm", "qnorm"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    want = sorted(
        tuple(r)
        for r in (
            qv.join(F.broadcast(queries), F.col("vec_id") != F.col("query_id"))
            .withColumn("cosine", cos)
            .select(
                "query_id", F.col("vec_id").alias("neighbor_id"), "cosine"
            )
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 4)
            .collect()
        )
    )
    assert got == want


def test_adc_scan_topk_matches_relational(spark, tiny_vecs):
    """_adc_scan_topk (flat and cell-keyed) vs the element_at/broadcast
    LUT formulation it replaced."""
    pq = sim.pq_build_wide(tiny_vecs, m=4, k=3, dim=8)
    qids = (1, 3, 24)
    got = sorted(
        tuple(r)
        for r in sim.knn_pq_adc_wide(pq, tiny_vecs, qids, topk=4).collect()
    )
    # relational reference
    import numpy as np

    geom = sim._pq_geometry(8, 4)
    mats = [np.asarray(b, dtype=np.int64) for b in pq.books]
    norms = [(c * c).sum(axis=1) for c in mats]
    qrows = (
        sim._quantized(tiny_vecs.filter(F.col("vec_id").isin(*qids)), "embedding")
        .select("vec_id", "qvec")
        .collect()
    )
    lut_rows = []
    for r in qrows:
        x = np.asarray(r["qvec"], dtype=np.int64)
        luts = []
        for s, (lo, w_) in enumerate(geom):
            sub = x[lo - 1 : lo - 1 + w_]
            luts.append(
                [int(v) for v in (sub * sub).sum() + norms[s] - 2 * (mats[s] @ sub)]
            )
        lut_rows.append((int(r["vec_id"]), *luts))
    lut_frame = spark.createDataFrame(
        lut_rows,
        "query_id long, " + ", ".join(f"lut_{s} array<long>" for s in range(4)),
    )
    adc = sum(
        F.element_at(f"lut_{s}", (F.col(f"code_{s}") + 1).cast("int"))
        for s in range(4)
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    want = sorted(
        tuple(r)
        for r in (
            pq.codes.join(
                F.broadcast(lut_frame), F.col("vec_id") != F.col("query_id")
            )
            .select(
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                adc.cast("long").alias("adc_dist"),
            )
            .withColumn("rnk", F.row_number().over(w).cast("long"))
            .filter(F.col("rnk") <= 4)
            .collect()
        )
    )
    assert got == want
    pq.codes.unpersist()


def test_minlabel_fused_convergence_deep_chain(spark):
    """The fused changed-count (min < previous, computed in the same
    aggregation) must still walk a diameter-64 chain to the fixpoint
    and label every node with the chain minimum."""
    import uwheel_datafusion_spark.operators.dedup as dd

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "doc_a long, doc_b long"
    )
    rows = sorted(
        tuple(r)
        for r in dd.connected_components(chain, max_iter=80).collect()
    )
    assert rows == [(i, 0) for i in range(65)]
    with pytest.raises(RuntimeError):
        dd.connected_components(chain, max_iter=5)
