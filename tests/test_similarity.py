"""ANN operator tests: exact top-k sanity, IVF recall, and the Lloyd
refinement payoff on a planted-cluster fixture (VERDICT r01 item 3).

The fixture is adversarial for seed-only IVF: ids are assigned so the
first-n seed centroids ALL land in one cluster, making cell assignment
of the other clusters noise-driven. Lloyd passes must recover real
cluster structure and lift recall.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_pipline_ibrd_loan_system_spark.operators import similarity
from etl_pipline_ibrd_loan_system_spark.operators.dedup import cosine
from etl_pipline_ibrd_loan_system_spark.operators.similarity import (
    cosine_topk,
    ivf_topk,
    lloyd_iterate,
)

DIMS = 16
N_CLUSTERS = 4
PER_CLUSTER = 30
K = 5


def _clustered(rng, n_queries=8):
    centers = np.zeros((N_CLUSTERS, DIMS))
    for c in range(N_CLUSTERS):
        centers[c, c * 4:(c + 1) * 4] = 1.0  # well-separated
    corpus, queries = [], []
    vid = 0
    for c in range(N_CLUSTERS):  # cluster 0 owns the lowest ids => bad seeds
        for _ in range(PER_CLUSTER):
            v = centers[c] + rng.normal(0, 0.15, DIMS)
            corpus.append((vid, [float(x) for x in v]))
            vid += 1
    for qi in range(n_queries):
        c = qi % N_CLUSTERS
        v = centers[c] + rng.normal(0, 0.15, DIMS)
        queries.append((10_000 + qi, [float(x) for x in v]))
    return corpus, queries


@pytest.fixture(scope="module")
def ann_data(spark):
    rng = np.random.default_rng(7)
    corpus, queries = _clustered(rng)
    cdf = spark.createDataFrame(corpus, "vec_id bigint, embedding array<double>")
    qdf = spark.createDataFrame(queries, "vec_id bigint, embedding array<double>")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(cdf, qdf, "vec_id", "embedding", k=K).collect()
    }
    return cdf, qdf, exact


def _recall(approx_rows, exact) -> float:
    hits = sum((r.query_id, r.neighbor_id) in exact for r in approx_rows)
    return hits / len(exact)


def test_exact_topk_finds_own_cluster(spark, ann_data):
    cdf, qdf, exact = ann_data
    # every exact neighbor of query qi must come from qi's cluster id range
    for q, n in exact:
        assert (q - 10_000) % N_CLUSTERS == n // PER_CLUSTER


def test_lloyd_improves_recall(spark, ann_data):
    cdf, qdf, exact = ann_data
    seed_only = ivf_topk(
        cdf, qdf, "vec_id", "embedding", k=K,
        n_centroids=N_CLUSTERS * 2, nprobe=2, lloyd_iters=0, dims=DIMS,
    ).collect()
    refined = ivf_topk(
        cdf, qdf, "vec_id", "embedding", k=K,
        n_centroids=N_CLUSTERS * 2, nprobe=2, lloyd_iters=2, dims=DIMS,
    ).collect()
    r0, r2 = _recall(seed_only, exact), _recall(refined, exact)
    assert r2 > r0, f"Lloyd did not improve recall: seed={r0} lloyd={r2}"
    assert r2 >= 0.9, f"refined recall too low: {r2}"


def test_lloyd_empty_cell_keeps_previous_centroid(spark):
    """A centroid that captures no vectors must survive a pass unchanged
    (not NULL out) — 2 far seeds, corpus all near seed 0."""
    from pyspark.sql import functions as F

    corpus = [(i, [1.0, 0.0] + [0.0] * (DIMS - 2)) for i in range(5)]
    cdf = spark.createDataFrame(corpus, "vec_id bigint, v array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0] + [0.0] * (DIMS - 2)),
         (1, [-1.0, 0.0] + [0.0] * (DIMS - 2))],
        "cent_id bigint, cw array<double>",
    )
    out = {r.cent_id: r.cw for r in
           lloyd_iterate(cdf, cents, "vec_id", DIMS, iters=1).collect()}
    assert out[1][0] == -1.0  # empty cell: previous centroid kept
    assert out[0][0] > 0  # populated cell: moved to (scaled) member sum


def test_int8_codes_bounded_and_recall(spark, sf_dir):
    """Quantized codes stay in [-127, 127]; int8 top-5 overlaps the
    exact float top-5 substantially (symmetric quantization of
    normalized vectors preserves cosine ordering — the affine per-dim
    variant measured 0.78 recall and was rejected)."""
    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)

    g = similarity.int8_quantize_stats(corpus, "embedding")
    codes = corpus.select(
        similarity._int8_quantize_expr(F.col("embedding"), g).alias("q")
    ).select(
        F.array_min("q").alias("lo"), F.array_max("q").alias("hi")
    ).agg(F.min("lo"), F.max("hi")).first()
    assert codes[0] >= -127 and codes[1] <= 127

    exact = similarity.cosine_topk(corpus, queries, "vec_id", "embedding", k=5)
    quant = similarity.int8_topk(corpus, queries, "vec_id", "embedding", k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    qz = {(r.query_id, r.neighbor_id) for r in quant.collect()}
    recall = len(e & qz) / len(e)
    assert recall >= 0.9, f"int8 recall collapsed: {recall}"


def test_random_projection_is_deterministic_and_sign_balanced(spark):
    """The hash-derived ±1 matrix is a pure function of the salt (two
    builds identical; roughly sign-balanced), and projecting twice gives
    bit-identical vectors — nothing random ships at runtime."""
    from etl_pipline_ibrd_loan_system_spark.operators import similarity

    m1 = similarity.rp_signs(64, 16)
    m2 = similarity.rp_signs(64, 16)
    assert m1 == m2
    flat = [s for row in m1 for s in row]
    assert set(flat) == {1, -1}
    assert 0.35 < flat.count(1) / len(flat) < 0.65
    # different salt -> different matrix (directions are salt-decoupled)
    assert similarity.rp_signs(64, 16, salt="other:") != m1


def test_jl_rerank_recall_against_exact(spark, sf_dir):
    """Shrink-then-verify recall: the 32-dim shortlist keeps >=0.75 of
    the exact top-5 on structureless random vectors (the hardest case —
    cosines concentrate near 0 with spread ~1/sqrt(64) while JL noise is
    ~1/sqrt(32); real embedding corpora have far wider margins).
    Deterministic: the matrix is hash-derived, so this is a fixed number
    (0.80 at sf0.01), not a flaky sample."""
    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)
    exact = similarity.cosine_topk(corpus, queries, "vec_id", "embedding", k=5)
    jl = similarity.rp_shortlist_topk(
        corpus, queries, "vec_id", "embedding", k=5, d_out=32, shortlist=100
    )
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    j = {(r.query_id, r.neighbor_id) for r in jl.collect()}
    recall = len(e & j) / len(e)
    assert recall >= 0.75, f"JL shortlist recall collapsed: {recall}"


def test_random_projection_plan_is_pure_projection(spark, sf_dir):
    """rp_vec is a per-row expression: the plan is Scan -> Project with
    no Exchange and no Python eval node. (The unrolled-expression form
    tripped the JVM 64KB codegen method limit with a logged compile
    ERROR; the HOF fold is compact — same JVM-side evaluation class as
    dedup.cosine, which the whole embedding family builds on.)"""
    import contextlib
    import io

    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    red = similarity.random_project(emb, "vec_id", "embedding", 64, 16)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        red.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_cluster_size_guard(spark):
    """VERDICT r7 item 9: semantic_dedup's in-cluster pair screen is
    quadratic, so an undersized k must fail LOUDLY, not silently run
    C(m,2). A skewed assignment (k=1 forces one giant cluster... use a
    corpus whose vectors all collapse to one centroid with k=4) fires
    the RuntimeWarning; a balanced one stays quiet; the heuristic maps
    n->k as documented."""
    import warnings

    from etl_pipline_ibrd_loan_system_spark.operators.similarity import (
        semantic_dedup,
        suggest_n_centroids,
    )

    assert suggest_n_centroids(1_000_000, target_cluster_size=1024) == 977
    assert suggest_n_centroids(10, target_cluster_size=1024) == 1
    assert suggest_n_centroids(0) == 1

    # 64 identical vectors collapse into one cluster: with k=16
    # biggest == n = 64 > 8 * (n/k) = 32 -> the guard must fire
    rows = [(i, [1.0, 0.0, 0.5]) for i in range(64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        semantic_dedup(df, "vec_id", "embedding", n_centroids=16).count()
    msgs = [str(w.message) for w in caught if w.category is RuntimeWarning]
    assert any("quadratic in cluster size" in m for m in msgs), msgs

    # guard off -> silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        semantic_dedup(
            df, "vec_id", "embedding", n_centroids=16,
            cluster_size_warn_factor=None,
        ).count()
    assert not [w for w in caught if w.category is RuntimeWarning]


def test_sm8_recall_bounds_and_grain(spark, sf_dir):
    """Recall@5 is n_hits/n_exact per query, bounded [0,1], one row per
    held-out query vector; hits can never exceed the exact list."""
    import __spark_entry__ as entry

    rows = entry.queries()["sm8_ann_recall"](spark, sf_dir).collect()
    assert len(rows) == 10  # the 10 held-out query vectors
    for r in rows:
        assert r.n_exact == 5
        assert 0 <= r.n_hits <= r.n_exact
        assert r.recall == r.n_hits / r.n_exact


def test_sm9_pairs_are_mutual_top1(spark, sf_dir):
    """Every aligned pair must be each side's top-1 of the other
    population, re-derived independently via cosine_topk(k=1)."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators import similarity

    out = entry.queries()["sm9_mutual_top1_alignment"](spark, sf_dir).collect()
    assert out  # the corpus aligns at least one pair at every SF
    emb = load_table(spark, sf_dir, "embeddings")
    a, b = emb.where(F.col("label") == 0), emb.where(F.col("label") == 1)
    a2b = {
        r.query_id: r.neighbor_id
        for r in similarity.cosine_topk(b, a, "vec_id", "embedding", k=1).collect()
    }
    b2a = {
        r.query_id: r.neighbor_id
        for r in similarity.cosine_topk(a, b, "vec_id", "embedding", k=1).collect()
    }
    for r in out:
        assert a2b[r.src_id] == r.dst_id
        assert b2a[r.dst_id] == r.src_id
    # completeness: every mutual handshake is in the output
    mutual = {(s, d) for s, d in a2b.items() if b2a.get(d) == s}
    assert {(r.src_id, r.dst_id) for r in out} == mutual


def test_sm10_negatives_cross_label_and_ranked(spark, sf_dir):
    """Hard negatives never share the anchor's label; ranks are 1..3
    with non-increasing cosine per anchor."""
    import __spark_entry__ as entry

    rows = entry.queries()["sm10_hard_negatives"](spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        assert r.anchor_label != r.neg_label
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos_sim))
    for q, rs in by_q.items():
        rs.sort()
        assert [x[0] for x in rs] == list(range(1, len(rs) + 1))
        sims = [x[1] for x in rs]
        assert all(sims[i] >= sims[i + 1] for i in range(len(sims) - 1))


def test_pq_codes_bounded_and_rerank_recall(spark, sf_dir):
    """PQ codes stay in [0, n_codes) with m_sub rows per vector; the
    ADC+exact-rerank pipeline recovers >= 0.85 of the exact top-5
    (measured 0.92 on this corpus — random embeddings are PQ's worst
    case, no cluster structure to exploit), and the rerank strictly
    dominates raw ADC ranking."""
    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)

    g = similarity.int8_quantize_stats(corpus, "embedding")
    c8 = corpus.select(
        F.col("vec_id"),
        similarity._int8_quantize_expr(F.col("embedding"), g).alias("v8"),
    )
    cb, encoded = similarity.pq_train_encode(
        c8, "vec_id", m_sub=16, n_codes=16, sub=4, lloyd_iters=1
    )
    stats = encoded.agg(
        F.min("code"), F.max("code"), F.min("m"), F.max("m"),
        F.count(F.lit(1)),
    ).first()
    assert stats[0] >= 0 and stats[1] <= 15
    assert stats[2] == 0 and stats[3] == 15
    assert stats[4] == corpus.count() * 16
    assert len(cb) == 16 and all(len(cws) == 16 for cws in cb)
    assert all(len(cw) == 4 for cws in cb for cw in cws)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(
            corpus, queries, "vec_id", "embedding", k=5
        ).collect()
    }
    rerank = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(
            corpus, queries, "vec_id", "embedding", k=5,
            m_sub=16, n_codes=16, dims=64, lloyd_iters=2, shortlist=50,
        ).collect()
    }
    raw = {
        (r.query_id, r.neighbor_id)
        for r in similarity.pq_adc_topk(
            corpus, queries, "vec_id", "embedding", k=5,
            m_sub=16, n_codes=16, dims=64, lloyd_iters=2,
        ).collect()
    }
    r_rr = len(exact & rerank) / len(exact)
    r_raw = len(exact & raw) / len(exact)
    assert r_rr >= 0.85, f"pq rerank recall collapsed: {r_rr}"
    assert r_rr > r_raw, f"rerank did not help: {r_rr} vs {r_raw}"


def test_pq_tdiv_truncates_toward_zero():
    """_tdiv must match Spark's div / DuckDB's // (truncation), not
    Python's flooring // — the Lloyd means diverge on negative sums
    otherwise."""
    from etl_pipline_ibrd_loan_system_spark.operators.similarity import _tdiv

    assert _tdiv(-7, 2) == -3 != (-7) // 2
    assert _tdiv(7, 2) == 3
    assert _tdiv(-8, 2) == -4
    assert _tdiv(7, -2) == -3


def test_ivfpq_loses_nothing_beyond_cell_pruning(spark, sf_dir):
    """IVF-PQ == IVF with the same cells on this corpus: the PQ
    shortlist (50-deep) + exact rerank recovers every neighbor the
    nprobe cell pruning admits, so the composition's recall is the
    IVF bound, not below it — quantization costs ~nothing while the
    scoring touches only 4-byte codes."""
    from etl_pipline_ibrd_loan_system_spark.catalog import load_table
    from etl_pipline_ibrd_loan_system_spark.operators import similarity
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 10)
    queries = emb.where(F.col("vec_id") < 10)

    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivf_topk(
            corpus, queries, "vec_id", "embedding", k=5,
            n_centroids=8, nprobe=2, lloyd_iters=2, dims=64,
        ).collect()
    }
    ivfpq = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ivfpq_topk(
            corpus, queries, "vec_id", "embedding",
        ).collect()
    }
    overlap = len(ivf & ivfpq) / len(ivf)
    assert overlap >= 0.95, f"PQ stage lost recall vs its IVF bound: {overlap}"


def test_embedding_lsh_range_search_asymmetric(spark):
    """Planted semantics: batch q1 duplicates corpus vector 1 (found at
    cos 1.0), q2 duplicates nothing (empty result); corpus-vs-corpus
    near pairs must NEVER appear in the output even when they exist
    (vectors 3 and 4 are identical to each other)."""
    from etl_pipline_ibrd_loan_system_spark.operators.dedup import (
        embedding_lsh_range_search,
    )

    def vec(seed):
        return [float((seed * 37 + i * 11) % 97) / 97.0 for i in range(64)]

    corpus = spark.createDataFrame(
        [(1, vec(1)), (2, vec(2)), (3, vec(3)), (4, vec(3))],
        "vec_id long, embedding array<double>",
    )
    novel = [1.0] + [0.0] * 63  # orthogonal-ish to the dense vec() family
    batch = spark.createDataFrame(
        [(101, vec(1)), (102, novel)],
        "vec_id long, embedding array<double>",
    )
    got = embedding_lsh_range_search(
        corpus, batch, "vec_id", "embedding", threshold=0.999
    ).collect()
    pairs = {(r.query_id, r.match_id) for r in got}
    assert (101, 1) in pairs
    assert all(q in (101, 102) for q, _ in pairs)  # only batch ids as queries
    assert not any(q == 102 for q, _ in pairs)  # novel vector matches nothing
    assert all(m in (1, 2, 3, 4) for _, m in pairs)
    for r in got:
        assert r.cos_sim >= 0.999


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_sm13_fixture_margin_below_lsh_recall_cliff(sf):
    """ADVICE r10: sm13's oracle parity relies on a fixture property —
    at bands=4/band_bits=16 the LSH recall for NON-identical pairs near
    cos 0.95 is only ~55%, and parity holds because every over-threshold
    pair in the fixture is an IDENTICAL duplicate (signature-equal, so
    recall is structurally 1.0). Guard the invariant: the max cosine
    between non-identical embedding vectors must stay WELL below the
    0.95 query threshold, so a regenerated fixture with genuinely-near
    non-identical pairs fails here loudly instead of silently redding
    the sm13 driver row."""
    import duckdb

    rows = duckdb.sql(
        f"SELECT embedding FROM '/root/testdata/{sf}/embeddings.parquet'"
    ).fetchall()
    mat = np.array([r[0] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    normed = mat / np.where(norms == 0, 1.0, norms)
    cos = normed @ normed.T
    # mask self-pairs AND exact-duplicate vector pairs (those are the
    # planted over-threshold matches LSH finds via signature equality)
    dup = (mat[:, None, :] == mat[None, :, :]).all(axis=2)
    off = cos[~dup]
    assert off.size, "fixture has no non-identical pairs to measure"
    margin = float(off.max())
    assert margin < 0.85, (
        f"{sf}: max non-identical cosine {margin:.3f} is inside the LSH "
        "recall cliff below sm13's 0.95 threshold — regenerated fixture "
        "breaks the documented parity invariant"
    )


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _nonansi_rows(spark, build):
    """Build AND collect a reference plan under ansi=false (ANSI-ness is
    captured at analysis time, so the toggle must wrap plan construction)."""
    prev = spark.conf.get("spark.sql.ansi.enabled", "true")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        return _rows(build())
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def _window_probes(spark, q, cents, nprobe, emit_qv=True):
    """The pre-r12 probe form: q x broadcast(cent) + row_number window.

    Collected under ansi=false: the zero-norm test row makes the JVM
    cosine hit 0.0/0.0, which ANSI mode (Spark 4 default) RAISES on
    instead of yielding the NaN that nan_guard_sql / the DuckDB oracle
    handle — the guard's intended semantics (and _probe_cells') is the
    non-ANSI NaN path."""
    cent = spark.createDataFrame(cents, "cent_id bigint, cw array<double>")
    qcos_guard = F.when(F.isnan("qcos"), F.lit(-1e308)).otherwise(
        F.col("qcos")
    )
    qw = Window.partitionBy("query_id").orderBy(
        F.desc(qcos_guard), F.asc("cent_id")
    )
    cols = ["query_id", "qv", "cent_id"] if emit_qv else ["query_id", "cent_id"]
    return (
        q.join(F.broadcast(cent))
        .select(
            "query_id", "qv", "cent_id",
            cosine(F.col("qv"), F.col("cw")).alias("qcos"),
        )
        .withColumn("prn", F.row_number().over(qw))
        .where(F.col("prn") <= nprobe)
        .select(*cols)
    )


def test_probe_cells_matches_window_form(spark):
    """_probe_cells == the q x cent window it replaced, including exact
    cosine ties (scaled copies of one direction — cosine is scale
    invariant, so both centroids tie bit-for-bit and the lower cent_id
    must win) and an all-NaN row (zero-norm query -> 0/0 cosine against
    every centroid -> the -1e308 guard on both paths)."""
    cents = [
        (3, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),  # same direction as 3: exact tie
        (7, [0.0, 1.0, 0.0, 0.0]),
        (5, [0.5, 0.5, 0.5, 0.5]),
    ]
    data = [
        (10, [1.0, 0.1, 0.0, 0.0]),
        (11, [0.0, 0.0, 0.0, 0.0]),  # zero norm -> NaN cosine everywhere
        (12, [-1.0, 0.0, 0.0, 0.0]),
        (13, [0.3, 0.3, 0.3, 0.3]),
        (14, [1e-200, 0.0, 1e200, 0.0]),
    ]
    q = spark.createDataFrame(data, "query_id long, qv array<double>")
    got = similarity._probe_cells(q, cents, dims=4, nprobe=2).select(
        "query_id", "qv", "cent_id"
    )
    want = _nonansi_rows(
        spark, lambda: _window_probes(spark, q, cents, nprobe=2)
    )
    assert _rows(got) == want
    # tie winner is the LOWER cent_id: query 10 must probe cell 1 first
    got_first = {
        (r["query_id"], r["cent_id"]) for r in got.collect()
    }
    assert (10, 1) in got_first and (10, 3) in got_first
    # all-NaN row still emits nprobe probes (lowest cent_ids)
    assert (11, 1) in got_first and (11, 3) in got_first

    got2 = similarity._probe_cells(q, cents, dims=4, nprobe=3, emit_qv=False)
    want2 = _nonansi_rows(
        spark,
        lambda: _window_probes(spark, q, cents, nprobe=3, emit_qv=False),
    )
    assert _rows(got2) == want2


def test_probe_cells_nprobe_exceeds_centroids(spark):
    """nprobe > k emits every centroid once per query, like prn <= nprobe."""
    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    q = spark.createDataFrame(
        [(1, [3.0, 4.0])], "query_id long, qv array<double>"
    )
    got = similarity._probe_cells(q, cents, dims=2, nprobe=5).select(
        "query_id", "qv", "cent_id"
    )
    want = _window_probes(spark, q, cents, nprobe=5)
    assert _rows(got) == _rows(want)
