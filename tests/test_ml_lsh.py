"""C10 alternative path: pyspark.ml LSH (BucketedRandomProjectionLSH /
MinHashLSH) as the library-provided ANN — cross-checked against the
custom brute-force operator for recall."""

from __future__ import annotations

import pytest

from pyspark.ml.feature import BucketedRandomProjectionLSH
from pyspark.ml.linalg import Vectors, VectorUDT
from pyspark.sql import functions as F

from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S
from kafka_clickhouse_ingest_pipeline_spark.tables import load_table


@pytest.fixture(scope="module")
def vec_df(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    to_vec = F.udf(lambda a: Vectors.dense(a), VectorUDT())
    return emb.select("vec_id", to_vec("embedding").alias("features")).cache()


def test_ml_lsh_neighbors_overlap_bruteforce(spark, sf_dir, vec_df):
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=4, seed=42
    )
    model = lsh.fit(vec_df)
    key = vec_df.where("vec_id = 0").first().features
    ann = model.approxNearestNeighbors(vec_df, key, 11)  # incl. self
    ann_ids = {r.vec_id for r in ann.collect()} - {0}

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0)
    exact_ids = {r.vec_id for r in S.brute_force_topk(emb, q, k=10).collect()}

    # euclidean-LSH neighbors vs cosine top-k: require meaningful overlap
    assert len(ann_ids & exact_ids) >= 3, (ann_ids, exact_ids)


def test_ml_lsh_similarity_join_is_symmetricish(spark, vec_df):
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=2.0, numHashTables=2, seed=7
    )
    model = lsh.fit(vec_df)
    joined = model.approxSimilarityJoin(vec_df, vec_df, 3.0, distCol="dist")
    pairs = joined.where("datasetA.vec_id < datasetB.vec_id")
    assert pairs.count() >= 0  # runs end-to-end; exact count is data-dependent


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """Multi-probe (bucket + Hamming-1 neighbors) must return a superset
    of single-probe's candidates and at least as many of the true
    brute-force top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0)
    single = {r.vec_id for r in S.bucketed_topk(emb, q, k=10).collect()}
    multi = {r.vec_id for r in S.multiprobe_topk(emb, q, k=10).collect()}
    brute = {r.vec_id for r in S.brute_force_topk(emb, q, k=10).collect()}
    assert len(multi & brute) >= len(single & brute)
    assert len(multi) >= len(single)


def test_kmeans_cells_partition_quality(spark, sf_dir):
    """k-means assignment: every vector gets exactly one cell, all k cells
    are populated, and the mean within-cell distance does not exceed the
    assign-to-random baseline (sanity that Lloyd iterations help)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = S.kmeans_cells(emb, k=8, iters=2)
    rows = out.collect()
    assert len(rows) == emb.count()
    cells = {r.cell for r in rows}
    assert cells == set(range(8))
    # within-cell distance must beat assigning everything to one seed
    mean_d = sum(r.dist_sq for r in rows) / len(rows)
    one_cell = S.kmeans_cells(emb, k=1, iters=2)
    mean_one = sum(r.dist_sq for r in one_cell.collect()) / len(rows)
    assert mean_d < mean_one


def test_kmeans_k_exceeding_corpus_does_not_crash(spark):
    """k > n: seeds truncate to the corpus; every vector still gets one
    cell and cells are a subset of range(n)."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = S.kmeans_cells(emb, k=8, iters=1).collect()
    assert len(out) == 3
    assert {r.cell for r in out} <= {0, 1, 2}


def test_simhash_hamming_pairs_empty_and_exact(spark):
    from kafka_clickhouse_ingest_pipeline_spark.operators import dedup as D

    fp = spark.createDataFrame(
        [(1, 0b111000), (2, 0b111001), (3, 0b000111 << 40)],
        "doc_id long, simhash long",
    )
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_hamming_pairs(fp, "doc_id", max_hamming=3).collect()
    }
    # 1-2 differ in 1 bit -> pair; 3 is far from both -> no pair
    assert got == {(1, 2): 1}
    empty = spark.createDataFrame([], "doc_id long, simhash long")
    assert D.simhash_hamming_pairs(empty, "doc_id").count() == 0


def test_seqdot_udf_bit_identical_to_hof_fold(spark, sf_dir):
    """The Arrow-batched pair dot (seqdot_udf) must reproduce the HOF
    sequential left fold BIT-FOR-BIT — it feeds round4-ed, hash-compared
    oracle queries, so even one ulp of reassociation is a red gate."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S
    from kafka_clickhouse_ingest_pipeline_spark.operators.udfs import seqdot_udf
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double(F.col("embedding")).alias("v")
    )
    # pair every vector with its id+1 neighbor: realistic magnitudes,
    # hundreds of pairs, no hand-made fixtures
    a = emb.select(F.col("vec_id").alias("ia"), F.col("v").alias("va"))
    b = emb.select((F.col("vec_id") - 1).alias("ia"), F.col("v").alias("vb"))
    pairs = a.join(b, "ia")
    both = pairs.select(
        "ia",
        S.dot(F.col("va"), F.col("vb")).alias("hof"),
        seqdot_udf(F.col("va"), F.col("vb")).alias("arrow"),
    )
    bad = both.where(~(F.col("hof") == F.col("arrow"))).count()
    assert bad == 0
    assert both.count() > 100


def test_seqdot_udf_ragged_lengths_yield_null(spark):
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators.udfs import seqdot_udf

    df = spark.createDataFrame(
        [([1.0, 2.0], [3.0, 4.0]), ([1.0, 2.0, 3.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    rows = df.select(seqdot_udf("a", "b").alias("d")).collect()
    vals = sorted((r["d"] is None or r["d"] != r["d"], r["d"]) for r in rows)
    assert vals[0][1] == 11.0
    assert vals[1][0]  # ragged pair -> null/NaN


def test_kmeans_empty_cell_reseeds_to_full_coverage(spark):
    """Duplicate seed vectors force a cell to lose every member on the
    first assignment (ties break to the lower cell id); with
    reseed_empty the farthest point re-seeds the emptied cell, so the
    final assignment still covers k distinct cells. Without reseeding
    the k shrinks — the quality gap VERDICT r2 flagged."""
    from pyspark.sql import functions as F  # noqa: F401

    from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S

    # 4 identical vectors + 2 distinct outliers; k=3 guarantees at least
    # two identical seeds whichever ids the hash draw picks
    dup = [1.0] * 8
    rows = [
        (0, dup), (1, dup), (2, dup), (3, dup),
        (4, [5.0] * 8), (5, [-3.0] * 8),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    with_reseed = S.kmeans_cells(emb, k=3, iters=2, reseed_empty=True)
    cells = {r["cell"] for r in with_reseed.collect()}
    assert len(cells) == 3

    without = S.kmeans_cells(emb, k=3, iters=2, reseed_empty=False)
    assert len({r["cell"] for r in without.collect()}) < 3

    # farthest-first seeding picks the three distinct points directly —
    # no duplicate seeds, full coverage from round one
    pp = S.kmeans_cells(emb, k=3, iters=2, seeding="farthest")
    assert len({r["cell"] for r in pp.collect()}) == 3


def test_seqdot_udf_null_vector_yields_null_not_crash(spark):
    """Regression: a NULL embedding arrives in the Arrow batch as None;
    the kernel must emit null (matching zip_with null propagation), not
    crash the Python worker on len(None)."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators.udfs import seqdot_udf

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], [3.0, 4.0]), (2, None, [1.0, 1.0]),
         (3, [1.0], [1.0, 2.0])],
        "id long, a array<double>, b array<double>",
    )
    rows = {r.id: r.d for r in df.select(
        "id", seqdot_udf(F.col("a"), F.col("b")).alias("d")
    ).collect()}
    assert rows[1] == 11.0
    assert rows[2] is None  # null vector -> null, job survives
    assert rows[3] is None  # ragged pair -> null


def test_l2_norm_udf_matches_oracle_fold_on_float_embeddings(spark):
    """udf_vector_norms parity: for array<float> embeddings the norm must
    equal the oracle's float64 left-to-right sum of squares. This vector
    rounds to 2.1799 with a float32 np.dot and to 2.18 in the oracle; the
    NULL embedding must come back null, not crash the worker."""
    import duckdb

    from kafka_clickhouse_ingest_pipeline_spark.functions.rounding import round4
    from kafka_clickhouse_ingest_pipeline_spark.operators.udfs import l2_norm_udf

    vec = [1.626, -1.229, 0.731, 0.252]
    df = spark.createDataFrame([(1, vec), (2, None)], "id long, emb array<float>")
    rows = {
        r.id: r.n
        for r in df.select("id", round4(l2_norm_udf("emb")).alias("n")).collect()
    }
    oracle = duckdb.connect().execute(
        "SELECT (FLOOR(sqrt(list_reduce(list_transform(CAST(? AS FLOAT[]), "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, x) -> acc + x))"
        " * 10000.0 + 0.5 + 0.000001) / 10000.0)",
        [vec],
    ).fetchone()[0]
    assert rows == {1: oracle, 2: None}
    assert oracle == 2.18


def test_sq8_rescore_matches_bruteforce_exactly_on_candidates(spark, sf_dir):
    """SQ8 shortlist-then-rescore: rescored cosines must be the EXACT
    brute-force values for those ids (rescore reads the float table),
    and int8 quantization error is small enough at 64 dims that the
    top-10 recall vs brute force is high."""
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table
    from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0)
    sq = S.sq_rescore_topk(emb, q, k=10, shortlist=40).collect()
    brute = {
        r.vec_id: r.cosine
        for r in S.brute_force_topk(emb, q, k=50).collect()
    }
    assert len(sq) == 10
    for r in sq:
        if r.vec_id in brute:  # same round4 contract on both paths
            assert r.cosine == brute[r.vec_id]
    top10 = set(list(brute)[:10]) if len(brute) >= 10 else set(brute)
    recall = len({r.vec_id for r in sq} & top10) / max(len(top10), 1)
    assert recall >= 0.8


def test_sq_rescore_rejects_multirow_query(spark, sf_dir):
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table
    from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    two = emb.where(F.col("vec_id") < 2)
    import pytest as _pt

    with _pt.raises(ValueError):
        S.sq_rescore_topk(emb, two)


def test_batch_topk_agrees_with_single_query_operator(spark, sf_dir):
    """The batched window-ranked path must reproduce the single-query
    multiprobe operator's answer for each query it contains."""
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table
    from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    batch = S.batch_multiprobe_topk(
        emb, emb.where(F.col("vec_id") < 3), k=5
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r.q_id, []).append((r.rank, r.vec_id, r.cosine))
    assert set(by_q) == {0, 1, 2}
    for qid, rows in by_q.items():
        single = S.multiprobe_topk(
            emb, emb.where(F.col("vec_id") == qid), k=5
        ).collect()
        got = [v for _, v, _ in sorted(rows)]
        want = [r.vec_id for r in single]
        assert got == want, f"q{qid}: {got} != {want}"


def test_sq_rescore_survives_zero_vectors_in_corpus(spark):
    """An all-zero embedding (scale 0) must not crash or corrupt the
    quantized scan — it quantizes to zeros, its cosine is NaN/null, and
    it simply never ranks."""
    from kafka_clickhouse_ingest_pipeline_spark.operators import similarity as S

    rows = [(0, [1.0, 0.0, 2.0, 1.0]), (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [2.0, 0.0, 4.0, 2.0]), (3, [-1.0, 3.0, 0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where("vec_id = 0")
    out = S.sq_rescore_topk(emb, q, k=3, shortlist=3).collect()
    ids = [r.vec_id for r in out]
    assert 2 in ids          # the parallel vector ranks first
    assert 1 not in ids or out[-1].vec_id == 1  # zero vector never wins
    assert out[0].vec_id == 2 and out[0].cosine == 1.0


def test_mmr_spends_budget_on_diversity_not_duplicates(spark):
    """The property MMR exists for: with a clique of near-identical
    high-relevance vectors, plain top-k returns the whole clique while
    MMR takes ONE clique member then pivots to the diverse
    medium-relevance items."""
    from kafka_clickhouse_ingest_pipeline_spark.operators import (
        similarity as S,
    )

    # query along e0; ids 1-3 an EXACT-duplicate clique at rel 0.95
    # (mutual sim 1.0 -> mmr score 0.7*0.95 - 0.3*1 = 0.365 after one is
    # taken); ids 4-5 at rel 0.9 but spread away from the clique in the
    # orthogonal complement (sim ~0.72/0.86 -> scores ~0.414/0.374),
    # so both out-score the remaining duplicates
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.95, 0.31225, 0.0, 0.0]),
        (2, [0.95, 0.31225, 0.0, 0.0]),
        (3, [0.95, 0.31225, 0.0, 0.0]),
        (4, [0.9, -0.436, 0.0, 0.0]),
        (5, [0.9, 0.0, 0.436, 0.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    q = emb.where("vec_id = 0")
    top3 = [
        r.vec_id
        for r in S.brute_force_topk(emb, q, k=3).collect()
    ]
    assert set(top3) == {1, 2, 3}  # plain top-k: all clique
    mmr = {
        r.sel_rank: r.vec_id
        for r in S.mmr_select(emb, q, pool=5, k=3).collect()
    }
    assert mmr[0] == 1  # best clique member first (lowest-id tiebreak)
    # then the two diverse items BEFORE the remaining exact duplicates
    assert set(mmr.values()) - {mmr[0]} == {4, 5}
    assert mmr[1] == 4  # the farther-from-clique item wins round 1


def test_lsh_bucket_arrow_kernel_is_bit_identical_to_jvm_expr(spark, sf_dir):
    """Three-way parity for the LSH bucket: the Arrow kernel (what
    lsh_bucket now emits), the pure-JVM expression, and — transitively,
    via the existing oracle-gated queries — the SQL twin. Covers the
    real corpus plus the edge shapes the kernel special-cases: NULL
    vector (bucket 0), short vector (missing dims contribute 0), and
    over-width vector (extra dims ignored)."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators import (
        similarity as S,
    )
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    v = S.as_double(F.col("embedding"))
    cmp = emb.select(
        S.lsh_bucket_expr(v).alias("jvm"), S.lsh_bucket(v).alias("arrow")
    )
    assert cmp.where("jvm != arrow").count() == 0

    edge = spark.createDataFrame(
        [
            (1, None),
            (2, [0.5] * 3),  # short: dims 3..63 coalesce to 0
            (3, [-0.25] * 70),  # long: dims past EMB_DIM ignored
            (4, [0.0] * 64),  # all-zero: every plane sum 0 -> bucket 0
        ],
        "vec_id long, embedding array<double>",
    )
    rows = edge.select(
        "vec_id",
        S.lsh_bucket_expr(F.col("embedding")).alias("jvm"),
        S.lsh_bucket(F.col("embedding")).alias("arrow"),
    ).collect()
    for r in rows:
        assert r.jvm == r.arrow, r
    byid = {r.vec_id: r for r in rows}
    assert byid[1].arrow == 0 and byid[4].arrow == 0


def test_lsh_bucket_arrow_kernel_null_element_parity(spark):
    """A NULL element *inside* a vector must contribute 0.0 per term in
    the Arrow kernel, exactly like the JVM expr's per-element
    coalesce(get(vec, i), 0.0) — Arrow delivers it as NaN, which without
    masking would NaN every plane sum and silently force bucket 0.
    Covers both kernel paths: a uniform-width batch (all vectors same
    length, some with null elements) and a ragged batch."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators import (
        similarity as S,
    )

    base = [0.37 * ((i * 7) % 13 - 6) for i in range(S.EMB_DIM)]
    uniform_rows = []
    for j in range(6):
        v = list(base)
        v[(5 * j) % S.EMB_DIM] = None  # null element, full width
        v[(11 * j + 3) % S.EMB_DIM] = -v[(11 * j + 3) % S.EMB_DIM] or 0.1
        uniform_rows.append((j, v))
    ragged_rows = [
        (100, [1.0, None, -2.0]),  # short + null element
        (101, [None] * S.EMB_DIM + [9.9]),  # all-null elements, over-width
        (102, None),  # NULL vector
        (103, [0.0] * 3),
    ]
    for rows in (uniform_rows, ragged_rows):
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )
        v = S.as_double(F.col("embedding"))
        cmp = df.select(
            F.col("vec_id"),
            S.lsh_bucket_expr(v).alias("jvm"),
            S.lsh_bucket(v).alias("arrow"),
        )
        bad = cmp.where("jvm IS DISTINCT FROM arrow").collect()
        assert bad == [], f"bucket mismatch rows: {bad}"


def test_ivf_assign_stream_equals_batch(spark, sf_dir, tmp_path):
    """VERDICT r5 #4 'done' criterion: under FROZEN centroids, assigning
    an increment through a stream (3 micro-batches) produces exactly the
    assignment a single batch pass produces — cell and distance both —
    because ivf_assign is stateless per vector. This is the property
    that makes the incremental index path streamable at all."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators import (
        similarity as S,
    )
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    train = emb.where(F.col("vec_id") % 10 != 0)
    new = emb.where(F.col("vec_id") % 10 == 0).select("vec_id", "embedding")
    _asg, cents = S.kmeans_cells(train, k=8, iters=2, with_centroids=True)
    # freeze the trained centroids as literal rows so every micro-batch
    # assigns under the SAME index (no lineage replay per batch)
    cents = spark.createDataFrame(cents.collect(), schema=cents.schema)

    batch = {
        r.vec_id: (r.cell, r.dist_sq)
        for r in S.ivf_assign(new, cents).collect()
    }

    src = str(tmp_path / "increment")
    ckpt = str(tmp_path / "ckpt")
    new.repartition(3).write.parquet(src)
    streamed: dict[int, tuple[int, float]] = {}

    def sink(df, bid):
        for r in S.ivf_assign(df, cents).collect():
            streamed[r.vec_id] = (r.cell, r.dist_sq)

    q = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert streamed == batch and len(batch) > 0


def test_ivf_drift_surfaces_new_only_cells(spark):
    """A cell with zero training members but incoming new vectors must
    still appear in the drift dashboard (full outer join) — with no
    baseline its drift_ratio is NULL and the flag stays down; the bare
    n_new count is the planner's signal."""
    from kafka_clickhouse_ingest_pipeline_spark.operators import (
        similarity as S,
    )

    train = spark.createDataFrame(
        [(1, 0, 0.25), (2, 0, 0.3501), (3, 1, 0.0)],
        "vec_id long, cell int, dist_sq double",
    )
    new = spark.createDataFrame(
        [(10, 0, 0.9001), (11, 2, 0.5)],  # cell 2 never trained
        "vec_id long, cell int, dist_sq double",
    )
    rows = {r.cell: r for r in S.ivf_drift(train, new).collect()}
    assert set(rows) == {0, 1, 2}
    assert rows[2].n_train == 0 and rows[2].n_new == 1
    assert rows[2].drift_ratio is None and rows[2].retrain_flag == 0
    # cell 0: avg_train 0.3001 (round4 of mean), avg_new 0.9001 -> 3.0x
    assert rows[0].retrain_flag == 1
    # cell 1: zero training distance -> NULL ratio, flag down
    assert rows[1].drift_ratio is None and rows[1].retrain_flag == 0


def test_embedding_cross_hits_stream_equals_batch(spark, sf_dir, tmp_path):
    """Score-at-ingest for semantic decontamination: flagging a corpus
    increment against the FROZEN eval probe set through a stream (3
    micro-batches) produces exactly the single-batch flags — the
    operator is stateless per corpus vector (hits come only from the
    probe side), the same property ivf_assign pins for the IVF index."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators import dedup as D
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % 10 == 0).select(
        "vec_id", "embedding"
    )
    probes = spark.createDataFrame(probes.collect(), schema=probes.schema)
    new = emb.where(F.col("vec_id") % 10 != 0).select("vec_id", "embedding")

    batch = {
        r.vec_id: (r.n_probe_hits, r.max_probe_cosine)
        for r in D.embedding_cross_hits(new, probes, threshold=0.15).collect()
    }
    assert len(batch) > 0

    src = str(tmp_path / "increment")
    ckpt = str(tmp_path / "ckpt")
    new.repartition(3).write.parquet(src)
    streamed: dict[int, tuple] = {}

    def sink(df, bid):
        for r in D.embedding_cross_hits(df, probes, threshold=0.15).collect():
            streamed[r.vec_id] = (r.n_probe_hits, r.max_probe_cosine)

    q = (
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert streamed == batch


def test_kmeans_inertia_curve_decreases(spark, sf_dir):
    """Lloyd's guarantee surfaced: per-round inertia is non-increasing
    (each assign step picks the nearest centroid, each update step is
    the within-cell mean), and the final-assignment row is the minimum
    of the curve. Fixed rounds + round4 snaps keep it oracle-replayable;
    this pins the signal the retrain decision reads."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_ingest_pipeline_spark.operators import (
        similarity as S,
    )
    from kafka_clickhouse_ingest_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    _asg, curve = S.kmeans_cells(emb, k=8, iters=2, with_trace=True)
    rows = curve.orderBy("round").collect()
    assert [r.round for r in rows] == [1, 2, 3]
    vals = [r.inertia for r in rows]
    assert all(a >= b for a, b in zip(vals, vals[1:])), vals


def test_ivf_drift_retrain_recovers_budgeted_recall(spark, sf_dir):
    """VERDICT r8 #4 'done' criterion: the drift loop closed end to end.
    The shifted increment (a) fires ivf_drift's retrain signal, (b)
    bloats one frozen cell past the scan budget with the drifted mass
    sorted to the list tail (dist-to-frozen-centroid order), so budgeted
    recall@10 for drifted queries COLLAPSES under frozen centroids, and
    (c) retraining on corpus+increment rebalances the lists and recall
    RECOVERS — all read from the registered three-arm query."""
    from kafka_clickhouse_ingest_pipeline_spark.queries.similarity import (
        ivf_drift_retrain_recovery,
    )

    row = ivf_drift_retrain_recovery(spark, sf_dir).first()
    assert row.n_flagged_cells >= 1, row
    assert row.frozen_max_cell > row.scan_budget, row
    assert row.frozen_max_cell > row.retrained_max_cell, row
    assert row.recall_frozen < 0.5, row
    assert row.recall_retrained > 0.9, row
    assert row.recall_retrained > row.recall_frozen, row


def test_lsh_incremental_pairs_equal_full_cross_pairs(spark, sf_dir):
    """Round-12 pin for lsh_pairs_against_corpus (the frozen-index
    incremental MinHash): banding is per-doc pure, so the increment
    probed against the frozen corpus index must produce EXACTLY the
    full-corpus LSH pairs restricted to (corpus, new) cross pairs —
    same pairs, same est_jaccard. This is the stream==batch argument
    for the MinHash flavor (a streamed increment judges each doc
    against the same frozen tables)."""
    from kafka_clickhouse_ingest_pipeline_spark.operators import dedup as D
    from kafka_clickhouse_ingest_pipeline_spark.plans.materialize import (
        materialize,
    )
    from kafka_clickhouse_ingest_pipeline_spark.queries.dedup import (
        PLANT_OFFSET,
        _docs_with_planted,
    )

    docs = _docs_with_planted(spark, sf_dir)
    corpus = docs.where(F.col("doc_id") < PLANT_OFFSET)
    new = docs.where(F.col("doc_id") >= PLANT_OFFSET)

    full = D.lsh_candidate_pairs(
        D.minhash_signatures(docs, "text", "doc_id"), "doc_id"
    )
    # cross pairs only: id_a < id_b and the planted ids start at OFFSET,
    # so every (corpus, new) pair has id_a in corpus, id_b in new
    cross = {
        (r.id_a, r.id_b, r.est_jaccard)
        for r in full.where(
            (F.col("id_a") < PLANT_OFFSET) & (F.col("id_b") >= PLANT_OFFSET)
        ).collect()
    }

    csig = materialize(
        D.minhash_signatures(corpus, "text", "doc_id"), "t_lshinc_csig"
    )
    cband = materialize(D.lsh_band_table(csig, "doc_id"), "t_lshinc_cband")
    nsig = D.minhash_signatures(new, "text", "doc_id")
    inc = {
        (r.corpus_id, r.new_id, r.est_jaccard)
        for r in D.lsh_pairs_against_corpus(
            nsig, cband, csig, "doc_id"
        ).collect()
    }
    assert inc == cross and len(inc) > 0


def test_null_vectors_never_pair(spark):
    """Round-12 VERDICT #7 pin: lsh_bucket's coalesce(-1) makes the
    bucket non-nullable (the single-ArrowEvalPython plan shape), so a
    NULL vector would land in bucket -1 on every join side and pair
    with other null rows. The bucket-join operators therefore filter
    null vectors on the RAW input column before bucketing — this test
    plants two null-vector rows (corpus + query batch) and asserts no
    output row ever references them on any LSH path."""
    from kafka_clickhouse_ingest_pipeline_spark.operators import dedup as D

    rows = [
        (0, [1.0] * S.EMB_DIM),
        (1, [1.0] * S.EMB_DIM),
        (2, None),  # corpus null
        (3, [-1.0] * S.EMB_DIM),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    null_q = spark.createDataFrame(
        [(90, None), (91, [1.0] * S.EMB_DIM)],
        "vec_id long, embedding array<double>",
    )

    got = S.bucketed_topk(emb, null_q.where("vec_id = 90"), k=10).collect()
    assert got == [], got  # null query matches nothing, not bucket -1

    got = S.multiprobe_topk(emb, null_q.where("vec_id = 90"), k=10).collect()
    assert got == [], got

    batch = S.batch_multiprobe_topk(emb, null_q, k=10).collect()
    ids = {(r.q_id, r.vec_id) for r in batch}
    assert all(q != 90 and v != 2 for q, v in ids), ids

    pairs = D.embedding_near_dup_pairs(emb, threshold=-2.0).collect()
    touched = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert 2 not in touched, pairs
