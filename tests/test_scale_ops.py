"""Scale-path operator tests: stateful streaming, skew salting,
bucketed co-located joins, incremental-equals-full property."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def test_stateful_running_totals_across_batches(spark, tmp_path):
    from lakehouse_v3_spark.streaming.stateful import running_user_totals_exact

    src = tmp_path / "stream_src"
    src.mkdir()
    b1 = spark.createDataFrame(
        [(1, 10.0), (1, 5.0), (2, 1.0)], "user_id long, value double"
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))

    ckpt = str(tmp_path / "ckpt")
    collected: list = []

    def run_once():
        # foreachBatch sink: supports checkpoint recovery (memory doesn't)
        stream = spark.readStream.schema("user_id long, value double").parquet(str(src))
        q = (
            running_user_totals_exact(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    run_once()
    r1 = {r.user_id: (r.n_events, r.total_value) for r in collected}
    assert r1 == {1: (2, 15.0), 2: (1, 1.0)}

    # second micro-batch: state persists via the checkpoint → totals accumulate
    collected.clear()
    b2 = spark.createDataFrame([(1, 2.0), (3, 7.0)], "user_id long, value double")
    b2.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    r2 = {r.user_id: (r.n_events, r.total_value) for r in collected}
    assert r2[1] == (3, 17.0)  # accumulated across batches
    assert r2[3] == (1, 7.0)

    # a NULL and a NaN value: n_events counts both rows (COUNT(*)),
    # total_value skips both (SQL SUM skips NULL; a NaN would poison
    # the running decimal for good)
    collected.clear()
    b3 = spark.createDataFrame(
        [(1, None), (1, float("nan"))], "user_id long, value double"
    )
    b3.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    r3 = {r.user_id: (r.n_events, r.total_value) for r in collected}
    assert r3 == {1: (5, 17.0)}


def test_transform_with_state_distinct_types(spark, tmp_path):
    """Spark-4 transformWithStateInPandas: MapState-backed per-user
    distinct-type counts accumulate across micro-batches through the
    checkpoint (the modern successor to applyInPandasWithState)."""
    from lakehouse_v3_spark.streaming.stateful import distinct_type_counts

    # the TWS state-server protocol needs google.protobuf on the Python
    # workers; this container has no wheel, so the vendored mini
    # wire-format runtime (lakehouse_v3_spark/vendor) must satisfy the
    # import — no skip, the shim IS under test here end-to-end.
    from lakehouse_v3_spark.vendor import ensure_protobuf

    assert ensure_protobuf() in ("real", "shim")
    from google.protobuf import descriptor  # noqa: F401

    src = tmp_path / "tws_src"
    src.mkdir()
    ckpt = str(tmp_path / "tws_ckpt")
    collected: list = []

    # transformWithState requires the RocksDB state store provider
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old_prov = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    def run_once():
        stream = spark.readStream.schema("user_id long, event_type string").parquet(
            str(src)
        )
        q = (
            distinct_type_counts(stream)
            .writeStream.outputMode("update")
            .foreachBatch(lambda df, _id: collected.extend(df.collect()))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    b1 = spark.createDataFrame(
        [(1, "click"), (1, "click"), (1, "view"), (2, "click")],
        "user_id long, event_type string",
    )
    b1.coalesce(1).write.mode("append").parquet(str(src))
    run_once()
    r1 = {r.user_id: (r.n_types, r.n_events) for r in collected}
    assert r1 == {1: (2, 3), 2: (1, 1)}

    collected.clear()
    b2 = spark.createDataFrame(
        [(1, "purchase"), (2, "click"), (3, "view")],
        "user_id long, event_type string",
    )
    b2.coalesce(1).write.mode("append").parquet(str(src))
    try:
        run_once()
    finally:
        if old_prov is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old_prov)
    r2 = {r.user_id: (r.n_types, r.n_events) for r in collected}
    assert r2[1] == (3, 4)  # new type + accumulated events via MapState
    assert r2[2] == (1, 2)
    assert r2[3] == (1, 1)


def test_salted_sum_matches_plain_sum(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.skew import salted_sum_by_key

    e = load(spark, sf_dir, "events")
    salted = {
        r.event_type: (r.total, r.n_rows)
        for r in salted_sum_by_key(e, "event_type", F.col("value"), n_salts=16).collect()
    }
    plain = {
        r.event_type: (r.total, r.n)
        for r in e.groupBy("event_type")
        .agg(F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias("total"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == plain  # bit-equal thanks to decimal accumulation


def test_salted_join_matches_plain_join(spark, sf_dir):
    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.skew import salted_join_hot_keys

    e = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    dim = (
        load(spark, sf_dir, "events")
        .groupBy("user_id").agg(F.count(F.lit(1)).alias("user_n"))
    )
    salted = salted_join_hot_keys(e, dim, "user_id", n_salts=8)
    plain = e.join(dim, on="user_id")
    assert salted.count() == plain.count()
    s = {r.event_id: r.user_n for r in salted.collect()}
    p = {r.event_id: r.user_n for r in plain.collect()}
    assert s == p


def test_bucketed_join_has_no_exchange(spark, sf_dir, tmp_path):
    from lakehouse_v3_spark.io_utils import load

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    load(spark, sf_dir, "orders").write.bucketBy(8, "o_orderkey").sortBy(
        "o_orderkey"
    ).saveAsTable("b_orders")
    load(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey").write.bucketBy(
        8, "o_orderkey"
    ).sortBy("o_orderkey").saveAsTable("b_lineitem")

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_orders").join(spark.table("b_lineitem"), on="o_orderkey")
        buf = io.StringIO()
        with redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        # co-located bucketed join: no shuffle exchange on either side
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_incremental_equals_full_recompute(spark):
    """SURVEY §5 property: running the stocks silver pipeline in two
    increments produces the same table as one full run."""
    from lakehouse_v3_spark.pipelines import stocks

    def raw(rows):
        return spark.createDataFrame(
            rows,
            "timestamp string, open double, high double, low double, close double, "
            "volume long, symbol string, date_ny string, interval string, tz string",
        )

    rows1 = [(f"2024-03-01T10:{m:02d}:00.000", 10.0, 12.0, 9.0, 11.0, 100 + m, "AAPL", "x", "1m", "NY") for m in range(5)]
    rows2 = [(f"2024-03-01T10:{m:02d}:00.000", 11.0, 13.0, 10.0, 12.0, 200 + m, "AAPL", "x", "1m", "NY") for m in range(5, 9)]

    # incremental: batch1 then batch2
    s1 = stocks.upsert_silver(None, stocks.silver_increment(stocks.bronze2(raw(rows1)), None))
    inc2 = stocks.silver_increment(stocks.bronze2(raw(rows2)), s1)
    s_incremental = stocks.upsert_silver(s1, inc2)

    # full: all rows at once
    s_full = stocks.upsert_silver(None, stocks.silver_increment(stocks.bronze2(raw(rows1 + rows2)), None))

    a = sorted(map(tuple, s_incremental.select("symbol", "ts", "close", "volume").collect()))
    b = sorted(map(tuple, s_full.select("symbol", "ts", "close", "volume").collect()))
    assert a == b


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, pair 10-11, singleton 99 → labels are min ids."""
    from pyspark.sql import Row

    from lakehouse_v3_spark.plans.scale_extras import connected_components

    nodes = spark.createDataFrame([Row(id=i) for i in [1, 2, 3, 10, 11, 99]])
    edges = spark.createDataFrame(
        [Row(src=2, dst=1), Row(src=2, dst=3), Row(src=10, dst=11)]
    )
    out = {
        r["id"]: r["component"]
        for r in connected_components(nodes, edges, "id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_connected_components_long_chain_converges(spark):
    """A 24-node path graph under a LOG-scale iteration budget: pointer
    jumping must resolve diameter 23 in ≤ 8 rounds (one-hop propagation
    alone would need 23 and raise)."""
    from pyspark.sql import Row

    from lakehouse_v3_spark.plans.scale_extras import connected_components

    n = 24
    nodes = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    out = connected_components(nodes, edges, "id", max_iters=8).collect()
    assert all(r["component"] == 0 for r in out) and len(out) == n


def test_hash_sample_is_deterministic_and_partition_invariant(spark, sf_dir):
    """Same rows kept regardless of run or partitioning — the property
    RNG-based df.sample() does NOT have."""
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.io_utils import load
    from lakehouse_v3_spark.operators.dedup import md5_int

    d = load(spark, sf_dir, "documents")
    keep = lambda df: set(  # noqa: E731
        r["doc_id"]
        for r in df.filter(md5_int(F.col("doc_id").cast("string"), mod=100) < 20)
        .select("doc_id")
        .collect()
    )
    a = keep(d)
    b = keep(d.repartition(13))
    assert a == b and 0 < len(a) < d.count()


def test_connected_components_raises_on_non_convergence(spark):
    """A path graph whose diameter exceeds max_iters must FAIL LOUDLY
    (labels not at fixpoint = wrong components), never return silently."""
    import pytest
    from pyspark.sql import Row

    from lakehouse_v3_spark.plans.scale_extras import connected_components

    n = 64
    nodes = spark.createDataFrame([Row(id=i) for i in range(n)])
    edges = spark.createDataFrame([Row(src=i, dst=i + 1) for i in range(n - 1)])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, "id", max_iters=1)


def test_knn_bruteforce_guards_large_query_side(spark):
    """The no-cell path is corpus ⨯ queries; a large query side must
    raise instead of silently launching an unbounded cartesian scan."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.operators.similarity import knn_bruteforce

    vecs = spark.range(20).select(
        F.col("id"), F.array(F.rand(seed=1), F.rand(seed=2)).alias("embedding")
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        knn_bruteforce(vecs, vecs, "id", "id", k=2, max_query_rows=10)
    # within the bound it still works
    out = knn_bruteforce(vecs.limit(3), vecs, "id", "id", k=2, max_query_rows=10)
    assert out.count() == 6


def test_near_dup_pairs_guards_all_pairs(spark):
    """Without block_col the pair join is O(n^2); it must raise unless the
    caller opts in with allow_all_pairs=True (mirrors the knn guard)."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_v3_spark.operators.similarity import near_dup_pairs

    vecs = spark.range(6).select(
        F.col("id"),
        F.array(F.lit(1.0), (F.col("id") % 2).cast("double")).alias("embedding"),
    )
    with pytest.raises(ValueError, match="allow_all_pairs"):
        near_dup_pairs(vecs, "id")
    # explicit opt-in still works for small inputs
    out = near_dup_pairs(vecs, "id", allow_all_pairs=True, threshold=0.99)
    # ids with the same parity are identical vectors => cosine 1.0
    assert out.count() == 6  # C(3,2) per parity class x 2 classes


def test_stats_reset_private_api_present(spark):
    """_stats_reset_checkpoint's fast path uses the PRIVATE JVM
    constructor internalCreateDataFrame to strip origin statistics from
    a localCheckpoint. This test exercises that exact call chain
    directly and FAILS (never skips) if a Spark bump moves it — there
    is no fallback, so the regression must be loud (r3 verdict item)."""
    df = spark.range(10).selectExpr("id", "id * 2 AS v")
    ckpt = df.localCheckpoint()
    jdf = ckpt._jdf
    fresh_j = spark._jsparkSession.internalCreateDataFrame(
        jdf.queryExecution().toRdd(), jdf.schema(), False
    )
    from pyspark.sql import DataFrame

    fresh = DataFrame(fresh_j, spark)
    assert sorted((r.id, r.v) for r in fresh.collect()) == [(i, 2 * i) for i in range(10)]
    # and the wrapper itself must have taken the private path: its
    # result plan is a LogicalRDD leaf with the DEFAULT size estimate,
    # not the origin plan's (checked loosely via plan string).
    from lakehouse_v3_spark.plans.scale_extras import _stats_reset_checkpoint

    out = _stats_reset_checkpoint(df)
    assert "Scan ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_lsh_star_candidates_preserve_connectivity(spark):
    """Star candidates (bucket-min hub ↔ member) must keep every
    all-pairs-connected component connected: for ANY bucket, all
    members reach each other through the hub. Checked by comparing
    union-find closures of star edges vs all-pairs edges over the same
    synthetic signatures — identical components, while star emits
    Σ(|bucket|-1) ≤ Σ C(|bucket|,2) edges."""
    from pyspark.sql import Row

    from lakehouse_v3_spark.operators.dedup import (
        BAND_SIZE,
        MINHASH_SEEDS,
        lsh_candidate_pairs,
    )

    n_sigs = len(MINHASH_SEEDS)
    # 3 clusters sharing identical signatures + 4 singletons
    rows = []
    doc = 0
    for cluster, size in ((100, 5), (200, 3), (300, 4)):
        for _ in range(size):
            rows.append(Row(doc_id=doc, **{f"mh{j}": cluster + j for j in range(n_sigs)}))
            doc += 1
    for s in range(4):
        rows.append(Row(doc_id=doc, **{f"mh{j}": 7000 + 97 * doc + j for j in range(n_sigs)}))
        doc += 1
    sigs = spark.createDataFrame(rows)

    def components(edges):
        parent = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {d: find(d) for d in range(doc)}

    allp = [(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id").collect()]
    star = [(r.id_a, r.id_b) for r in lsh_candidate_pairs(sigs, "doc_id", star=True).collect()]
    assert components(star) == components(allp)
    assert set(star) <= set(allp)
    assert len(star) < len(allp)  # 5+3+4 cluster: star 9 edges vs all-pairs 19
    _ = BAND_SIZE


def test_ngram_jaccard_refuses_without_opt_in(spark):
    """The exact all-pairs jaccard baseline is quadratic by
    construction; without the explicit allow_quadratic opt-in it must
    refuse to build a plan (r4 verdict item #7 — no unguarded quadratic
    query in the catalog)."""
    import pytest as _pytest

    from lakehouse_v3_spark.operators.dedup import ngram_jaccard_pairs

    sets = spark.createDataFrame(
        [(1, 10), (2, 10), (2, 11)], "doc_id long, shingle long"
    )
    with _pytest.raises(ValueError, match="allow_quadratic"):
        ngram_jaccard_pairs(sets, "doc_id")
    out = ngram_jaccard_pairs(sets, "doc_id", allow_quadratic=True).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out] == [(1, 2, 0.5)]


# ---------------------------------------------------------------------------
# with_grouped_cumsum refuses NULL group keys loudly (r11 verdict item
# #3 — the equi-join on the broadcast offsets would silently drop those
# rows otherwise)
# ---------------------------------------------------------------------------


def test_grouped_cumsum_null_group_key_raises(spark):
    from lakehouse_v3_spark.ids import with_grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), (None, 2, 20), ("a", 3, 30)], "g STRING, o INT, v INT"
    )
    with pytest.raises(ValueError, match="NULL group key"):
        with_grouped_cumsum(df, ["g"], ["o"], "v")


def test_grouped_cumsum_non_null_groups_still_work(spark):
    from lakehouse_v3_spark.ids import with_grouped_cumsum

    df = spark.createDataFrame(
        [("a", 1, 10), ("b", 2, 20), ("a", 3, 30)], "g STRING, o INT, v INT"
    )
    rows = {
        (r["g"], r["o"]): r["cum"]
        for r in with_grouped_cumsum(df, ["g"], ["o"], "v").collect()
    }
    assert rows == {("a", 1): 10, ("a", 3): 40, ("b", 2): 20}
