"""CDC kernel unit tests: validation split, LWW variants, generator."""

from pyspark.sql import functions as F

from horizon_etl_spark.cdc.generator import change_feed, corrupt_feed
from horizon_etl_spark.cdc.lww import lww_reduce
from horizon_etl_spark.cdc.validate import split_valid


def test_generator_deterministic(spark):
    a = change_feed(spark, 500, 50, seed=42).orderBy("lsn", "batch")
    b = change_feed(spark, 500, 50, seed=42).orderBy("lsn", "batch")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_generator_invariants(spark):
    feed = change_feed(spark, 2000, 100, seed=42, num_batches=4)
    # lsn strictly increasing per doc (events unique by (doc,lsn))
    assert feed.groupBy("doc_id", "lsn").count().filter("count > 2").count() == 0
    nd = feed.filter(F.col("op") != "delete")
    assert nd.filter(F.col("n_tok") != F.size("tokens")).count() == 0
    # deletes carry null payload
    assert feed.filter((F.col("op") == "delete") & F.col("tokens").isNotNull()).count() == 0
    # duplicates exist and live in a later batch
    dupes = feed.groupBy("op", "doc_id", "lsn").count().filter("count > 1")
    assert dupes.count() > 0
    # skew: hottest doc gets far more than the mean share
    per_key = feed.groupBy("doc_id").count()
    mx = per_key.agg(F.max("count")).collect()[0][0]
    assert mx > 5 * (2000 / 100)


def test_split_valid_reasons(spark):
    feed = corrupt_feed(spark, 2000, 100)
    valid, quar = split_valid(feed)
    assert valid.count() + quar.count() == feed.count()
    reasons = {r["reason"] for r in quar.select("reason").distinct().collect()}
    assert {"n_tok_mismatch", "bad_source", "null_doc_id", "empty_tokens"} <= reasons
    # valid side satisfies every invariant
    nd = valid.filter(F.col("op") != "delete")
    assert nd.filter(F.col("n_tok") != F.size("tokens")).count() == 0
    assert nd.filter(~F.col("source").isin("books", "code", "crawl", "wiki")).count() == 0


def test_lww_plain_equals_window(spark):
    feed = change_feed(spark, 3000, 60, seed=7).drop("batch", "ts")
    a = lww_reduce(feed).orderBy("doc_id")
    # window-based oracle
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("lsn"))
    c = (
        feed.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .drop("rn")
        .select(*a.columns)
    )
    assert a.exceptAll(c).count() == 0 and c.exceptAll(a).count() == 0


def test_lww_collapses_duplicates(spark):
    feed = change_feed(spark, 1000, 40, seed=9)
    doubled = feed.unionByName(feed)  # verbatim duplicate delivery
    a = lww_reduce(feed.drop("batch", "ts"))
    b = lww_reduce(doubled.drop("batch", "ts"))
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_placement_reacts_to_skew(spark, tmp_path):
    """Batch 0 is placed by bucket (no metrics yet); after a heavily
    skewed batch, the next batch keeps the unplaced reduce; after a
    uniform batch, it is placed again.  State equals the oracle."""
    from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
    from horizon_etl_spark.cdc.oracle import assert_frames_equal, expected_final

    pipe = CdcPipeline.create(str(tmp_path / "p"), bucket_count=4)
    hot = change_feed(spark, 3000, 50, seed=3, zipf_s=2.0, num_batches=1,
                      min_len=2, max_len=8, dup_frac=0.0).drop("batch")
    # truly uniform: every event its own key (hot share = 1/N)
    uniform = (
        spark.range(0, 3000)
        .select(
            F.lit("update").alias("op"),
            F.concat(F.lit("u"), F.col("id")).alias("doc_id"),
            F.col("id").alias("lsn"),
            F.array(F.lit(1), F.lit(2)).alias("tokens"),
            F.lit(2).cast("int").alias("n_tok"),
            F.lit("wiki").alias("source"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
    )
    batches = [
        hot,
        uniform.withColumn("lsn", F.col("lsn") + 10_000),
        hot.withColumn("lsn", F.col("lsn") + 20_000),
    ]

    r0 = apply_batch(pipe, batches[0], batch_id=0)
    assert "placed=True" in r0["notes"]  # no metrics before the first batch
    r1 = apply_batch(pipe, batches[1], batch_id=1)
    assert "placed=False" in r1["notes"]  # previous batch was skewed
    r2 = apply_batch(pipe, batches[2], batch_id=2)
    assert "placed=True" in r2["notes"]  # previous batch was uniform

    feed = batches[0].unionByName(batches[1]).unionByName(batches[2])
    assert_frames_equal(pipe.target.read(spark), expected_final(feed))


def test_placement_plan_detector_fires_on_batch_zero(spark, tmp_path):
    """PLAN-level skew predictor: a feed whose lineage is already
    hash-partitioned on the key defeats pre-shuffle partial aggregation
    (the measured 2.7× degradation case), and the bucket placement
    would shuffle its raw events a second time — so the FIRST batch
    must stay unplaced, before any metrics history exists.  A
    multi-column partitioning does NOT satisfy the agg distribution and
    is placed; result state is identical either way."""
    from horizon_etl_spark.cdc.apply import CdcPipeline, apply_batch
    from horizon_etl_spark.cdc.oracle import expected_final

    feed = change_feed(spark, 3000, 50, seed=5, num_batches=1,
                       min_len=2, max_len=8, dup_frac=0.0)

    pipe_a = CdcPipeline.create(str(tmp_path / "a"), bucket_count=4)
    r0 = apply_batch(pipe_a, feed.repartition("doc_id"), batch_id=0)
    assert "placed=False" in r0["notes"]  # plan detector, batch 0

    pipe_b = CdcPipeline.create(str(tmp_path / "b"), bucket_count=4)
    r1 = apply_batch(pipe_b, feed.repartition("doc_id", "lsn"), batch_id=0)
    assert "placed=True" in r1["notes"]  # multi-col partitioning: placed

    oracle = expected_final(feed)
    for pipe in (pipe_a, pipe_b):
        final = pipe.target.read(spark)
        assert final.exceptAll(oracle).count() == 0
        assert oracle.exceptAll(final).count() == 0


def test_vocab_range_validation(spark):
    """SURVEY §2.10 token-range invariant, opt-in: token ids outside
    [0, vocab) quarantine with reason token_out_of_vocab; deletes and
    attr events not asserting tokens are exempt; default (vocab off)
    behavior is unchanged."""
    from horizon_etl_spark.cdc.validate import split_valid

    rows = [
        ("insert", "d1", 1, [1, 2, 3], 3, "wiki", None),           # ok
        ("insert", "d2", 2, [1, 50_000], 2, "wiki", None),         # out of range
        ("insert", "d3", 3, [-1, 2], 2, "wiki", None),             # negative
        ("delete", "d2", 4, None, None, None, None),               # delete exempt
        ("update", "d1", 5, [99_999], 1, "wiki", ["source"]),      # not asserted
    ]
    df = spark.createDataFrame(
        rows,
        "op string, doc_id string, lsn long, tokens array<int>, "
        "n_tok int, source string, fields array<string>",
    )
    valid, quar = split_valid(df, fields_col="fields", vocab_size=10_000)
    assert {r["doc_id"] for r in valid.collect()} == {"d1", "d2"}  # d1 ins, d2 del, d1 upd
    assert valid.count() == 3
    bad = {(r["doc_id"], r["reason"]) for r in quar.collect()}
    assert bad == {("d2", "token_out_of_vocab"), ("d3", "token_out_of_vocab")}

    # plan stays JVM-side: no Python/Arrow eval nodes for the rule
    plan = valid._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan

    # default (no vocab): out-of-range rows are NOT quarantined
    valid2, quar2 = split_valid(df, fields_col="fields")
    assert quar2.count() == 0 and valid2.count() == 5


def test_feed_defeats_partial_agg_single_key_only(spark):
    """The plan-level skew predictor must fire for a feed already
    hash-partitioned on exactly the key (no pre-agg Exchange → no
    map-side combine) and must NOT fire for multi-column
    hashpartitioning (the agg still gets its own Exchange there)."""
    from pyspark.sql import functions as F

    from horizon_etl_spark.cdc.apply import _feed_defeats_partial_agg

    df = spark.range(100).select(
        F.format_string("d%03d", F.pmod("id", F.lit(7))).alias("doc_id"),
        F.col("id").alias("lsn"),
    )
    assert _feed_defeats_partial_agg(df.repartition(8, F.col("doc_id")), "doc_id")
    assert not _feed_defeats_partial_agg(
        df.repartition(8, F.col("doc_id"), F.col("lsn")), "doc_id"
    )
    assert not _feed_defeats_partial_agg(
        df.repartition(8, F.col("lsn"), F.col("doc_id")), "doc_id"
    )
    assert not _feed_defeats_partial_agg(df, "doc_id")  # round-robin


def test_null_source_quarantined(spark):
    """`~null.isin(whitelist)` is NULL and a NULL predicate falls
    through the reason CASE — the rule needs an explicit isNull arm or
    a null-source insert silently passes the whitelist."""
    feed = spark.createDataFrame(
        [
            ("insert", "a", 1, [1], 1, None),
            ("insert", "b", 2, [1], 1, "wiki"),
        ],
        "op string, doc_id string, lsn long, tokens array<int>, "
        "n_tok int, source string",
    )
    valid, quar = split_valid(feed)
    assert [r["doc_id"] for r in valid.collect()] == ["b"]
    assert [(r["doc_id"], r["reason"]) for r in quar.collect()] == [
        ("a", "bad_source")
    ]
