"""Combined data-quality report (data_quality.py parity)."""

from pyspark.sql import functions as F

from cdc_application_febuary_spark.functions.changelog import stamp_full_load
from cdc_application_febuary_spark.operators.quality import data_quality_report


def test_healthy_pipeline(spark):
    src = spark.createDataFrame([(1, "a"), (2, None)], ["id", "name"])
    tgt = stamp_full_load(src)
    rep = data_quality_report(src, tgt)
    assert rep.healthy
    assert rep.row_count_match and rep.schema_match
    assert rep.null_deltas == {"id": 0, "name": 0}


def test_detects_row_loss_and_null_increase(spark):
    src = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["id", "name"])
    tgt = stamp_full_load(
        src.where("id < 3").withColumn(
            "name", F.when(F.col("id") == 2, None).otherwise(F.col("name"))
        )
    )
    rep = data_quality_report(src, tgt)
    assert not rep.healthy
    assert not rep.row_count_match
    assert rep.source_rows == 3 and rep.target_rows == 2
    assert rep.null_deltas["name"] == 1  # the transfer dropped a value


def test_streamed_target_batch_id_is_metadata_in_both_checks(spark):
    """A target holding streamed rows carries `__batch_id`: the schema
    parity check and the drift diff must both treat it as SCD2 metadata,
    so the report cannot say schema_match=False with no drift."""
    from cdc_application_febuary_spark.operators.reconciliation import (
        validate_schema,
    )

    src = spark.createDataFrame([(1, "a")], ["id", "name"])
    tgt = stamp_full_load(src).withColumn("__batch_id", F.lit(0).cast("long"))
    assert validate_schema(src, tgt)["matches"]
    rep = data_quality_report(src, tgt)
    assert rep.schema_match and rep.drift == []
    assert rep.healthy


def test_detects_drift(spark):
    src = spark.createDataFrame([(1, "a")], ["id", "name"])
    tgt = stamp_full_load(src.withColumn("id", F.col("id").cast("string")))
    rep = data_quality_report(src, tgt)
    assert not rep.schema_match
    kinds = {(c.column, c.kind) for c in rep.drift}
    assert ("id", "type_changed") in kinds


def test_lm_scores_rank_typical_above_garbage(spark):
    """Char-trigram LM: corpus-typical text scores higher than an
    encoding-garbage doc; short docs score NULL with zero trigrams."""
    from pyspark.sql import functions as F

    from cdc_application_febuary_spark.functions import lm

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "qzqxjjkvv wwqzx qqqjzz xkvjzq zzz"),
        (4, "ab"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in lm.lm_scores(docs).collect()}
    assert got[1]["lm_score"] > got[3]["lm_score"]
    assert got[2]["lm_score"] > got[3]["lm_score"]
    assert got[4]["n_trigrams"] == 0 and got[4]["lm_score"] is None


def test_lm_scores_python_parity(spark):
    import math

    from cdc_application_febuary_spark.functions import lm

    rows = [(1, "abcabc"), (2, "abcd"), (3, "zzzz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["lm_score"] for r in lm.lm_scores(docs).collect()}

    def trigrams(t):
        t = t.lower().strip()
        return [t[i : i + 3] for i in range(len(t) - 2)]

    # Spark/DuckDB round HALF_UP (via the decimal string form); Python's
    # built-in round is half-even — emulate the engines' rounding
    from decimal import ROUND_HALF_UP, Decimal

    def r6(x):
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    model = {}
    for _, t in rows:
        for g in trigrams(t):
            model[g] = model.get(g, 0) + 1
    T, D = sum(model.values()), len(model)
    for d, t in rows:
        # the engines SUM the rounded log-probs as exact DECIMAL(18,6)
        # and only then divide in double — mirror that (a naive float
        # sum drifts a half-ulp across the rounding boundary)
        lps = [
            Decimal(repr(math.log((model[g] + 1) / (T + D)))).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
            for g in trigrams(t)
        ]
        want = r6(float(sum(lps)) / len(lps))
        assert got[d] == want, (d, got[d], want)


def test_lm_cross_corpus_unseen_trigrams_smoothed(spark):
    from cdc_application_febuary_spark.functions import lm

    train = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    model = lm.trigram_model(train)
    test = spark.createDataFrame([(9, "xyzzy plugh")], "doc_id long, text string")
    got = lm.lm_scores(test, model=model).collect()[0]
    assert got["lm_score"] is not None  # unseen mass smoothed, not -inf
