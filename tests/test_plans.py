"""Physical-plan shape assertions — the scale contract, checked in CI:
pushdown reaches the parquet scan, small dims broadcast, the extraction
pipeline shuffles exactly once, and hot-path expressions stay in
WholeStageCodegen (no Python in the relational operators)."""

from __future__ import annotations

import pytest

from pdf_extract_spark import generator
from pdf_extract_spark.pipeline import run_extraction
from pdf_extract_spark.queries import QUERIES
from pdf_extract_spark.schemas import DOCUMENTS

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(QUERIES["pricing_summary"](spark, SF))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_column_pruning(spark):
    plan = _plan(QUERIES["status_counts"](spark, SF))
    # scan must read only the status column, not the whole orders schema
    assert "ReadSchema: struct<o_orderstatus:string>" in plan


def test_broadcast_join_selected(spark):
    plan = _plan(QUERIES["join_orders_customers"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_extraction_single_exchange(spark):
    docs = spark.createDataFrame(generator.make_corpus(10, seed=2), schema=DOCUMENTS)
    df = run_extraction(docs, num_partitions=4)
    plan = _plan(df)
    # exactly one Exchange node: the mandated repartitionByRange
    n_exchange = plan.count("+- Exchange") + plan.count("   Exchange")
    assert "rangepartitioning" in plan
    assert n_exchange == 1, plan
    assert plan.count("ArrowEvalPython") == 1, plan
    # the kernel is an arrow_udf: Arrow in, Arrow out, no pandas on the
    # hot path
    from pyspark.util import PythonEvalType

    from pdf_extract_spark.operators.extract import extract_spans

    assert extract_spans.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF


def test_agg_is_partial_and_jvm_side(spark):
    df = QUERIES["pricing_summary"](spark, SF)
    plan = _plan(df)
    # map-side combine (partial aggregation) before the exchange
    assert "partial_sum" in plan
    assert "ArrowEvalPython" not in plan  # no Python in the relational path
    assert "BatchEvalPython" not in plan
    # whole-stage codegen spans appear once AQE finalizes the plan
    df.collect()
    final = _plan(df)
    assert "isFinalPlan=true" in final
    assert "*(" in final  # the WholeStageCodegen stage marker


@pytest.mark.parametrize(
    "name", ["token_count", "quality_score", "lang_id", "textclean", "repetition_stats"]
)
def test_text_ops_are_jvm_side(spark, name):
    """Text-analysis queries must compile to pure Catalyst expressions —
    no Python evaluation nodes anywhere in the plan."""
    plan = _plan(QUERIES[name](spark, SF))
    assert "EvalPython" not in plan, name


def test_pack_documents_plan_single_exchange(spark):
    """pack_documents must plan EXACTLY one Exchange — the hash
    distribution on bucket that groupBy().applyInPandas requires — and
    one FlatMapGroupsInPandas kernel; no extra shuffle before or after
    (VERDICT r2 item 4)."""
    from pdf_extract_spark.operators.packing import pack_documents

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = pack_documents(docs, budget=128, n_buckets=8)
    plan = _plan(df)
    n_exchange = plan.count("+- Exchange") + plan.count("   Exchange")
    assert n_exchange == 1, plan
    assert "hashpartitioning(bucket" in plan, plan
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    # token counting stays JVM-side; the ONLY Python node is the kernel
    assert "EvalPython" not in plan, plan


def test_cross_corpus_band_join_carries_ids_only(spark):
    """dedup_cross_corpus's band join must shuffle ONLY (band_key,
    doc_id) rows — no shingle arrays riding the exchange — and the
    candidate dedup aggregate must hold exactly id_l/id_r; one verify
    join per side re-attaches the hashed shingles afterwards
    (VERDICT r2 item 4)."""
    import re

    from pdf_extract_spark.operators import dedup as D

    left = spark.createDataFrame(
        [(i, f"left doc {i} shares the quick brown fox line {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    right = spark.createDataFrame(
        [(100 + i, f"right doc {i} shares the quick brown fox line {i % 3}") for i in range(40)],
        "doc_id long, text string",
    )
    out = D.minhash_lsh_pairs_between(left, right, threshold=0.1, max_bucket=64)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out.collect()
        plan = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

    # candidate dedup holds bare id pairs (no payload columns)
    assert re.search(
        r"HashAggregate\(keys=\[id_l#\d+L?, id_r#\d+L?\], functions=\[\], "
        r"output=\[id_l#\d+L?, id_r#\d+L?\]\)",
        plan,
    ), plan
    # the band-join inputs project to exactly (doc_id, band_key): any
    # shingle array (sh#N) riding an Exchange would be a regression
    assert not re.search(r"Exchange [^\n]*\bsh#\d+", plan), plan


def test_cap_hot_bands_single_exchange_no_broadcast_no_second_pass(spark):
    """The max_bucket guard is a WINDOW count over band_key riding the
    ONE hashpartitioning(band_key) Exchange the band self-join needs
    anyway: no BroadcastExchange of any band-size relation (the COLD key
    set is corpus-sized — VERDICT r4 item 2 — and even the bounded HOT
    set would cost a second corpus pass), and the self-join's second
    side resolves to a ReusedExchange so the minhash upstream is
    computed ONCE."""
    import re

    from pdf_extract_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(i, f"doc {i} body shares the quick brown fox line {i % 3}") for i in range(60)],
        "doc_id long, text string",
    )
    out = D.minhash_lsh_pairs(df, threshold=0.1, max_bucket=50)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out.collect()  # AQE materializes exchange reuse at runtime
        full = _plan(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    i, j = full.find("== Final Plan =="), full.find("== Initial Plan ==")
    final = full[i:j] if 0 <= i < j else full
    # the filter keeps n <= cap via the window count
    assert re.search(r"_n_docs#\d+L? <= 50", final), final
    # the cap path joins NOTHING: no anti-join of a hot set, no
    # broadcast of any band-size relation
    assert "LeftAnti" not in final, final
    assert "BroadcastExchange" not in final, final
    # the corpus-sized minhash upstream (shingle explode into band rows)
    # is computed exactly ONCE: the self-join's second side and the
    # window both ride ReusedExchange over the one band_key shuffle
    assert final.count("Generate explode") == 1, final
    assert "ReusedExchange" in final, final


def test_decontaminate_broadcasts_eval_grams(spark):
    """decontaminate must never shuffle the corpus by gram: the eval
    gram set broadcasts (BroadcastHashJoin), so the only shuffles are
    the distinct over the SMALL eval side and the final per-doc
    re-aggregation on doc_id."""
    plan = _plan(QUERIES["decontaminate"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    n_exchange = plan.count("+- Exchange") + plan.count("   Exchange")
    assert n_exchange == 2, plan  # eval distinct + groupBy(doc_id)
    assert "hashpartitioning(doc_id" in plan, plan


def test_pii_scrub_is_map_only(spark):
    """pii_scrub is a single map-side projection: no shuffle, no
    Python — the whole redaction chain stays in codegen'd JVM regex."""
    plan = _plan(QUERIES["pii_scrub"](spark, SF))
    n_exchange = plan.count("+- Exchange") + plan.count("   Exchange")
    assert n_exchange == 0, plan
    assert "EvalPython" not in plan, plan
