"""Content-defined chunking (d16): the shift-resistance CDC exists
for, the max-cap bound, and degenerate-input behavior."""

import hashlib

from pyspark.sql import functions as F

from parity_refs import cdc_bounds_col

from hepcrawl_spark.operators.dedup import cdc_bounds_udf, cdc_chunk_table


def _diverse_text(n_words=400, seed=7):
    # deterministic high-entropy words so the 1/64 cut rule actually
    # fires (a repeated phrase has < 64 distinct windows and may
    # legitimately never cut)
    words = [hashlib.md5(f"{seed}:{i}".encode()).hexdigest()[:6]
             for i in range(n_words)]
    return " ".join(words)


def test_cdc_shift_resistance(spark):
    # prepend 9 chars: after the first shared content cut, every
    # later chunk re-aligns, so the two docs share most chunk hashes —
    # the property fixed-size blocking lacks by construction
    body = _diverse_text()
    docs = spark.createDataFrame(
        [(1, body), (2, "PREFIX!! " + body)], "doc_id long, text string")

    tab = cdc_chunk_table(docs)
    shared = tab.count()  # chunks seen in BOTH docs (freq >= 2)
    per_doc = docs.select(
        (F.size(cdc_bounds_col(F.col("text"))) - 1).alias("n")
    ).collect()
    n1, n2 = (r.n for r in per_doc)
    # most chunks shared despite the shift
    assert shared >= 0.7 * min(n1, n2)
    # fixed-size blocking on the same pair shares almost nothing
    fixed = docs.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(0),
                           F.floor((F.length("text") - 1) / 256).cast("int")),
                lambda k: F.substring(F.col("text"), k * 256 + 1, 256),
            )
        ).alias("blk")
    ).groupBy("blk").count().filter("count >= 2").count()
    assert fixed < shared


def test_cdc_max_cap_and_coverage(spark):
    # bounds ascend, chunks are <= max_chunk, and concatenating the
    # chunks reproduces the document exactly (lossless split)
    text = _diverse_text(300, seed=11)
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    b = docs.select(cdc_bounds_col(F.col("text"), max_chunk=256)
                    .alias("b")).collect()[0].b
    assert b[0] == 0 and b[-1] == len(text)
    assert all(x < y for x, y in zip(b, b[1:]))
    assert all(y - x <= 256 for x, y in zip(b, b[1:]))
    joined = "".join(text[x:y] for x, y in zip(b, b[1:]))
    assert joined == text


def test_cdc_degenerate_inputs(spark):
    docs = spark.createDataFrame(
        [(1, ""), (2, None), (3, "tiny"), (4, "z" * 700)],
        "doc_id long, text string")
    rows = {r.doc_id: r.b for r in docs.select(
        "doc_id", cdc_bounds_col(F.col("text")).alias("b")).collect()}
    assert rows[1] == [0] and rows[2] == [0]       # no chunks
    assert rows[3] == [0, 4]                        # one whole-doc chunk
    # constant text has one distinct window -> only max-cap strides
    assert rows[4] == [0, 256, 512, 700]
    # and the chunk table never counts the empty docs
    assert cdc_chunk_table(docs).filter("chunk_len = 0").count() == 0


def test_cdc_plan_single_scan_one_exchange_no_python(spark):
    # the codegen reference bounds: zero Python of any kind, in-row
    # (no exchange); the chunk table around them is shared code whose
    # one-exchange envelope the arrow test below pins
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = docs.select(cdc_bounds_col(F.col("text"))) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "MapInPandas" not in plan
    assert plan.count("FileScan") == 1
    assert "Exchange" not in plan


def test_cdc_arrow_plan_and_parity_with_codegen(spark):
    # the chunk table keeps a one-scan, one-exchange envelope with ONE
    # ArrowEvalPython for the bounds, which must equal the codegen
    # reference bounds exactly (the chunk slicing is shared code)
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    plan = cdc_chunk_table(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("FileScan") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    # bit-parity of the two paths on adversarial inputs: empty, NULL,
    # sub-window, constant (max-cap strides only), multi-byte UTF-8,
    # and a diverse body long enough to cut many times
    rows = [(1, ""), (2, None), (3, "tiny"), (4, "z" * 700),
            (5, "héllo wörld " * 60), (6, _diverse_text(300, seed=3))]
    adv = spark.createDataFrame(rows, "doc_id long, text string")
    b = {r.doc_id: r.b for r in adv.select(
        "doc_id", cdc_bounds_udf()(F.col("text")).alias("b")).collect()}
    cgb = {r.doc_id: r.b for r in adv.select(
        "doc_id", cdc_bounds_col(F.col("text")).alias("b")).collect()}
    assert b == cgb


def test_d16_registered():
    import __spark_entry__ as e
    assert "d16_cdc_chunks" in e.queries()
    assert "d16_cdc_chunks" in e.oracle_sql()
