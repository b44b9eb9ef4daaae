"""Streaming seen-set (state-store dedup) vs the batch distinct set."""

from pyspark.sql import functions as F


def test_streaming_first_occurrence_matches_batch_distinct(spark, corpus, tmpdir_path):
    from image_search_indexing_spark.frontier.extract import media_refs
    from image_search_indexing_spark.streaming.dedup import run_streaming_seen

    docs, meta = corpus["docs"], corpus["meta"]
    src = f"{tmpdir_path}/sd_src"
    docs.join(meta, "doc_id").write.mode("overwrite").parquet(src)

    got = run_streaming_seen(spark, src, "t_seen_live")
    want = (
        media_refs(docs, meta)
        .where(F.col("drop_reason").isNull())
        .select("url_hash")
        .distinct()
    )
    got_set = {r["url_hash"] for r in got.select("url_hash").collect()}
    want_set = {r["url_hash"] for r in want.collect()}
    assert got_set == want_set
    # exactly one row per url (first occurrence only)
    assert got.count() == len(got_set)
