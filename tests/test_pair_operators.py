"""The four near-dup pair operators on NULL keys and against the DuckDB
oracle. ``text_dup_groups`` reaches ``minhash_candidate_pairs``, the two
``simhash_pairs`` queries ``simhash_candidate_pairs``,
``media_phash_pairs`` ``hamming_pairs`` and ``media_audio_pairs``
``audio_fp_pairs`` (``media_video_pairs`` runs the same operator, and its
oracle SQL alone takes about a minute at sf0.001)."""

import pytest

from image_search_indexing_spark.operators import dedup as D

ORACLE_QUERIES = ("media_phash_pairs", "media_audio_pairs", "simhash_pairs",
                  "simhash_pairs_xx", "text_dup_groups")


def test_null_keys(spark):
    """A NULL key pairs with nothing in ``minhash_candidate_pairs`` (text)
    and ``hamming_pairs`` (hash). ``simhash_candidate_pairs`` gives a NULL
    text, like an empty one, SimHash 0, so those four docs pair at
    hamming 0 through the group-min id 1."""
    same = "the quick brown fox jumps over the lazy dog"
    rows = [(1, None, None), (2, None, None), (3, same, 0x123456789ABCDEF),
            (4, same, 0x123456789ABCDEF), (5, "", 0), (6, "", 0x7FFFFFFFFFFFFFFF),
            (7, "pack my box with five dozen liquor jugs", 0x0F0F0F0F0F0F0F0F)]
    df = spark.createDataFrame(rows, "doc_id long, text string, phash long")

    def pairs(out):
        return sorted(tuple(r) for r in out.collect())

    assert pairs(D.minhash_candidate_pairs(df)) == [(3, 4), (5, 6)]
    assert pairs(D.simhash_candidate_pairs(df)) == [
        (1, 2, 0), (1, 5, 0), (1, 6, 0), (3, 4, 0)]
    assert pairs(D.hamming_pairs(df)) == [(3, 4, 0)]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_pair_queries_equal_the_duckdb_oracle(oracle, name):
    oracle(name)
