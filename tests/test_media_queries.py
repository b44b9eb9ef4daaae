"""The media queries against the DuckDB oracle at sf0.001: the indexer's
byte path (``indexer_compact``, ``indexer_media_counters``), the image
header parsers and P2 gate (``media_dims``, ``media_dims_ext``), the
thumbnail path (``media_thumbs``), the WAVE walk (``media_audio``) and
the AVI frame walk (``media_video``, ``media_video_fp``)."""

import pytest

MEDIA_QUERIES = ("indexer_compact", "indexer_media_counters", "media_dims", "media_dims_ext",
                 "media_thumbs", "media_audio", "media_video", "media_video_fp")


@pytest.mark.parametrize("name", MEDIA_QUERIES)
def test_media_queries_equal_the_duckdb_oracle(oracle, name):
    oracle(name)
