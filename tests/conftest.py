import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from cuely_spark.session import get_spark

    s = get_spark(app="cuely_spark-tests", cores=8, shuffle_partitions=8,
                  driver_mem="8g")
    yield s


@pytest.fixture(scope="session")
def transcripts_small():
    """Deterministic sf-small corpus (FIXTURES.md: ~5k turns) with stable
    dense doc ids in (conv_id, turn_idx) order."""
    import numpy as np

    from cuely_spark.datagen import generate_transcripts

    pdf = generate_transcripts(5000, seed=42)
    pdf = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pdf["expected_doc_id"] = np.arange(len(pdf), dtype=np.int64)
    return pdf


@pytest.fixture(scope="session")
def oracle_small(transcripts_small):
    from cuely_spark.oracle import OracleIndex

    return OracleIndex(
        transcripts_small["expected_doc_id"].to_numpy(),
        transcripts_small["text"].tolist(),
    )


@pytest.fixture(scope="session")
def merged(spark, transcripts_small, tmp_path_factory):
    """(source, merged) index roots: a 7-segment build merged into 2
    segments. Session-wide, as the merge is the slowest fixture."""
    from cuely_spark.indexer import build_index, merge_segments

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))
    src = str(tmp_path_factory.mktemp("merge_src"))
    build_index(spark, df, src, rows_per_segment=800, num_jobs=2)
    dst = str(tmp_path_factory.mktemp("merge_dst"))
    # hot_df_threshold=200 forces real terms ('the' df≈3600) down the
    # salted hot path while most terms re-block on the cold path
    merge_segments(spark, src, dst, target_segments=2,
                   hot_df_threshold=200)
    return src, dst


QUERY_SET = [
    "test",
    "example website",
    "this is the best example",
    '"test website"',
    '"this is a" query',
    "c++",
    "café",
    "cafe",
    "123 33",
    "the",
    "xylophonequark",
    "website -test",
    "the test -website",
    '"example website ever"',
]
