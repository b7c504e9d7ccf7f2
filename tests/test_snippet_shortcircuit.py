"""Snippets + ShortCircuit cap."""

import numpy as np
import pytest

from cuely_spark.queryengine.snippet import make_snippet


def test_snippet_highlights_and_windows():
    text = ("alpha beta gamma " * 10
            + "needle haystack needle match here "
            + "delta epsilon " * 10)
    s = make_snippet(text, "needle match", window=8)
    assert "<b>needle</b>" in s and "<b>match</b>" in s
    # the window sits over the match region, not the document start/end
    assert s.startswith("… ") and s.endswith(" …")
    assert s.count("alpha") <= 1


def test_snippet_rare_term_wins_with_idf():
    text = "common word here " * 5 + "rareterm appears once " + \
        "common word again " * 5
    s = make_snippet(text, "common rareterm",
                     idf_by_term={"common": 0.1, "rareterm": 5.0},
                     window=6)
    assert "<b>rareterm</b>" in s


def test_snippet_no_match_prefix():
    assert make_snippet("just some text", "absent", max_chars=10) == \
        "just some "


def test_shortcircuit_cap(transcripts_small, oracle_small):
    """Capped search considers only the first N candidates per segment
    (doc order) — verified against a capped oracle."""
    from cuely_spark.bm25 import Bm25Weight
    from cuely_spark.indexer.segment import build_segment_rows
    from cuely_spark.queryengine.kernel import segment_topk
    from cuely_spark.queryengine.parser import parse_query

    from test_kernel_oracle import _tp_from_rows

    rows = build_segment_rows(
        transcripts_small["expected_doc_id"].to_numpy(),
        transcripts_small["text"].tolist(), segment_id=0)
    p = rows[rows["kind"] == "p"]
    q = "the website"
    pq = parse_query(q)
    specs = []
    for c in pq.positive:
        t = c.tokens[0]
        w = Bm25Weight(oracle_small.df(t), oracle_small.num_docs,
                       oracle_small.avg_fieldnorm)
        specs.append(("term", _tp_from_rows(p, t), w))
    docs_capped, _ = segment_topk(specs, [], 10, max_docs=50)
    docs_full, _ = segment_topk(specs, [], 10)
    # capped docs must come from the first 50 candidates in doc order
    all_cand = sorted(set(oracle_small.postings["the"])
                      & set(oracle_small.postings["website"]))
    allowed = set(all_cand[:50])
    assert set(docs_capped.tolist()) <= allowed
    assert docs_capped.size == 10
    # uncapped matches the oracle
    od, _ = oracle_small.search(q, k=10)
    assert docs_full.tolist() == od.tolist()


def test_with_snippets_spark(spark, transcripts_small, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.queryengine.snippet import with_snippets

    df = spark.createDataFrame(
        transcripts_small.drop(columns=["expected_doc_id"]))
    out = str(tmp_path_factory.mktemp("idx_snip"))
    build_index(spark, df, out, rows_per_segment=3000)
    r = IndexReader(spark, out)
    q = "example website"
    top = r.search(q, k=5)
    texts = r.turns_df.select("doc_id", "text")
    joined = top.join(texts, "doc_id")
    rows = with_snippets(joined, r, q).collect()
    assert len(rows) == 5
    assert all("<b>" in row["snippet"] for row in rows)
