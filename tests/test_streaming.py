"""Live-index tests: micro-batch ingest, replay idempotency, TTL prune,
compaction, and a real Structured Streaming run (availableNow)."""

import numpy as np
import pytest


@pytest.fixture()
def chunks(transcripts_small):
    pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(900)
    return [pdf.iloc[0:300], pdf.iloc[300:600], pdf.iloc[600:900]]


def _oracle_for(frames):
    import pandas as pd

    from cuely_spark.oracle import OracleIndex

    allp = pd.concat(frames, ignore_index=True)
    # live ids: arrival order, sorted by (conv_id, turn_idx) per batch
    texts, ids, base = [], [], 0
    for f in frames:
        f = f.sort_values(["conv_id", "turn_idx"])
        texts.extend(f["text"].tolist())
        ids.extend(range(base, base + len(f)))
        base += len(f)
    assert len(allp) == len(texts)
    return OracleIndex(np.array(ids), texts)


def test_live_ingest_and_search(spark, chunks, tmp_path):
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    root = str(tmp_path / "live")
    w = LiveIndexWriter(spark, root)
    for bid, c in enumerate(chunks):
        w.process_batch(spark.createDataFrame(c), bid)
        r = IndexReader(spark, root)
        oracle = _oracle_for(chunks[:bid + 1])
        docs, scores = r.search_collect("the test", k=10)
        od, os_ = oracle.search("the test", k=10)
        assert docs.tolist() == od.tolist(), f"batch {bid}"
        np.testing.assert_allclose(scores, os_.astype(np.float64),
                                   rtol=1e-6)



def test_row_store_read_once_per_snapshot(spark, chunks, tmp_path,
                                          monkeypatch):
    """A reader lists and reads the row store once per snapshot: a
    second match-all count makes no new spark.read.parquet, a live
    batch stays invisible until refresh(), which picks it up."""
    from pyspark.sql.readwriter import DataFrameReader

    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    root = str(tmp_path / "live")
    w = LiveIndexWriter(spark, root)
    w.process_batch(spark.createDataFrame(chunks[0]), 0)
    r = IndexReader(spark, root)
    reads = []
    parquet = DataFrameReader.parquet

    def counting(self, *paths, **kw):
        reads.extend(paths)
        return parquet(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", counting)
    assert r.count("*") == 300
    assert r._turns_path in reads
    n_reads = len(reads)
    assert r.count("*") == 300
    assert len(reads) == n_reads

    w.process_batch(spark.createDataFrame(chunks[1]), 1)
    assert r.count("*") == 300
    r.refresh()
    assert r.count("*") == 600
    new = chunks[1].iloc[0]
    assert r.get_turn(new["conv_id"], int(new["turn_idx"])).count() == 1


def test_replay_idempotent(spark, chunks, tmp_path):
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    root = str(tmp_path / "live")
    w = LiveIndexWriter(spark, root)
    w.process_batch(spark.createDataFrame(chunks[0]), 0)
    w.process_batch(spark.createDataFrame(chunks[1]), 1)
    st = dict(w.state)
    # replay batch 1 (as a restarted stream would)
    w.process_batch(spark.createDataFrame(chunks[1]), 1)
    assert w.state["next_doc_id"] == st["next_doc_id"]
    r = IndexReader(spark, root)
    assert r.stats["num_docs"] == 600


def test_prune_and_compact(spark, chunks, tmp_path):
    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    root = str(tmp_path / "live")
    w = LiveIndexWriter(spark, root)
    for bid, c in enumerate(chunks):
        w.process_batch(spark.createDataFrame(c), bid)
    assert w.prune_older_than(1) == 1
    r = IndexReader(spark, root)
    assert r.stats["num_docs"] == 600

    merged = w.compact(str(tmp_path / "compacted"), target_segments=1,
                       hot_df_threshold=50)
    rm = IndexReader(spark, merged.root)
    assert rm.stats["num_segments"] == 1
    d1, s1 = r.search_collect("example website", k=10)
    d2, s2 = rm.search_collect("example website", k=10)
    assert d1.tolist() == d2.tolist()
    np.testing.assert_array_equal(s1, s2)


def test_real_structured_stream(spark, chunks, tmp_path):
    """availableNow file-source stream through foreachBatch."""
    import os

    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    src_dir = str(tmp_path / "arrivals")
    os.makedirs(src_dir)
    for i, c in enumerate(chunks[:2]):
        spark.createDataFrame(c).coalesce(1).write.mode("append") \
            .parquet(src_dir)
    root = str(tmp_path / "live")
    w = LiveIndexWriter(spark, root)
    schema = spark.read.parquet(src_dir).schema
    q = (spark.readStream.schema(schema).parquet(src_dir)
         .writeStream.foreachBatch(w.sink())
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    r = IndexReader(spark, root)
    assert r.stats["num_docs"] == 600
    docs, _ = r.search_collect("website", k=5)
    assert docs.size > 0


def test_live_index_with_shadow_fields(spark, tmp_path):
    """Live micro-batches honor ngram/stem flags: a compound-word query
    matches a streamed doc whose only token is the compound, and the
    flags survive replay's full stats rebuild."""
    import numpy as np

    from cuely_spark.queryengine import IndexReader
    from cuely_spark.streaming import LiveIndexWriter

    root = str(tmp_path / "live_ng")
    w = LiveIndexWriter(spark, root, text_col="text",
                        order_cols=("doc_id",), ngram_max=3, stem=True)
    b0 = spark.createDataFrame(
        [(0, "i love new york"), (1, "newyork"), (2, "running fast")],
        "doc_id long, text string")
    w.process_batch(b0, 0)
    r = IndexReader(spark, root)
    docs, _ = r.search_collect("new york", k=10, dtype=np.float64)
    assert set(docs.tolist()) == {0, 1}
    docs, _ = r.search_collect("runs", k=10, dtype=np.float64)
    assert set(docs.tolist()) == {2}  # stemmed: runs -> run(ning)
    # replay triggers the full stats rebuild; flags must survive
    w.process_batch(b0, 0)
    r2 = IndexReader(spark, root)
    assert r2.stats["ngram_max"] == 3 and r2.stats["stemmed"] is True
    docs, _ = r2.search_collect("new york", k=10, dtype=np.float64)
    assert set(docs.tolist()) == {0, 1}


def test_live_seg_base_clears_existing_bulk_segments(spark, tmp_path):
    """Live batches added next to a bulk index whose segment ids reach
    past LIVE_SEG_BASE must NOT overwrite bulk partitions: the writer
    derives its segment base from max(existing segment id) + 1."""
    import os

    from cuely_spark.streaming import LiveIndexWriter
    from cuely_spark.streaming.live_index import LIVE_SEG_BASE

    root = tmp_path / "live_base"
    # simulate a huge bulk build owning ids past the static floor
    big = LIVE_SEG_BASE + 23_456
    bulk_turns = root / "turns" / f"segment_id={big}"
    bulk_post = root / "index" / "kind=p" / f"segment_id={big}"
    os.makedirs(bulk_turns)
    os.makedirs(bulk_post)
    marker = bulk_turns / "keep.txt"
    marker.write_text("bulk data, do not clobber")

    w = LiveIndexWriter(spark, str(root), text_col="text",
                        order_cols=("doc_id",))
    assert w.state["seg_base"] == big + 1
    b0 = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta gamma")],
        "doc_id long, text string")
    w.process_batch(b0, 0)
    assert marker.read_text() == "bulk data, do not clobber"
    assert all(s > big for s in w.state["batches"]["0"]["segments"])
    # a second writer instance reuses the persisted base
    w2 = LiveIndexWriter(spark, str(root), text_col="text",
                         order_cols=("doc_id",))
    assert w2.state["seg_base"] == big + 1


def test_live_writer_refuses_bulk_root(spark, transcripts_small, tmp_path):
    """A bulk index keys its row store by per-segment offsets that live
    batches do not extend (their turns would vanish from count("*"),
    get_turn and every row-store read), and its doc ids would collide
    with live ones: the writer refuses the root instead."""
    from cuely_spark.indexer import build_index
    from cuely_spark.streaming import LiveIndexWriter

    root = str(tmp_path / "bulk")
    pdf = transcripts_small.drop(columns=["expected_doc_id"]).head(400)
    build_index(spark, spark.createDataFrame(pdf), root,
                rows_per_segment=200)
    with pytest.raises(ValueError, match="bulk or merged index"):
        LiveIndexWriter(spark, root)
