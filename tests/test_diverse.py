"""Diversity re-ranking (the reference's BucketCollector,
crates/core/src/collector/top_docs.rs:246-363): greedy penalty
selection + simhash near-dup deferral, two-level (segment then root)
like the reference's segment collector + root into_sorted_vec."""

import numpy as np
import pytest


# ---------------------------------------------------------------- kernel
def _brute(doc_ids, scores, buckets, penalties, k, sims=None, hk=3):
    """Independent model: recompute adjusted scores from scratch each
    step with plain dict counts."""
    n = len(doc_ids)
    taken: list[dict] = [dict() for _ in penalties]
    picked_sims: list[int] = []
    remaining = list(range(n))
    picks, dups = [], []
    while len(picks) < k and remaining:
        best_i, best_adj = None, None
        for i in remaining:
            pen = sum(p * t.get(buckets[c][i], 0)
                      for c, (p, t) in enumerate(zip(penalties, taken)))
            adj = scores[i] / (1.0 + pen)
            key = (-adj, doc_ids[i])
            if best_i is None or key < best_adj:
                best_i, best_adj = i, key
        remaining.remove(best_i)
        if sims is not None and sims[best_i] != 0 and any(
                bin(int(sims[best_i]) ^ int(t)).count("1") <= hk
                for t in picked_sims):
            dups.append(best_i)
            continue
        if sims is not None and sims[best_i] != 0:
            picked_sims.append(int(sims[best_i]))
        picks.append(best_i)
        for c in range(len(penalties)):
            b = buckets[c][best_i]
            taken[c][b] = taken[c].get(b, 0) + 1
    return picks + dups[: max(0, k - len(picks))]


@pytest.mark.parametrize("seed", range(8))
def test_kernel_matches_brute_model(seed):
    from cuely_spark.queryengine.kernel import diversity_rerank

    rng = np.random.default_rng(seed)
    n = 120
    doc_ids = np.arange(n, dtype=np.int64)
    scores = np.round(rng.uniform(0.5, 10.0, n), 2)
    b0 = rng.integers(0, 6, n).astype(np.int64)
    b1 = rng.integers(0, 3, n).astype(np.int64)
    sims = rng.choice([0, 7, 6, 1 << 40, (1 << 40) | 3, 1 << 55],
                      n).astype(np.int64)
    for pens, use_sim in [([0.5, 1.0], True), ([20.0], False),
                          ([], True)]:
        bks = [b0, b1][: len(pens)]
        order, _nd = diversity_rerank(
            doc_ids, scores.astype(np.float64), bks, pens, 15,
            simhashes=sims if use_sim else None)
        exp = _brute(doc_ids, scores, bks, pens, 15,
                     sims=sims if use_sim else None)
        assert order.tolist() == exp, (pens, use_sim)


def test_kernel_penalty_pushes_down():
    from cuely_spark.queryengine.kernel import diversity_rerank

    doc = np.array([1, 2, 3, 4])
    sc = np.array([4.0, 3.9, 2.0, 1.0])
    o, nd = diversity_rerank(doc, sc, [np.array([7, 7, 8, 8])],
                             [20.0], 3)
    # doc 2 (same bucket as the pick, 3.9/21 = 0.19) drops behind
    # doc 3 from the other bucket
    assert doc[o].tolist() == [1, 3, 2] and nd == 3


# -------------------------------------------------------------- executor
@pytest.fixture(scope="module")
def div_pdf():
    from cuely_spark.datagen import generate_transcripts

    pdf = generate_transcripts(3000, seed=42)
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(
        drop=True)


@pytest.fixture(scope="module")
def one_seg(spark, div_pdf, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_div1"))
    build_index(spark, spark.createDataFrame(div_pdf), out,
                rows_per_segment=10 ** 9, store_simhash=True)
    return IndexReader(spark, out)


@pytest.fixture(scope="module")
def multi_seg(spark, div_pdf, tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_divn"))
    build_index(spark, spark.createDataFrame(div_pdf), out,
                rows_per_segment=700, store_simhash=True)
    return IndexReader(spark, out)


def _global_greedy(reader, spark, q, k, pen_col, pen, with_sim):
    """Brute: full-result search + the kernel greedy over everything
    (single level)."""
    from cuely_spark.ops.hashing import h60_py
    from cuely_spark.queryengine.kernel import diversity_rerank

    d, s = reader.search_collect(q, k=reader.num_docs, local=False)
    t = (spark.read.parquet(reader._turns_path)
         .select("__ord", "segment_id", pen_col, "simhash").toPandas())
    offs = {int(k_): int(v) for k_, v in reader._offsets.items()}
    t["doc_id"] = t["__ord"] + t["segment_id"].map(offs)
    t = t.set_index("doc_id")
    bks = np.array([h60_py(str(t.loc[i, pen_col])) for i in d])
    sims = (np.array([int(t.loc[i, "simhash"]) for i in d],
                     dtype=np.int64) if with_sim else None)
    order, _ = diversity_rerank(d, s.astype(np.float64), [bks], [pen],
                                k, simhashes=sims)
    return d[order].tolist()


def test_single_segment_equals_global_greedy(one_seg, spark):
    d, s = one_seg.search_diverse("test", k=10,
                                  penalties={"conv_id": 0.5},
                                  de_rank_similar=True)
    assert d.tolist() == _global_greedy(one_seg, spark, "test", 10,
                                        "conv_id", 0.5, True)
    # scores stay RAW (adjustment orders, never rescored)
    full_d, full_s = one_seg.search_collect("test",
                                            k=one_seg.num_docs,
                                            local=False)
    m = {int(a): float(b) for a, b in zip(full_d, full_s)}
    assert all(abs(float(sv) - m[int(dv)]) < 1e-6
               for dv, sv in zip(d, s))


def test_multi_segment_deterministic_and_noop_parity(multi_seg):
    d1, _ = multi_seg.search_diverse("test", k=10,
                                     penalties={"conv_id": 0.5})
    d2, _ = multi_seg.search_diverse("test", k=10,
                                     penalties={"conv_id": 0.5})
    assert d1.tolist() == d2.tolist()
    # no penalties + no simhash = plain ranking
    d3, s3 = multi_seg.search_diverse("test", k=10, penalties=None,
                                      de_rank_similar=False)
    p, ps = multi_seg.search_collect("test", k=10, local=False)
    assert d3.tolist() == p.tolist()
    np.testing.assert_allclose(s3, ps, rtol=1e-6)


def test_row_store_parity_with_simhash(multi_seg):
    """Penalty buckets and simhashes come from the segments' own
    row-store rows on every task (offsets mode: per-segment __ord)."""
    from test_local_path import check_row_store_parity

    check_row_store_parity(multi_seg, "test", "ts:>=2024-01-02 tool:*",
                           "conv_id", sim=True)


def test_huge_penalty_diversifies_conversations(multi_seg, spark):
    t = (spark.read.parquet(multi_seg._turns_path)
         .select("__ord", "segment_id", "conv_id").toPandas())
    offs = {int(k_): int(v) for k_, v in multi_seg._offsets.items()}
    t["doc_id"] = t["__ord"] + t["segment_id"].map(offs)
    conv = t.set_index("doc_id")["conv_id"]
    p, _ = multi_seg.search_collect("test", k=10, local=False)
    d, _ = multi_seg.search_diverse("test", k=10,
                                    penalties={"conv_id": 1000.0},
                                    de_rank_similar=False)
    # with an effectively-infinite penalty every pick comes from a new
    # conversation (there are >10 matching conversations)
    assert len({conv[i] for i in d}) == 10
    assert len({conv[i] for i in p}) < 10  # plain ranking repeats one


def test_missing_simhash_column_raises(spark, div_pdf,
                                       tmp_path_factory):
    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    out = str(tmp_path_factory.mktemp("idx_nosim"))
    build_index(spark, spark.createDataFrame(div_pdf.head(500)), out,
                rows_per_segment=10 ** 9)
    r = IndexReader(spark, out)
    with pytest.raises(ValueError, match="store_simhash"):
        r.search_diverse("test", k=5)
    # penalties-only works without the column
    d, _ = r.search_diverse("test", k=5, penalties={"conv_id": 0.5},
                            de_rank_similar=False)
    assert d.size > 0
    with pytest.raises(ValueError, match="not in the row store"):
        r.search_diverse("test", k=5, penalties={"nope": 1.0},
                         de_rank_similar=False)


def test_exact_dup_texts_deferred(spark, tmp_path_factory):
    import pandas as pd

    from cuely_spark.indexer import build_index
    from cuely_spark.queryengine import IndexReader

    rows = [(i, "alpha beta gamma delta epsilon") for i in range(5)]
    rows += [(i + 5, f"alpha word{i} tail{i} extra{i} blob{i}")
             for i in range(5)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    out = str(tmp_path_factory.mktemp("idx_dups"))
    build_index(spark, spark.createDataFrame(pdf), out,
                doc_id_col="doc_id", rows_per_segment=10 ** 9,
                store_simhash=True)
    r = IndexReader(spark, out)
    d, _ = r.search_diverse("alpha", k=10, de_rank_similar=True)
    # the four copies of doc 0's text are near-dups (identical
    # simhash): diversified picks = doc0 + the 5 distinct docs, then
    # the deferred copies backfill
    assert set(d[:6].tolist()) == {0, 5, 6, 7, 8, 9}
    assert set(d[6:].tolist()) == {1, 2, 3, 4}
