"""Multi-way segment merge: term-keyed sort-merge shuffle with explicit
hot-term salting.

Reference semantics (crates/tantivy/src/indexer/merger.rs:394-563): a
k-way merge of sorted term streams; per term, member segments' posting
lists are concatenated in doc order (doc ids remapped by stacking) and
re-serialized. In this engine doc ids are *globally stable* (dense rank
of (conv_id, turn_idx)), so member lists are already disjoint,
doc-sorted runs — the merge is a regroup + re-block.

Skew design (the "salting" the build rule demands): a groupBy(term)
would funnel a hot term's entire posting payload (possibly GBs at
10^12 turns) through one task. Instead:

- **cold terms** (df within the merge group <= hot_df_threshold):
  shuffled by (new_segment, term) and fully re-blocked into dense
  128-doc blocks — the common case, perfectly packed output.
- **hot terms** (df above threshold): their block payloads NEVER
  converge on one task. Each (term, source_segment) salt keeps its
  self-contained blocks verbatim; only block_id is renumbered with a
  cumulative per-salt offset (a tiny metadata aggregation + broadcast
  join + narrow map). Cost: at most one under-full boundary block per
  source segment per hot term — exactly the trade tantivy's stacking
  merge makes.

Correctness relies on blocks being self-contained (docs delta base -1),
so a concatenation of runs is a valid posting list.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import fsio
from .build import TERM_STATS_RG_BYTES, IndexPaths, posting_rg_bytes
from .segment import INDEX_ROW_SCHEMA

DEFAULT_HOT_DF = 500_000


def merge_segments(
    spark: SparkSession,
    index_path: str,
    out_path: str,
    target_segments: int = 1,
    hot_df_threshold: int = DEFAULT_HOT_DF,
    fuzzy_sidecar: bool | None = None,
) -> IndexPaths:
    src = IndexPaths(index_path)
    dst = IndexPaths(out_path)
    fsio.makedirs(dst.manifest_dir)
    stats = fsio.read_json(src.stats)

    seg_dirs = sorted(
        int(d.split("=")[1])
        for d in fsio.list_subdirs(os.path.join(src.index, "kind=p"))
        if d.startswith("segment_id=")
    )
    n_src = len(seg_dirs)
    group = max(1, math.ceil(n_src / target_segments))
    seg_map = {s: i // group for i, s in enumerate(seg_dirs)}
    # segment -> merge-group lookup as a broadcast join, not a create_map
    # literal: at ~10^5 source segments a map literal becomes a giant
    # expression tree; a broadcast hash join stays O(1) per row
    seg_map_df = F.broadcast(spark.createDataFrame(
        [(int(s), int(g)) for s, g in seg_map.items()],
        "segment_id int, new_seg int"))

    def _remap(df):
        """Replace segment_id with its merge-group id via broadcast join."""
        return (df.join(seg_map_df, "segment_id")
                .drop("segment_id")
                .withColumnRenamed("new_seg", "segment_id"))

    p = (spark.read.option("basePath", src.index)
         .parquet(os.path.join(src.index, "kind=p"))
         .join(seg_map_df, "segment_id"))

    # df per term within each merge group decides hot vs cold
    group_df = (p.groupBy("new_seg", "term")
                .agg(F.sum("ndocs").alias("group_df")))
    p = p.join(group_df, ["new_seg", "term"])

    cold = p.filter(F.col("group_df") <= hot_df_threshold)
    hot = p.filter(F.col("group_df") > hot_df_threshold)

    # ---- cold: full re-block per (new_seg, term) ------------------------
    def reblock(pdf):
        import numpy as np
        import pandas as pd

        from .. import BLOCK_SIZE
        from ..codec import (
            decode_docs,
            decode_positions,
            decode_tfs,
            encode_docs,
            encode_positions,
            encode_tfs,
        )

        pdf = pdf.sort_values(["segment_id", "block_id"])
        docs = np.concatenate([decode_docs(b) for b in pdf["docs"]])
        tfs = np.concatenate([decode_tfs(b) for b in pdf["tfs"]])
        fnids = np.frombuffer(b"".join(pdf["fnids"]), dtype=np.uint8)
        has_pos = pdf["positions"].notna().all()
        if has_pos:
            poss = np.concatenate([
                decode_positions(bp, decode_tfs(bt))
                for bp, bt in zip(pdf["positions"], pdf["tfs"])])
        # globally stable doc ids: runs are disjoint, so the concatenation
        # is normally already doc-sorted. When it is not (overlapping or
        # out-of-order source runs), docs/tfs/fnids AND the ragged
        # positions stream must be permuted together — permuting only the
        # fixed-width arrays would attach position lists to wrong docs.
        if docs.size > 1 and not np.all(docs[:-1] < docs[1:]):
            order = np.argsort(docs, kind="stable")
            if has_pos:
                pre_off = np.zeros(len(tfs) + 1, dtype=np.int64)
                np.cumsum(tfs, out=pre_off[1:])
                starts = pre_off[:-1][order]
            docs, tfs, fnids = docs[order], tfs[order], fnids[order]
            if has_pos and poss.size:
                new_off = np.zeros(len(tfs) + 1, dtype=np.int64)
                np.cumsum(tfs, out=new_off[1:])
                gather = (np.repeat(starts, tfs) + np.arange(poss.size)
                          - np.repeat(new_off[:-1], tfs))
                poss = poss[gather]
        out = []
        pos_off = np.zeros(len(tfs) + 1, dtype=np.int64)
        np.cumsum(tfs, out=pos_off[1:])
        new_seg = int(pdf["new_seg"].iloc[0])
        term = pdf["term"].iloc[0]
        for bi, s in enumerate(range(0, docs.size, BLOCK_SIZE)):
            e = min(s + BLOCK_SIZE, docs.size)
            d, t, fn = docs[s:e], tfs[s:e], fnids[s:e]
            row = {
                "kind": "p", "segment_id": new_seg, "term": term,
                "block_id": bi, "first_doc": int(d[0]),
                "last_doc": int(d[-1]), "ndocs": int(d.size),
                "docs": encode_docs(d), "tfs": encode_tfs(t),
                "fnids": fn.tobytes(),
                "positions": (encode_positions(
                    poss[pos_off[s]:pos_off[e]], t) if has_pos else None),
                "block_max_tf": int(t.max()),
                "block_min_fnid": int(fn.min()),
            }
            out.append(row)
        cols = [c.split()[0] for c in INDEX_ROW_SCHEMA.split(", ")]
        return pd.DataFrame(out).reindex(columns=cols)

    cold_out = (cold.groupBy("new_seg", "term")
                .applyInPandas(reblock, schema=INDEX_ROW_SCHEMA))

    # ---- hot: salt by source segment, renumber block ids ----------------
    w = (Window.partitionBy("new_seg", "term").orderBy("segment_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    salt_counts = (hot.groupBy("new_seg", "term", "segment_id")
                   .agg(F.count("*").alias("nblk")))
    offsets = salt_counts.withColumn(
        "blk_offset", F.sum("nblk").over(w) - F.col("nblk"))
    hot_out = (
        hot.join(F.broadcast(offsets.select(
            "new_seg", "term", "segment_id", "blk_offset")),
            ["new_seg", "term", "segment_id"])
        .withColumn("block_id", F.col("block_id") + F.col("blk_offset"))
        .withColumn("kind", F.lit("p"))
        .withColumn("segment_id", F.col("new_seg"))
    )
    cols = [c.split()[0] for c in INDEX_ROW_SCHEMA.split(", ")]
    hot_out = hot_out.select(*[
        F.col(c) if c in hot_out.columns else F.lit(None).alias(c)
        for c in cols])

    (cold_out.unionByName(hot_out)
     .sortWithinPartitions("kind", "segment_id", "term", "block_id")
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .option("parquet.block.size", posting_rg_bytes())
     .partitionBy("kind", "segment_id")
     .parquet(dst.index))

    # ---- d / t / g rows re-aggregated -----------------------------------
    d_rows = _remap(spark.read.option("basePath", src.index)
                    .parquet(os.path.join(src.index, "kind=d"))
                    ).withColumn("kind", F.lit("d"))
    (d_rows.select(*[F.col(c) if c in d_rows.columns
                     else F.lit(None).alias(c) for c in cols])
     .write.mode("overwrite").partitionBy("kind", "segment_id")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(dst.index))

    t_rows = (_remap(spark.read.option("basePath", src.index)
                     .parquet(os.path.join(src.index, "kind=t")))
              .groupBy("segment_id", "term")
              .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
              .withColumn("kind", F.lit("t")))
    (t_rows.select(*[F.col(c) if c in t_rows.columns
                     else F.lit(None).alias(c) for c in cols])
     .write.mode("overwrite").partitionBy("kind", "segment_id")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(dst.index))

    g_rows = (_remap(spark.read.option("basePath", src.index)
                     .parquet(os.path.join(src.index, "kind=g")))
              .groupBy("segment_id")
              .agg(F.sum("num_docs").alias("num_docs"),
                   F.sum("num_terms").alias("num_terms"),
                   F.sum("total_tokens").alias("total_tokens"),
                   F.sum("posting_bytes").alias("posting_bytes"))
              .withColumn("kind", F.lit("g")))
    (g_rows.select(*[F.col(c) if c in g_rows.columns
                     else F.lit(None).alias(c) for c in cols])
     .write.mode("overwrite").partitionBy("kind", "segment_id")
     .option("partitionOverwriteMode", "dynamic")
     .parquet(dst.index))

    # term_stats unchanged globally — rewrite from merged t rows
    (spark.read.option("basePath", dst.index)
     .parquet(os.path.join(dst.index, "kind=t"))
     .groupBy("term").agg(F.sum("df").alias("df"),
                          F.sum("ttf").alias("ttf"))
     .repartitionByRange(max(1, min(32, target_segments)), "term")
     .sortWithinPartitions("term")
     .write.mode("overwrite")
     .option("parquet.block.size", TERM_STATS_RG_BYTES)
     .parquet(dst.term_stats))

    new_stats = dict(stats)
    new_stats["num_segments"] = len(set(seg_map.values()))
    new_stats["merged_from"] = index_path
    new_stats["segment_map"] = {str(k): v for k, v in seg_map.items()}
    new_stats["turns_path"] = stats.get(
        "turns_path", os.path.join(index_path, "turns"))
    # the deletion sidecar is a term-dictionary artifact — rebuild it
    # against the merged term_stats so fuzzy lookups stay O(row-group)
    # after the merge (default: rebuild iff the source index had one)
    src_side = os.path.join(index_path, "fuzzy_deletes")
    if fuzzy_sidecar is None:
        fuzzy_sidecar = fsio.exists(src_side)
    if fuzzy_sidecar:
        from .build import build_fuzzy_sidecar

        side_d = 1
        meta_p = os.path.join(src_side, "_sidecar.json")
        if fsio.exists(meta_p):
            side_d = int(fsio.read_json(meta_p).get("max_d", 1))
        build_fuzzy_sidecar(spark, out_path, max_d=side_d)
    fsio.write_json(dst.stats, new_stats)
    fsio.write_json(
        os.path.join(dst.manifest_dir, "merge.json"),
        {"source": index_path, "segment_map":
         {str(k): v for k, v in seg_map.items()},
         "hot_df_threshold": hot_df_threshold})
    return dst
