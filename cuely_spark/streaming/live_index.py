"""Structured-Streaming live index: micro-batch -> micro-segments.

Spark mapping of the reference live index
(/root/reference/crates/core/src/live_index/mod.rs:27-32, index.rs:151,
170-246): batches of incoming turns become immediately-searchable
micro-segments; a periodic compaction merges them
(:func:`cuely_spark.indexer.merge.merge_segments` is the hourly-compact
analog); TTL pruning drops segments older than a cutoff.

Semantics:
- doc ids are **arrival-dense**: batch b's docs get the next contiguous
  id range, ordered by (conv_id, turn_idx) within the batch. (The bulk
  builder's global (conv_id, turn_idx) rank needs the whole corpus; a
  stream can't have it. Stability contract: ids never change once
  assigned, and replays of the same batch_id reuse the same range.)
- exactly-once via foreachBatch + idempotent per-batch writes: segment
  dirs are keyed by batch_id and state updates are recorded per
  batch_id, so a replayed batch overwrites itself.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..indexer.build import (TERM_STATS_RG_BYTES, IndexPaths,
                             posting_rg_bytes, segment_kernel,
                             segment_offsets)
from ..indexer.segment import INDEX_ROW_SCHEMA

# live segments are namespaced above any pre-existing bulk segment id;
# each batch owns a contiguous block of MAX_SEGMENTS_PER_BATCH ids. The
# floor below only applies when the index root holds no segments yet —
# otherwise the base is derived from max(existing segment id) + 1 at
# writer init (and persisted), so live batches can never overwrite bulk
# partitions however many segments the bulk build produced.
LIVE_SEG_BASE = 100_000
MAX_SEGMENTS_PER_BATCH = 1_000


def refresh_stats(spark: SparkSession, root: str,
                  extra: dict | None = None) -> dict:
    """(Re)generate term_stats + stats.json from the index rows —
    shared by the live writer after each batch/compaction. `extra`
    carries flags the rows cannot reconstruct (ngram_max, stemmed)."""
    paths = IndexPaths(root)
    tseg = spark.read.option("basePath", paths.index).parquet(
        os.path.join(paths.index, "kind=t"))
    nparts = max(1, min(32, tseg.rdd.getNumPartitions()))
    (tseg.groupBy("term")
     .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
     .repartitionByRange(nparts, "term").sortWithinPartitions("term")
     .write.mode("overwrite")
     .option("parquet.block.size", TERM_STATS_RG_BYTES)
     .parquet(paths.term_stats))
    g = spark.read.option("basePath", paths.index).parquet(
        os.path.join(paths.index, "kind=g"))
    agg = g.agg(F.sum("num_docs").alias("nd"),
                F.sum("total_tokens").alias("tt"),
                F.sum("posting_bytes").alias("pb"),
                F.count("*").alias("nseg")).collect()[0]
    stats = {
        "num_docs": int(agg["nd"]),
        "total_tokens": int(agg["tt"]),
        "avg_fieldnorm": float(agg["tt"]) / float(agg["nd"]),
        "posting_bytes": int(agg["pb"]),
        "num_segments": int(agg["nseg"]),
        "store_positions": True,
        "live": True,
    }
    stats.update(extra or {})
    fsio.write_json(paths.stats, stats)
    return stats


class LiveIndexWriter:
    def __init__(self, spark: SparkSession, root: str,
                 text_col: str = "text",
                 order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
                 rows_per_segment: int = 100_000,
                 ngram_max: int = 0, stem: bool = False,
                 stem_lang_col: str | None = None):
        self.spark = spark
        self.paths = IndexPaths(root)
        self.text_col = text_col
        self.order_cols = list(order_cols)
        self.rows_per_segment = rows_per_segment
        self.ngram_max = ngram_max
        self.stem = stem
        self.stem_lang_col = stem_lang_col
        fsio.makedirs(self.paths.manifest_dir)
        self._state_path = os.path.join(self.paths.manifest_dir,
                                        "live_state.json")
        if fsio.exists(self._state_path):
            self.state = fsio.read_json(self._state_path)
            if "seg_base" not in self.state:  # pre-fix state files
                self.state["seg_base"] = LIVE_SEG_BASE
        else:
            if (fsio.exists(self.paths.stats)
                    and not fsio.read_json(self.paths.stats).get("live")):
                # its row store keys docs by per-segment offsets in
                # stats.json, which live batches do not extend: their
                # turns would drop out of every row-store read
                raise ValueError(
                    f"{root!r} holds a bulk or merged index; a "
                    "LiveIndexWriter needs an empty or live root")
            self.state = {"next_doc_id": 0, "batches": {},
                          "seg_base": self._derive_seg_base()}

    def _derive_seg_base(self) -> int:
        """First live segment id: above every segment already present at
        the root (a bulk build may own ids >= LIVE_SEG_BASE — DESIGN.md
        plans ~250k segments at 10^12 turns)."""
        top = -1
        for base_dir in (self.paths.turns,
                         os.path.join(self.paths.index, "kind=p")):
            if not fsio.exists(base_dir):
                continue
            for d in fsio.list_subdirs(base_dir):
                if d.startswith("segment_id="):
                    top = max(top, int(d.split("=")[1]))
        return max(LIVE_SEG_BASE, top + 1)

    # -- foreachBatch sink -------------------------------------------------
    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """Fully executor-side micro-segment build. The batch DataFrame
        never materializes on the driver: stage-A-style id assignment
        (range partition + sort + per-partition ordinal) writes the row
        store, then the shared stage-B mapInPandas kernel builds posting
        rows from the written turns. Only id-range bookkeeping (counts,
        offsets from parquet footers) touches the driver, so ingest
        scales with executors, not driver memory."""
        bkey = str(batch_id)
        prev = self.state["batches"].get(bkey)
        if prev is not None:
            base = prev["base"]          # replay: reuse the id range
        else:
            base = self.state["next_doc_id"]
        n = batch_df.count()
        if n == 0:
            return
        nseg = max(1, min(math.ceil(n / self.rows_per_segment),
                          MAX_SEGMENTS_PER_BATCH))
        seg_base = (self.state["seg_base"]
                    + batch_id * MAX_SEGMENTS_PER_BATCH)

        # 1) stage-A analog: sort, tag per-partition ordinals, stage
        staging = os.path.join(self.paths.root, "live_staging",
                               f"batch={batch_id}")
        part = (
            batch_df
            .repartitionByRange(nseg, *[F.col(c) for c in self.order_cols])
            .sortWithinPartitions(*self.order_cols)
            .withColumn("__mid", F.monotonically_increasing_id())
            .withColumn("__pid", F.spark_partition_id())
            .withColumn("__ord", F.col("__mid")
                        - (F.col("__pid").cast("long") * (1 << 33)))
            .withColumn("segment_id",
                        (F.col("__pid") + F.lit(seg_base)).cast("int"))
            .drop("__mid", "__pid")
        )
        part.write.mode("overwrite").partitionBy("segment_id") \
            .parquet(staging)
        offs, n_written = segment_offsets(staging)

        # 2) dense ids from written footers; finalize the row store
        off_map = F.create_map(*[
            F.lit(x) for s, o in sorted(offs.items())
            for x in (s, base + o)])  # <= MAX_SEGMENTS_PER_BATCH entries
        staged = self.spark.read.option("basePath", staging) \
            .parquet(staging)
        turns = (staged
                 .withColumn("doc_id", (off_map[F.col("segment_id")]
                                        + F.col("__ord")).cast("long"))
                 .drop("__ord"))
        turns.write.mode("overwrite").partitionBy("segment_id") \
            .option("partitionOverwriteMode", "dynamic") \
            .parquet(self.paths.turns)
        fsio.rmtree(staging)

        # 3) stage-B analog: posting build on executors
        segs = sorted(offs)
        src = (self.spark.read.option("basePath", self.paths.turns)
               .parquet(*[os.path.join(self.paths.turns,
                                       f"segment_id={s}") for s in segs])
               .select(*dict.fromkeys(
                   ["doc_id", self.text_col, "segment_id"]
                   + ([self.stem_lang_col] if self.stem_lang_col
                      else []))))
        rows = src.mapInPandas(
            segment_kernel("doc_id", self.text_col,
                           ngram_max=self.ngram_max, stem=self.stem,
                           stem_lang_col=self.stem_lang_col),
            schema=INDEX_ROW_SCHEMA)
        (rows.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .option("parquet.block.size", posting_rg_bytes())
             .partitionBy("kind", "segment_id")
             .parquet(self.paths.index))

        is_replay = prev is not None
        self.state["batches"][bkey] = {"base": base, "n": int(n_written),
                                       "segments": segs}
        self.state["next_doc_id"] = max(self.state["next_doc_id"],
                                        base + int(n_written))
        fsio.write_json(self._state_path, self.state)
        if is_replay:
            # incremental stats would double-count a replayed batch
            refresh_stats(self.spark, self.paths.root,
                          self._stat_flags())
        else:
            self._incremental_stats(segs)

    def _stat_flags(self) -> dict:
        return {"ngram_max": self.ngram_max, "stemmed": self.stem,
                "stem_lang_col": self.stem_lang_col,
                # same version stamp as bulk builds: the query side
                # must stem with the algorithm that wrote the s: terms
                "stemmer_version": ("porter2"
                                    if (self.stem or self.stem_lang_col)
                                    else None)}

    def _incremental_stats(self, batch_segs: list[int]) -> None:
        """Fold one batch's term/global stats into the index-level stats
        without rescanning every segment (refresh_stats is O(index); this
        is O(vocabulary + batch))."""
        spark = self.spark
        paths = self.paths
        new_t = spark.read.option("basePath", paths.index).parquet(
            *[os.path.join(paths.index, "kind=t", f"segment_id={s}")
              for s in batch_segs]).select("term", "df", "ttf")
        if fsio.exists(paths.term_stats):
            # materialize the old stats before overwriting their path
            old = (spark.read.parquet(paths.term_stats)
                   .select("term", "df", "ttf").localCheckpoint())
            new_t = old.unionByName(new_t)
        nparts = max(1, min(32, new_t.rdd.getNumPartitions()))
        (new_t.groupBy("term")
         .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
         .repartitionByRange(nparts, "term").sortWithinPartitions("term")
         .write.mode("overwrite")
         .option("parquet.block.size", TERM_STATS_RG_BYTES)
         .parquet(paths.term_stats))
        g = spark.read.option("basePath", paths.index).parquet(
            *[os.path.join(paths.index, "kind=g", f"segment_id={s}")
              for s in batch_segs])
        agg = g.agg(F.sum("num_docs").alias("nd"),
                    F.sum("total_tokens").alias("tt"),
                    F.sum("posting_bytes").alias("pb"),
                    F.count("*").alias("nseg")).collect()[0]
        if fsio.exists(paths.stats):
            stats = fsio.read_json(paths.stats)
        else:
            stats = {"num_docs": 0, "total_tokens": 0, "posting_bytes": 0,
                     "num_segments": 0}
        stats["num_docs"] += int(agg["nd"])
        stats["total_tokens"] += int(agg["tt"])
        stats["posting_bytes"] = (stats.get("posting_bytes", 0)
                                  + int(agg["pb"]))
        stats["num_segments"] += int(agg["nseg"])
        stats["avg_fieldnorm"] = (float(stats["total_tokens"])
                                  / float(stats["num_docs"]))
        stats["store_positions"] = True
        stats["live"] = True
        stats.update(self._stat_flags())
        fsio.write_json(paths.stats, stats)

    def sink(self):
        """Use as .writeStream.foreachBatch(writer.sink())."""
        return lambda df, bid: self.process_batch(df, bid)

    # -- maintenance (reference: prune every 6h / compact hourly) ----------
    def prune_older_than(self, min_batch_id: int) -> int:
        """TTL pruning: drop live segments from batches < min_batch_id
        (reference: 60-day TTL, live_index/mod.rs:27-32)."""
        dropped = 0
        for bkey in list(self.state["batches"]):
            if int(bkey) < min_batch_id:
                for seg in self.state["batches"][bkey]["segments"]:
                    for kind in "ptdg":
                        fsio.rmtree(
                            os.path.join(self.paths.index, f"kind={kind}",
                                         f"segment_id={seg}"))
                    fsio.rmtree(
                        os.path.join(self.paths.turns,
                                     f"segment_id={seg}"))
                del self.state["batches"][bkey]
                dropped += 1
        fsio.write_json(self._state_path, self.state)
        if dropped:
            refresh_stats(self.spark, self.paths.root,
                          self._stat_flags())
        return dropped

    def compact(self, out_root: str, target_segments: int = 1,
                hot_df_threshold: int = 500_000,
                fuzzy_sidecar: bool = True) -> IndexPaths:
        """Merge all live micro-segments into a compact index
        (reference: hourly compaction, live_index/index.rs:170-246).
        Live micro-segments never carry a fuzzy sidecar (per-batch
        rebuilds would dominate ingest), so compaction is where the
        compact index gains one — default on, like bulk builds."""
        from ..indexer.merge import merge_segments

        return merge_segments(self.spark, self.paths.root, out_root,
                              target_segments=target_segments,
                              hot_df_threshold=hot_df_threshold,
                              fuzzy_sidecar=fuzzy_sidecar)
