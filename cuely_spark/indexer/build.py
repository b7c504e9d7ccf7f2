"""Distributed, resumable inverted-index build.

Spark-first layout (vs the reference's per-WARC-file jobs + tree merge,
/root/reference/crates/core/src/entrypoint/indexer/mod.rs:43-144):

Stage A  (docID assignment / "index sort"):
    one JVM-only pass: repartitionByRange(num_segments, conv_id,
    turn_idx) -> sortWithinPartitions -> tag (segment_id, __ord) ->
    write `turns/segment_id=N` (the row store; reference analog:
    crates/tantivy/src/store/). Dense doc ids are doc_id =
    offset[segment] + __ord with offsets derived from the WRITTEN
    files' parquet footers — deterministic by construction (no
    persist/replay hazards), and the corpus never crosses the Python
    boundary during id assignment.

Stage B  (segment build, zero shuffle):
    per job (a group of segments, the resumability/checkpoint unit):
    read `turns` for those segments -> mapInPandas running
    :func:`cuely_spark.indexer.segment.build_segment_rows` -> one write
    partitioned by (kind, segment_id). The kernel groups by the
    segment_id column, so Spark's file packing can never mix segments.
    A manifest JSON per job records lineage (input, segments, row
    counts, posting bytes); `resume=True` skips jobs whose manifest
    entry already exists (reference analog: autocommit + meta.json,
    crates/core/src/inverted_index/indexing.rs:57-75,188-200).

Stage C  (global term stats = the "term dictionary" merge):
    groupBy(term) over per-segment kind='t' rows -> (term, df, ttf),
    written range-partitioned & sorted by term so query-time lookups
    prune to one file + row-group (the Parquet stand-in for tantivy's
    FST, crates/tantivy/src/termdict/). This shuffle moves one row per
    (segment, term) — already pre-aggregated, so no skew; hot-term
    salting lives in the posting-merge operator
    (:mod:`cuely_spark.indexer.merge`) where real posting lists meet.

Global stats (num_docs, total_tokens -> avg_fieldnorm) land in
`stats.json` (reference: bm25.rs:72-79 computes the same at query time).
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from .segment import INDEX_ROW_SCHEMA, build_segment_rows

DEFAULT_ROWS_PER_SEGMENT = 100_000


def posting_rg_bytes() -> int:
    """Parquet row-group size (uncompressed bytes) for posting files.

    Posting files are term-sorted point-lookup tables, not scan tables:
    the row group is the pruning granule (the skip-list role), so it is
    deliberately far below the scan-oriented default — 128 KB is ~1-2k
    posting rows, letting a term-IN filter prune a query's read to a
    few KB per segment file on both the Spark scan (PushedFilters ->
    row-group skip) and the driver-local pyarrow reader. Overridable
    for deployments via CUELY_POSTING_RG_BYTES; row-group metadata
    stays bounded (it grows with file size / 128 KB, and posting files
    are segment-sized, not corpus-sized)."""
    return int(os.environ.get("CUELY_POSTING_RG_BYTES",
                              str(128 * 1024)))


#: Parquet row-group size (uncompressed bytes) of the term_stats files.
#: term_stats is a sorted point-lookup table, so like the postings its
#: row group is the pruning granule: at 16 KB (a few hundred terms) a
#: term_dfs lookup decodes one small row group per term instead of a
#: whole file. The extra row-group metadata costs about 1% of index
#: bytes on the benchmark corpus.
TERM_STATS_RG_BYTES = 16 * 1024


@dataclass
class IndexPaths:
    root: str

    @property
    def turns(self) -> str:
        return os.path.join(self.root, "turns")

    @property
    def index(self) -> str:
        return os.path.join(self.root, "index")

    @property
    def postings(self) -> str:
        return os.path.join(self.index, "kind=p")

    @property
    def term_stats(self) -> str:
        return os.path.join(self.root, "term_stats")

    @property
    def stats(self) -> str:
        return os.path.join(self.root, "stats.json")

    @property
    def manifest_dir(self) -> str:
        return os.path.join(self.root, "manifest")


def _write_sorted_turns(
    df: DataFrame,
    order_cols: tuple[str, ...],
    num_segments: int,
    out_path: str,
    score_col: str | None = None,
) -> None:
    """Stage A, single pass, 100% JVM-side: range-partition + sort by
    (order_cols), tag each row with its segment (range partition id) and
    its within-partition ordinal `__ord`, write partitioned by segment.

    The within-partition ordinal is monotonically_increasing_id()'s
    documented low-33-bit per-partition counter — NOT used as an id by
    itself (it is neither dense nor stable across partitionings), only
    as the row ordinal of this one sorted write. Dense global
    doc ids are derived afterwards as offset[segment] + __ord, with
    offsets computed from the *written files'* parquet footers
    (:func:`segment_offsets`) — fully deterministic, no persist/replay
    hazards, resumable for free.
    """
    sort_exprs = ([F.col(score_col).desc()] if score_col else []) \
        + [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(num_segments, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("segment_id", F.spark_partition_id())
        .withColumn(
            "__ord",
            F.col("__mid") - (F.col("segment_id").cast("long") * (1 << 33)))
        .drop("__mid")
    )
    (part.write.mode("overwrite").partitionBy("segment_id")
         .parquet(out_path))


def segment_offsets(turns_path: str) -> tuple[dict[int, int], int]:
    """(cumulative doc-id offset per segment, total rows) from parquet
    footers.

    Driver-side loop over one footer per segment — at very large
    segment counts run the same count as a tiny Spark job over file
    metadata; counts come from immutable written files either way.
    All IO goes through fsio, so the index root may be s3://,
    hdfs://, file:// or a plain local path."""
    counts: dict[int, int] = {}
    for d in fsio.list_subdirs(turns_path):
        if not d.startswith("segment_id="):
            continue
        seg = int(d.split("=")[1])
        segdir = fsio.join(turns_path, d)
        total = sum(fsio.parquet_num_rows(fsio.join(segdir, f))
                    for f in fsio.list_files(segdir, ".parquet"))
        counts[seg] = total
    offsets: dict[int, int] = {}
    acc = 0
    for seg in sorted(counts):
        offsets[seg] = acc
        acc += counts[seg]
    return offsets, acc


def segment_kernel(id_col: str, text_col: str,
                   attr_cols: tuple[str, ...] = (),
                   offsets: dict[int, int] | None = None,
                   store_positions: bool = True,
                   ngram_max: int = 0,
                   stem: bool = False,
                   field_cols: tuple[str, ...] = (),
                   stem_lang_col: str | None = None):
    """mapInPandas kernel building complete index segments from turns
    rows — shared by the bulk builder (stage B) and the live-index
    micro-batch path. Groups by the segment_id column so Spark's file
    packing can never mix segments; when `offsets` is given, doc ids are
    offsets[segment] + row's id_col (stage-A __ord contract).
    `field_cols`: extra scored text fields (multi-field postings for
    BM25F — see build_segment_rows). `stem_lang_col`: column holding
    per-doc language codes that route stemmed shadow terms to that
    language's stemmer (see build_segment_rows)."""
    keep_cols = [id_col, text_col, *attr_cols, *field_cols]
    if stem_lang_col and stem_lang_col not in keep_cols:
        keep_cols.append(stem_lang_col)

    def kernel(batches):
        import pandas as pd

        bufs: dict[int, list] = {}
        for pdf in batches:
            for seg, grp in pdf.groupby("segment_id"):
                bufs.setdefault(int(seg), []).append(grp[keep_cols])
        for seg, parts in bufs.items():
            allp = pd.concat(parts, ignore_index=True)
            ids = allp[id_col].to_numpy()
            if offsets is not None:
                ids = ids + offsets[seg]
            attrs = None
            if attr_cols:
                cols = [allp[c].tolist() for c in attr_cols]
                attrs = [
                    [f"{name}:{str(v).lower()}"
                     for name, v in zip(attr_cols, row_vals)
                     if v is not None and str(v) != ""]
                    for row_vals in zip(*cols)
                ]
            extra = ({g: allp[g].tolist() for g in field_cols}
                     if field_cols else None)
            langs = (allp[stem_lang_col].tolist()
                     if stem_lang_col else None)
            yield build_segment_rows(
                ids,
                allp[text_col].tolist(),
                segment_id=seg,
                store_positions=store_positions,
                attr_tokens=attrs,
                ngram_max=ngram_max,
                stem=stem,
                extra_fields=extra,
                stem_langs=langs,
            )
    return kernel


def build_fuzzy_sidecar(spark: SparkSession, index_path: str, *,
                        max_d: int = 1,
                        term_stats_path: str | None = None) -> str:
    """Write the SymSpell deletion-neighborhood sidecar for an index:
    (variant, term, df) rows where variant = the term itself plus every
    deletion of up to `max_d` characters, range-partitioned and sorted
    by variant so the query-time fuzzy candidate lookup is a row-group-
    pruned columnar read instead of a dictionary scan (reference role:
    the FST + Levenshtein automaton walk,
    crates/tantivy/src/query/fuzzy_query/mod.rs; SymSpell exactness:
    ed(a,b) <= d iff the depth-d deletion neighborhoods intersect —
    candidates are still DP-verified at query time, so false neighbors
    like ab/ba are dropped).

    One shuffle over the TERM DICTIONARY (not the corpus): ~|vocab| *
    (1 + L + L(L-1)/2) rows at max_d=2 for term length L — at a 10^8
    vocabulary this is a ~3*10^9-row distributed sort, well within one
    job, and query lookups stay O(row-group). Called by build_index /
    merge_segments unless fuzzy_sidecar=False."""
    if max_d not in (1, 2):
        raise ValueError("fuzzy sidecar supports max_d 1 or 2")
    paths = IndexPaths(index_path)
    ts_path = term_stats_path or paths.term_stats
    out = os.path.join(index_path, "fuzzy_deletes")
    ts = (spark.read.parquet(ts_path)
          .filter(~F.col("term").contains(":")))
    del1 = ("concat(array({x}), transform(sequence(1, length({x})), "
            "i -> concat(substr({x}, 1, i - 1), substr({x}, i + 1))))")
    if max_d == 1:
        expr = f"array_distinct({del1.format(x='term')})"
    else:
        inner = del1.format(x="x")
        expr = (f"array_distinct(flatten(transform("
                f"{del1.format(x='term')}, x -> {inner})))")
    variants = ts.select(
        "term", "df", F.explode(F.expr(expr)).alias("variant"))
    # hash + in-file sort for the same row-group-pruned lookups as
    # range partitioning, minus the boundary-sampling pass (see
    # term_stats above); 32 capped like stats_parts
    (variants.repartition(32, "variant")
     .sortWithinPartitions("variant")
     .write.mode("overwrite").parquet(out))
    # files starting with "_" are ignored by spark/pyarrow readers
    fsio.write_json(os.path.join(out, "_sidecar.json"),
                    {"max_d": max_d})
    return out


def _job_groups(segments: list[int], num_jobs: int) -> list[list[int]]:
    num_jobs = max(1, min(num_jobs, len(segments)))
    size = math.ceil(len(segments) / num_jobs)
    return [segments[i:i + size] for i in range(0, len(segments), size)]


def _split_session(spark: SparkSession) -> SparkSession:
    """A child of `spark` (same SparkContext, its own SQL conf) for the
    stage-B read and write: the caller's runtime SQL conf, plus one
    unsplittable task per input file."""
    child = spark.newSession()
    have = child.conf.getAll
    for k, v in spark.conf.getAll.items():
        if have.get(k) != v and spark.conf.isModifiable(k):
            child.conf.set(k, v)
    for k in ("spark.sql.files.maxPartitionBytes",
              "spark.sql.files.openCostInBytes"):
        child.conf.set(k, str(32 << 30))
    return child


def build_index(
    spark: SparkSession,
    df: DataFrame,
    out_path: str,
    *,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    doc_id_col: str | None = None,
    rows_per_segment: int = DEFAULT_ROWS_PER_SEGMENT,
    num_segments: int | None = None,
    num_jobs: int = 1,
    store_positions: bool = True,
    resume: bool = False,
    attr_cols: tuple[str, ...] = (),
    ngram_max: int = 0,
    stem: bool = False,
    score_col: str | None = None,
    field_cols: tuple[str, ...] = (),
    stem_lang_col: str | None = None,
    fuzzy_sidecar: bool = True,
    fuzzy_sidecar_d: int = 1,
    store_simhash: bool = False,
) -> IndexPaths:
    """Build a full-text index for `df` at `out_path`.

    If `doc_id_col` is given it must hold unique, stable int64 ids (used
    directly, segments = ranges of that id); otherwise ids are assigned
    as the dense rank of `order_cols`.

    `score_col`: "index sort" by precomputed score — doc ids are
    assigned in DESCENDING `score_col` order (order_cols break ties), so
    low doc ids are the best documents and doc-order early termination
    (ShortCircuit / rising WAND thresholds) inspects the best docs first
    (reference: segments sorted by PreComputedScore,
    crates/core/src/inverted_index/mod.rs:195-209). Mutually exclusive
    with doc_id_col; keep the original id in a data column and restore
    it from the row store after search.

    `attr_cols`: low-cardinality string columns indexed as unscored
    `field:value` filter terms (queryable as `role:user` — the
    site:/intitle: analog).

    `field_cols`: extra SCORED text columns — multi-field postings with
    per-field fieldnorms and union-field term stats, queryable via
    IndexReader.search_bm25f (reference data model: one inverted index
    per text field, schema/text_field.rs:97-130; BM25F scoring,
    ranking/bm25f.rs:64-181).

    `store_simhash`: add a 60-bit text simhash column to the row store
    (the reference computes simhash at index time into a SimHash
    columnfield, crates/core/src/simhash.rs wired through
    collector/top_docs.rs:168-175) — enables
    IndexReader.search_diverse(de_rank_similar=True). One extra
    distinct+groupBy+join over the corpus at build; same
    oracle-checkable md5-h60 sketch as ops.dedup.simhash.
    """
    assert not (doc_id_col and score_col), \
        "score-sorted ids and user-supplied ids are mutually exclusive"
    if store_simhash:
        from ..ops.dedup import simhash as _simhash_op

        # simhash is a pure function of the text, so compute it once
        # per DISTINCT text (dedup-friendly corpora pay less) and join
        # back on a text digest — no per-doc-id bookkeeping needed
        uniq = (df.select(text_col).distinct()
                .withColumn("__tid", F.md5(F.col(text_col))))
        sh = (_simhash_op(uniq, text_col=text_col, id_col="__tid")
              .withColumnRenamed("doc_id", "__tid"))
        df = (df.withColumn("__tid", F.md5(F.col(text_col)))
              .join(sh, "__tid", "left").drop("__tid")
              .withColumn("simhash",
                          F.coalesce(F.col("simhash"), F.lit(0))))
    paths = IndexPaths(out_path)
    fsio.makedirs(paths.manifest_dir)
    t0 = time.time()
    phase_sec: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.time()
        phase_sec[name] = round(now - _last[0], 2)
        _last[0] = now

    # ---------------- Stage A: doc ids + row store -----------------------
    stage_a_manifest = os.path.join(paths.manifest_dir, "stage_a.json")
    if resume and fsio.exists(stage_a_manifest):
        stage_a = fsio.read_json(stage_a_manifest)
        num_segments = stage_a["num_segments"]
        offsets = ({int(k): v for k, v in stage_a["offsets"].items()}
                   if stage_a.get("offsets") else None)
        n = stage_a["num_rows"]
    else:
        if num_segments is None:
            n = df.count()
            _mark("count")
            num_segments = max(1, math.ceil(n / rows_per_segment))
        else:
            n = None  # derived from written footers below
        if doc_id_col is not None:
            turns = (
                df.withColumn("doc_id", F.col(doc_id_col).cast("long"))
                .repartitionByRange(num_segments, F.col("doc_id"))
                .sortWithinPartitions("doc_id")
                .withColumn("segment_id", F.spark_partition_id())
            )
            (turns.write.mode("overwrite").partitionBy("segment_id")
                  .parquet(paths.turns))
            offsets = None
            if n is None:
                _, n = segment_offsets(paths.turns)
        else:
            _write_sorted_turns(df, order_cols, num_segments, paths.turns,
                                score_col=score_col)
            offsets, n = segment_offsets(paths.turns)
        _mark("stage_a_write_turns")
        stage_a = {
            "num_rows": n,
            "num_segments": num_segments,
            "order_cols": list(order_cols),
            "doc_id_col": doc_id_col,
            "offsets": ({str(k): v for k, v in offsets.items()}
                        if offsets is not None else None),
            "elapsed_sec": time.time() - t0,
        }
        fsio.write_json(stage_a_manifest, stage_a)

    # ---------------- Stage B: per-job segment builds --------------------
    segments = sorted(
        int(d.split("=")[1])
        for d in fsio.list_subdirs(paths.turns)
        if d.startswith("segment_id=")
    )
    jobs = _job_groups(segments, num_jobs)

    id_col = "doc_id" if offsets is None else "__ord"
    attr_cols = tuple(attr_cols)
    field_cols = tuple(field_cols)
    # query-language precedence: attribute filters (role:) and range
    # fields (n_chars:) shadow a scored field of the same name, so a
    # colliding field_col would be silently unreachable — fail loudly
    from ..queryengine.parser import FILTER_FIELDS, RANGE_FIELDS

    clash = ({f.lower() for f in field_cols}
             & (set(FILTER_FIELDS) | set(RANGE_FIELDS)))
    if clash:
        raise ValueError(
            f"field_cols {sorted(clash)} collide with reserved "
            f"attribute/range query fields ({FILTER_FIELDS} / "
            f"{RANGE_FIELDS}); rename the scored field")
    seg_kernel = segment_kernel(id_col, text_col, attr_cols, offsets,
                                store_positions, ngram_max, stem,
                                field_cols, stem_lang_col)

    # Stage-B task granularity = ONE turns file (= one segment) per
    # task. The defaults (128 MB splits, 4 MB open cost) pack ~15
    # segment files into each task, so a 64-segment build runs its
    # dominant phase on ~5 of the cluster's task slots; worse, a turns
    # file LARGER than maxPartitionBytes would be range-split across
    # tasks and the per-task kernel would emit two partial copies of
    # that segment's postings. Pinning both knobs sky-high makes every
    # file its own unsplittable task: full width (num_segments >=
    # slots in any real build) and no split hazard. They are set on a
    # child session that runs only the stage-B read and write (Spark
    # ignores maxPartitionBytes as a reader option), so the caller's
    # session — and every query running on it meanwhile — keeps its
    # own values.
    bspark = _split_session(spark)

    all_g: list = []
    for job_id, segs in enumerate(jobs):
        mpath = os.path.join(paths.manifest_dir, f"job={job_id}.json")
        if resume and fsio.exists(mpath):
            all_g = None  # skipped job: g-rows must be re-read below
            continue
        tj = time.time()
        src = (
            bspark.read.option("basePath", paths.turns)
            .parquet(*[
                os.path.join(paths.turns, f"segment_id={s}") for s in segs
            ])
            .select(*dict.fromkeys(
                [id_col, text_col, "segment_id", *attr_cols, *field_cols]
                + ([stem_lang_col] if stem_lang_col else [])))
        )
        rows = src.mapInPandas(seg_kernel, schema=INDEX_ROW_SCHEMA)
        # small row groups: posting rows are term-sorted, so parquet
        # min/max stats on `term` prune a query's scan to the few row
        # groups holding its terms (the FST/skip-list role)
        (rows.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .option("parquet.block.size", posting_rg_bytes())
             .partitionBy("kind", "segment_id")
             .parquet(paths.index))
        _mark(f"job{job_id}_segments")
        # job manifest: lineage + per-segment metrics. The g-rows are
        # read once per job (explicit per-segment dirs, no full-tree
        # listing) and accumulated so the global-stats section below
        # needs NO second scan over kind=g.
        g = (
            spark.read.option("basePath", paths.index)
            .parquet(*[os.path.join(paths.index, "kind=g",
                                    f"segment_id={s}") for s in segs])
            .select("segment_id", "num_docs", "num_terms",
                    "total_tokens", "posting_bytes")
            .collect()
        )
        if all_g is not None:
            all_g.extend(g)
        manifest = {
            "job_id": job_id,
            "segments": segs,
            "input": [os.path.join(paths.turns, f"segment_id={s}")
                      for s in segs],
            "metrics": [r.asDict() for r in g],
            "elapsed_sec": time.time() - tj,
        }
        fsio.write_json(mpath, manifest)
        _mark(f"job{job_id}_manifest")

    # ---------------- Stage C: global term stats + stats.json ------------
    tseg = spark.read.option("basePath", paths.index).parquet(
        os.path.join(paths.index, "kind=t")
    )
    stats_parts = max(1, min(32, len(segments)))
    # hash-partition by term + sort within files: every file is
    # term-sorted so row-group min/max stats prune a lookup to one row
    # group exactly like the previous range partitioning, but WITHOUT
    # repartitionByRange's extra range-boundary sampling job (it
    # re-executes the aggregation once just to sample boundaries)
    (
        tseg.groupBy("term")
        .agg(F.sum("df").alias("df"), F.sum("ttf").alias("ttf"))
        .repartition(stats_parts, "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .option("parquet.block.size", TERM_STATS_RG_BYTES)
        .parquet(paths.term_stats)
    )
    _mark("term_stats")
    if all_g is not None:
        # fresh build: every segment's g-row was collected by its job —
        # global stats are a driver-side sum, no extra scan
        agg = {
            "num_docs": sum(int(r["num_docs"]) for r in all_g),
            "total_tokens": sum(int(r["total_tokens"]) for r in all_g),
            "posting_bytes": sum(int(r["posting_bytes"]) for r in all_g),
        }
    else:  # resumed build: some jobs were skipped, re-read kind=g
        gseg = spark.read.option("basePath", paths.index).parquet(
            os.path.join(paths.index, "kind=g")
        )
        agg = gseg.agg(
            F.sum("num_docs").alias("num_docs"),
            F.sum("total_tokens").alias("total_tokens"),
            F.sum("posting_bytes").alias("posting_bytes"),
        ).collect()[0]
    # per-field token totals (-> per-field avg_fieldnorm for BM25F):
    # field g's tokens are exactly the ttf mass of its "f:{g}:" terms
    field_tokens: dict[str, int] | None = None
    if field_cols:
        ft = (
            spark.read.parquet(paths.term_stats)
            .filter(F.col("term").startswith("f:"))
            .withColumn("fld", F.split(F.col("term"), ":").getItem(1))
            .groupBy("fld").agg(F.sum("ttf").alias("toks"))
            .collect()
        )
        field_tokens = {r["fld"]: int(r["toks"]) for r in ft}
        for g in field_cols:
            field_tokens.setdefault(g, 0)
    _mark("global_stats")
    stats = {
        "num_docs": int(agg["num_docs"]),
        "total_tokens": int(agg["total_tokens"]),
        "avg_fieldnorm": float(agg["total_tokens"]) / float(agg["num_docs"]),
        "posting_bytes": int(agg["posting_bytes"]),
        "num_segments": len(segments),
        "store_positions": store_positions,
        "ngram_max": ngram_max,
        "stemmed": stem,
        "stem_lang_col": stem_lang_col,
        # which English stemmer produced the "s:" shadow terms: the
        # query side MUST stem with the same algorithm or recall
        # silently drops (Porter vs Porter2 diverge: fairly -> fairli
        # vs fair). IndexReader routes query-side stemming by this.
        "stemmer_version": ("porter2" if (stem or stem_lang_col)
                            else None),
        "score_sorted_by": score_col,
        "text_col": text_col,
        "field_cols": list(field_cols),
        "field_tokens": field_tokens,
        "built_sec": time.time() - t0,
        "phase_sec": phase_sec,
        # doc_id = segment_offsets[segment_id] + __ord when the turns
        # table was written by stage A (None when ids were user-supplied)
        "segment_offsets": ({str(k): v for k, v in offsets.items()}
                            if offsets is not None else None),
    }
    if fuzzy_sidecar:
        # default-on so the O(row-group) fuzzy lookup is the standard
        # path, not an opt-in an operator must remember after builds
        build_fuzzy_sidecar(spark, out_path, max_d=fuzzy_sidecar_d)
        _mark("fuzzy_sidecar")
        stats["built_sec"] = time.time() - t0
    fsio.write_json(paths.stats, stats)
    return paths
