"""SPIMI-style distributed inverted-index build.

Dataflow (reference build pipeline traced in SURVEY.md §3.1 — document-
parallel extract feeding a *serial* index writer,
/root/reference/internal/doclib/index_pdfs.go:69-95 — redesigned so no serial
stage exists):

  stage "docs":
    webtext -> extract/validate text -> non-empty filter (P1) -> url dedupe
    (P3) -> content-hash dedupe (P4, done for real; the reference's is dead
    code, bleve_pdf.go:395-409) -> deterministic doc_id assignment (global
    url-rank per case, computed with range partitioning + per-partition
    offsets, NOT a single-reducer window) -> doc-range segments
    (segment_id = (doc_id-1) // segment_size) -> docs/doc_map tables.

  stage "postings":
    docs -> groupBy(case, segment).applyInPandas(block builder): vectorized
    analyze -> per-term sorted (doc_id, tf, dl) runs -> delta+varint packed
    blocks with per-block max-score metadata.  Because a segment holds a
    bounded doc range, posting construction NEVER shuffles by term — Zipfian
    head-term skew cannot concentrate on one reducer (the skew-handling the
    reference does by big-file-first scheduling, path_utils.go:54-102, is
    structural here).  Blocks land in term-hash bucket partitions for query
    partition pruning.

  stage "finalize":
    term_stats (df/cf) via explicit two-phase salted aggregation over block
    metadata, one stats commit per postings batch; each case's summed doc
    length joins its doc count in the manifest, whose one write marks the
    index complete.

Every stage commits atomically and records per-partition lineage + metrics.
Fresh builds, resumes and appends run one sequence (``build_index``):
manifest -> recovery -> catch-up of missing segments -> new rows (docs
writes overlapping the postings compute) -> finalize; an append is new rows
deduped against the committed docs, and a resumed build skips completed
segments (north_rule).
"""

from __future__ import annotations

import hashlib
import os
import time
from typing import Iterator, List

import numpy as np
import pandas as pd

from pysearch import codec, gate
from pysearch.lineage import IndexLayout
from pysearch.version import INDEX_FORMAT_VERSION

DEFAULT_SEGMENT_SIZE = 4096
DEFAULT_N_BUCKETS = 64
SALT_N = 16

from pysearch.schema import POSTING_BLOCKS as _POSTING_BLOCKS_SCHEMA  # noqa: E402

_BLOCK_FIELDS = _POSTING_BLOCKS_SCHEMA.fields


def term_bucket(term: str, n_buckets: int) -> int:
    """Python-side term -> bucket hash (md5-based so the query planner can
    compute identical buckets driver-side without a Spark job)."""
    return int.from_bytes(hashlib.md5(term.encode("utf-8")).digest()[:4], "big") % n_buckets


# --------------------------------------------------------------------------
# stage "docs"
# --------------------------------------------------------------------------

def _assign_doc_ids(spark, df, n_partitions: int, base: dict | None = None):
    """Deterministic per-case doc_id = rank of url (1-based), plus an
    optional per-case ``base`` offset (incremental append starts above the
    existing id space).

    Meant to run on a text-free projection (case_id, url[, content_hash]) so
    the shuffles here never carry document bodies; the caller joins the
    resulting id map back to the full rows (AQE turns that into a broadcast
    join when the map is small).

    Range-partition by (case_id, url), sort within partitions, persist to pin
    the layout, then compute per-(partition, case) counts and assign
    doc_id = case_offset + local ordinal inside mapInPandas.  Equivalent to
    ``row_number() over (partition by case_id order by url)`` but without a
    single-reducer window; deterministic across parallelism levels because
    the id is the global url rank regardless of partition boundaries.
    """
    from pyspark import StorageLevel
    from pyspark.sql import functions as F

    sorted_df = (
        df.repartitionByRange(n_partitions, "case_id", "url")
        .sortWithinPartitions("case_id", "url", "content_hash")
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # distinct urls per partition: duplicate urls are adjacent (range
    # partitioning keys them together) and are dropped locally in assign(),
    # so offsets must count distinct urls, not rows
    counts = (
        sorted_df.groupBy("_pid", "case_id")
        .agg(F.countDistinct("url").alias("count"))
        .collect()
    )
    # case -> list of (pid, count) sorted by pid; offsets are cumulative
    per_case: dict = {}
    for r in counts:
        per_case.setdefault(r["case_id"], []).append((r["_pid"], r["count"]))
    base = base or {}
    offsets: dict = {}
    for case, lst in per_case.items():
        acc = base.get(case, 0)
        for pid, cnt in sorted(lst):
            offsets[(pid, case)] = acc
            acc += cnt

    boffsets = spark.sparkContext.broadcast(offsets)
    out_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    out_schema += ", doc_id long"

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one mapInPandas partition == one sorted _pid partition; batches
        # arrive in order, rows sorted by (case_id, url, content_hash).
        # P3 url dedupe happens here for free: duplicate urls are adjacent,
        # keep the first (= min content_hash, deterministic).
        local_counts: dict = {}
        last_key = [None]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pid = int(pdf["_pid"].iloc[0])
            keys = pdf["case_id"].astype(str) + "\x00" + pdf["url"]
            first = keys.ne(keys.shift()).to_numpy()
            first[0] = keys.iloc[0] != last_key[0]
            last_key[0] = keys.iloc[-1]
            pdf = pdf[first]
            if len(pdf) == 0:
                continue
            ids = np.empty(len(pdf), dtype=np.int64)
            # per-case running ordinal within this partition
            for case, idx in pdf.groupby("case_id", sort=False).groups.items():
                start = local_counts.get(case, 0)
                k = len(idx)
                base = boffsets.value[(pid, case)]
                ids[pdf.index.get_indexer(idx)] = base + start + 1 + np.arange(k)
                local_counts[case] = start + k
            out = pdf.drop(columns=["_pid"]).copy()
            out["doc_id"] = ids
            yield out

    assigned = sorted_df.mapInPandas(assign, schema=out_schema)
    return assigned, sorted_df, counts


def _with_token_offsets(df, analyzer: str):
    """Append the token-offset sidecar columns (S9 analog): per doc the char
    start (delta+varint) and length (varint) of every surviving token, CRC'd.
    Runs the offset-bearing analyzer once per doc — the build-time cost of
    ``store_positions=True`` (the reference pays the same shape: term
    vectors in the index + offset sidecar files, bleve_glue.go:42-61,
    doc_positions.go:33-49)."""
    from pysearch.schema import DOCS

    def add(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from pysearch.analyze import get_analyzer

        _, offsets_fn, _ = get_analyzer(analyzer)
        for pdf in batches:
            nt, sb, lb, cc = [], [], [], []
            for text in pdf["text"]:
                toks = offsets_fn(text)
                k = len(toks)
                s_bin, l_bin, crc = codec.pack_offsets(
                    np.fromiter((t[1] for t in toks), dtype=np.int64, count=k),
                    np.fromiter((t[2] for t in toks), dtype=np.int64, count=k))
                nt.append(k)
                sb.append(s_bin)
                lb.append(l_bin)
                cc.append(crc)
            out = pdf.copy()
            out["n_tokens"] = np.asarray(nt, dtype=np.int32)
            out["tok_starts_bin"] = sb
            out["tok_lens_bin"] = lb
            out["offs_crc32"] = np.asarray(cc, dtype=np.int64)
            yield out

    return df.mapInPandas(add, schema=DOCS)


def content_hash_column(df):
    """The P4 content-hash column of a webtext frame: sha256 of a row's raw
    html where it has one, else of its utf-8 text."""
    from pyspark.sql import functions as F

    text_hash = F.sha2(F.encode(F.col("text"), "utf-8"), 256)
    if "html" not in df.columns:
        return text_hash
    return F.when(F.col("html").isNotNull(),
                  F.sha2(F.col("html"), 256)).otherwise(text_hash)


def shape_webtext(df):
    """Document shaping, shared by the build and both arrival scorers
    (streaming.py) so an arrival is the document the build would index:
    S4 text extraction for rows with html but no text, the content hash,
    then the P1 empty filter.  Returns ([case_id,] url, content_hash,
    text), case_id when the input has it.

    The extraction UDF runs only on the rows that need it (a blanket
    when/otherwise would push every row through the Python worker); its
    output is byte-identical to provided text (validated in tests on the
    fixture corpus).  The empty filter is trimmed: whitespace-only docs
    carry no tokens and would skew N vs token-deriving oracles."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pysearch.corpus import extract_text_series

    if "html" in df.columns:
        @F.pandas_udf(T.StringType())
        def extract_udf(htmls: pd.Series) -> pd.Series:
            return extract_text_series(htmls)

        if "text" not in df.columns:
            df = df.withColumn("text", extract_udf("html"))
        else:
            need = df.filter(F.col("text").isNull() & F.col("html").isNotNull())
            df = df.filter(F.col("text").isNotNull()).unionByName(
                need.withColumn("text", extract_udf("html")))
    df = df.filter(F.col("text").isNotNull())
    cols = ["case_id"] if "case_id" in df.columns else []
    return (
        df.withColumn("content_hash", content_hash_column(df))
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(*cols, "url", "content_hash", "text")
    )


def build_docs_stage(spark, webtext_df, layout: IndexLayout, segment_size: int,
                     n_partitions: int | None = None,
                     store_positions: bool = False, analyzer: str = "en"):
    """Clean/dedupe/assign-id the input as the next docs batch; returns
    ``(docs, finish, n)``: the cached docs DataFrame (what the postings
    stage reads), the ``finish()`` closure that writes and commits the
    docs and doc_map batches, their lineage and the manifest's per-case
    doc counts (so finalize never re-scans the docs table), and the number
    of new docs.  The caller overlaps ``finish()`` with the postings
    compute and unpersists ``docs``.

    Once the index has a finished docs stage, the input is an append: new
    rows matching an existing url OR content hash are skipped (append adds
    documents; it does not update existing ones), and appended doc_ids
    start at the next segment boundary above the per-case max, so appended
    segments never mix with already-built ones — the (case, segment)
    postings done-granularity stays valid at the cost of at most one
    segment's worth of id space per append per case."""
    from pyspark.sql import functions as F

    t0 = time.time()
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism

    df = webtext_df
    if "case_id" not in df.columns:
        df = df.withColumn("case_id", F.lit("0"))
    df = shape_webtext(df)

    base, batch = None, 0
    if layout.stage_done("docs"):
        existing = layout.read_commits(spark, layout.docs).select(
            "case_id", "doc_id", "url", "content_hash")
        batch = layout.next_batch(layout.docs)
        df = df.join(existing.select("case_id", "url"),
                     ["case_id", "url"], "left_anti")
        df = df.join(existing.select("case_id", "content_hash"),
                     ["case_id", "content_hash"], "left_anti")
        base = {
            str(r["case_id"]):
                ((int(r["mx"]) + segment_size - 1) // segment_size) * segment_size
            for r in existing.groupBy("case_id")
            .agg(F.max("doc_id").alias("mx")).collect()
        }

    # P3 url dedupe + P4 content dedupe (done for real; the reference's is
    # dead code, bleve_pdf.go:395-409) AND doc_id assignment, all computed on
    # a text-free projection: no shuffle in this stage ever carries document
    # bodies.  The resulting id map (winners only) joins back to the full
    # rows below — dedupe and id assignment in one inner join, which AQE
    # executes as a broadcast join when the map is small.
    # ONE persisted aggregate of the projection, the count per (case, url,
    # hash) key, feeds every consumer of the input's keys — so the full
    # input scan + hashing runs exactly once:
    # - one collect yields the quarantine-accounting input count and the
    #   exact-duplicate check;
    # - content dedupe is a min-AGGREGATE over it (the row whose url is the
    #   min of its hash group == one (hash -> min url) row per group); url
    #   dedupe costs nothing extra — it happens inside the assignment pass
    #   where duplicate urls land adjacent (see _assign_doc_ids).
    key_counts = df.groupBy("case_id", "url", "content_hash").count().persist()
    try:
        stat = key_counts.agg(F.sum("count").alias("n_input"),
                              F.max("count").alias("mx")).collect()[0]
        winners = (
            key_counts.groupBy("case_id", "content_hash")
            .agg(F.min("url").alias("url"))
            .select("case_id", "url", "content_hash")
        )
        id_map, pinned, counts = _assign_doc_ids(spark, winners,
                                                 n_partitions, base=base)
    except BaseException:
        key_counts.unpersist()
        raise
    n_input = int(stat["n_input"] or 0)
    # exact-duplicate input rows (same url AND content) would multiply
    # through the id join: only if any exist, dedupe just those keys — the
    # common no-dup path never shuffles document bodies for this.  Rows
    # equal on (case,url,hash) are identical by the content-hash contract,
    # so the dropDuplicates is value-deterministic.
    if int(stat["mx"] or 0) > 1:
        dup_keys = key_counts.filter(F.col("count") > 1).select(
            "case_id", "url", "content_hash")
        clean = df.join(F.broadcast(dup_keys), ["case_id", "url", "content_hash"], "left_anti")
        fixed = df.join(F.broadcast(dup_keys), ["case_id", "url", "content_hash"], "left_semi")
        df = clean.unionByName(
            fixed.dropDuplicates(["case_id", "url", "content_hash"])
        )

    assigned = df.join(id_map, ["case_id", "url", "content_hash"], "inner")

    # doc_len is NOT computed here: the postings stage tokenizes anyway and
    # sum(tf) over a doc's terms == its analyzed length, so the finalize
    # derives sum_dl from block metadata — one analyzer pass total.
    # Repartition by (case, segment) BEFORE caching: the postings stage
    # groups by exactly these keys, so it reads the cache with NO exchange
    # and never re-reads document bodies from disk.
    docs = (
        assigned.withColumn("segment_id", (F.col("doc_id") - 1) / segment_size)
        .withColumn("segment_id", F.floor("segment_id").cast("long"))
        .select("case_id", "doc_id", "segment_id", "url", "content_hash", "text")
    )
    if store_positions:
        docs = _with_token_offsets(docs, analyzer)
    docs = docs.repartition("case_id", "segment_id").persist()

    n = sum(r["count"] for r in counts)  # already collected for the offsets
    case_counts: dict = {}
    for r in counts:
        key = str(r["case_id"])
        case_counts[key] = case_counts.get(key, 0) + int(r["count"])

    def finish():
        # The docs write and the concurrent postings job fill the docs
        # cache as they stream (any job computing a partition stores it).
        # A task that reaches a partition another task is storing waits on
        # its BlockManager write lock and then reads the stored block, so
        # each partition is computed once (the stages holding the cache
        # read one shuffle record per doc, overlapped or not).  The pinned
        # range layout MUST stay persisted until this write completes: doc_ids
        # are only valid against the _pid boundaries the offsets were
        # collected from, and repartitionByRange re-SAMPLES boundaries on
        # an unpinned recompute.
        staging = layout.staging_dir("docs")
        try:
            docs.write.mode("overwrite").partitionBy("case_id").parquet(
                staging)
        finally:
            pinned.unpersist()
            key_counts.unpersist()
        # doc_map catalog (reference file_list.json analog) from the same
        # cached partitions — text column dropped, so the write is tiny
        dm_staging = layout.staging_dir("doc_map")
        docs.select("case_id", "doc_id", "url", "content_hash").write.mode(
            "overwrite"
        ).partitionBy("case_id").parquet(dm_staging)
        layout.commit_batch(staging, layout.docs, batch, replace=(batch == 0))
        layout.commit_batch(dm_staging, layout.doc_map, batch,
                            replace=(batch == 0))
        layout.append_lineage(spark, [
            {
                "stage": "docs", "partition_key": "all", "status": "done",
                "batch": batch, "n_rows": n, "wall_sec": time.time() - t0,
            },
            {
                # quarantine accounting (reference continue-on-failure
                # analog, index_pdfs.go:110-116): rows dropped by dedupe
                # between the non-empty input and the indexed set
                "stage": "docs", "partition_key": "quarantined",
                "status": "info", "batch": batch, "n_rows": n_input - n,
                "wall_sec": 0.0,
            },
        ])
        prev, prev_counts = 0, {}
        if batch > 0:
            st = layout.read_manifest().get("stages", {}).get("docs", {})
            prev = int(st.get("n_docs", 0) or 0)
            prev_counts = dict(st.get("case_counts", {}) or {})
        merged = dict(prev_counts)
        for k, v in case_counts.items():
            merged[k] = merged.get(k, 0) + v
        layout.mark_stage("docs", n_docs=prev + n,
                          segment_size=segment_size, case_counts=merged)

    return docs, finish, n


# --------------------------------------------------------------------------
# stage "postings"
# --------------------------------------------------------------------------

def _make_block_builder(n_buckets: int, analyzer: str = "en",
                        store_positions: bool = False):
    from pysearch.analyze import get_analyzer

    _, _, batch_fn = get_analyzer(analyzer)

    def build_blocks(key, pdf):
        case_id = str(key[0])
        segment_id = int(key[1])
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        order = np.argsort(doc_ids, kind="stable")
        doc_ids = doc_ids[order]
        texts = pdf["text"].to_numpy()[order]
        n_docs = doc_ids.size

        # tokenize: Python cost is per UNIQUE raw token, everything else numpy
        uniq_terms, codes, d_of_tok, dls = batch_fn(list(texts))
        if codes.size == 0:
            return pd.DataFrame(columns=[f.name for f in _BLOCK_FIELDS])

        # (term, doc) -> tf via sorted composite keys: term groups come out
        # contiguous with doc runs already sorted, the layout the codec wants
        keys = codes * n_docs + d_of_tok
        uniq_keys, tfs_all = np.unique(keys, return_counts=True)
        term_code = uniq_keys // n_docs
        d_idx = (uniq_keys % n_docs).astype(np.int64)
        # contiguous term group boundaries
        group_starts = np.flatnonzero(
            np.diff(term_code, prepend=term_code[0] - 1)
        )
        group_ends = np.append(group_starts[1:], uniq_keys.size)

        # Batched encoding: ONE varint pass over the whole segment's posting
        # arrays instead of one per term run (per-run numpy calls on ~500
        # element arrays are dominated by fixed per-call overhead — this was
        # 60% of block-build CPU).  Byte-identical to per-run pack_run: the
        # per-value LEB128 bytes don't depend on their neighbors, and block
        # payloads are offset slices of the big buffers.
        ids_all = doc_ids[d_idx]
        tfs_arr = tfs_all.astype(np.int64)
        dls_all = dls[d_idx]
        n_post = ids_all.size
        run_lens = group_ends - group_starts
        pos_in_run = np.arange(n_post, dtype=np.int64) - np.repeat(
            group_starts, run_lens
        )
        is_block_start = (pos_in_run % codec.BLOCK_SIZE) == 0
        gaps = codec.delta_encode(ids_all, is_block_start)

        id_buf, id_off = codec.varint_encode_with_offsets(gaps.astype(np.uint64))
        tf_buf, tf_off = codec.varint_encode_with_offsets(tfs_arr.astype(np.uint64))
        dl_buf, dl_off = codec.varint_encode_with_offsets(dls_all.astype(np.uint64))

        if store_positions:
            # per-posting token positions: sort the token stream by
            # (posting key, position) so each posting's positions come out
            # as a contiguous ascending run of length tf; delta-gap with an
            # absolute base per posting (postings never split across
            # blocks, so block payloads stay independently decodable)
            doc_tok_start = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(dls[:-1], out=doc_tok_start[1:])
            pos_in_doc = (
                np.arange(codes.size, dtype=np.int64) - doc_tok_start[d_of_tok]
            )
            order_pos = np.lexsort((pos_in_doc, keys))
            pos_sorted = pos_in_doc[order_pos]
            tok_off = np.zeros(uniq_keys.size + 1, dtype=np.int64)
            np.cumsum(tfs_all, out=tok_off[1:])
            pos_gaps = codec.delta_encode(pos_sorted, tok_off[:-1])
            pos_buf, pos_off = codec.varint_encode_with_offsets(
                pos_gaps.astype(np.uint64)
            )

        block_starts = np.flatnonzero(is_block_start)
        block_ends = np.append(block_starts[1:], n_post)
        blk_num = (pos_in_run[block_starts] // codec.BLOCK_SIZE).astype(np.int64)
        max_tfs = np.maximum.reduceat(tfs_arr, block_starts)
        min_dls = np.minimum.reduceat(dls_all, block_starts)
        sum_tfs = np.add.reduceat(tfs_arr, block_starts)
        term_of_code = {
            int(term_code[gs]): str(uniq_terms[term_code[gs]])
            for gs in group_starts
        }
        bucket_of_code = {
            c: term_bucket(t, n_buckets) for c, t in term_of_code.items()
        }

        rows: List[tuple] = []
        for b in range(block_starts.size):
            s = int(block_starts[b])
            e = int(block_ends[b])
            tc = int(term_code[s])
            ib = id_buf[id_off[s]:id_off[e]]
            tfb = tf_buf[tf_off[s]:tf_off[e]]
            dlb = dl_buf[dl_off[s]:dl_off[e]]
            crc = codec.block_crc(ib, tfb, dlb)
            pb, pcrc = None, None
            if store_positions:
                pb = pos_buf[pos_off[tok_off[s]]:pos_off[tok_off[e]]]
                pcrc = codec.positions_crc(pb)
            rows.append((
                case_id, term_of_code[tc], bucket_of_code[tc], segment_id,
                int(blk_num[b]), e - s, ib, tfb, dlb,
                int(ids_all[s]), int(ids_all[e - 1]),
                int(max_tfs[b]), int(min_dls[b]), int(sum_tfs[b]),
                len(ib) + len(tfb) + len(dlb) + (len(pb) if pb else 0),
                crc, pb, pcrc,
            ))
        return pd.DataFrame(rows, columns=[f.name for f in _BLOCK_FIELDS])

    return build_blocks


def _segment_metrics_local(commit_dir: str):
    """Per-(case, segment) block metrics from a driver-side pyarrow read
    of the commit's metadata columns, or None above the
    METRICS_LOCAL_MAX_BLOCKS row gate.  Same sums as the distributed
    groupBy (integer arithmetic)."""
    from collections import namedtuple

    import pyarrow.dataset as ds

    dataset = ds.dataset(commit_dir, format="parquet",
                         partitioning="hive")
    if dataset.count_rows() > gate.METRICS_LOCAL_MAX_BLOCKS:
        return None
    pdf = dataset.to_table(
        columns=["case_id", "segment_id", "n", "n_bytes"]).to_pandas()
    agg = (
        pdf.groupby(["case_id", "segment_id"], sort=False)
        .agg(n_blocks=("n", "size"), n_postings=("n", "sum"),
             bytes=("n_bytes", "sum"))
        .reset_index()
    )
    Row = namedtuple("SegMetrics",
                     ["case_id", "segment_id", "n_blocks", "n_postings",
                      "bytes"])
    return [Row(str(r.case_id), int(r.segment_id), int(r.n_blocks),
                int(r.n_postings), int(r.bytes))
            for r in agg.itertuples(index=False)]


def build_postings_stage(spark, layout: IndexLayout, n_buckets: int,
                         max_segments: int | None = None,
                         docs_df=None, analyzer: str = "en",
                         store_positions: bool = False):
    """Build posting blocks into a staging dir and return the ``finish()``
    closure that commits them (rename + metrics + lineage + mark) — the
    caller runs it after the docs commit, so the commit ORDER stays
    crash-consistent while the writes themselves overlap.

    ``docs_df`` is the docs stage's cached frame of new docs, whose
    segments are new by construction.  Without it the stage reads the
    committed docs table and builds only the (case, segment) partitions
    lineage does not record as done, at most ``max_segments`` of them —
    the catch-up of a build or append killed mid-postings (``max_segments``
    also simulates that crash for the resume tests).  The stage is marked
    complete only when nothing remains."""
    from pyspark.sql import functions as F

    from pysearch.schema import POSTING_BLOCKS

    t0 = time.time()
    segs = None  # the (case, segment) keys built, when known up front
    complete_after_batch = True
    if docs_df is not None:
        # the docs stage's cached DataFrame, already hash-partitioned by
        # (case_id, segment_id) — the groupBy below runs with no exchange
        # and no disk re-read
        docs = docs_df
    else:
        docs = layout.read_commits(spark, layout.docs)
        done = layout.done_partitions("postings")
        present = [(r["case_id"], r["segment_id"]) for r in
                   docs.select("case_id", "segment_id").distinct().collect()]
        todo = sorted(k for k in present if f"{k[0]}|{k[1]}" not in done)
        segs = todo[:max_segments] if max_segments is not None else todo
        complete_after_batch = len(segs) == len(todo)
        if segs and len(segs) < len(present):
            # a non-empty pandas frame reaches Spark through Arrow as a
            # local relation; a list of tuples would run a Python-worker job
            keep = spark.createDataFrame(
                pd.DataFrame(segs, columns=["case_id", "segment_id"]),
                schema="case_id string, segment_id long")
            docs = docs.join(F.broadcast(keep), ["case_id", "segment_id"],
                             "left_semi")

    batch = layout.next_batch(layout.postings)
    staging = layout.staging_dir("postings")
    if segs != []:
        out_schema = ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in POSTING_BLOCKS.fields)
        (
            docs.select("case_id", "segment_id", "doc_id", "text")
            .groupBy("case_id", "segment_id")
            .applyInPandas(_make_block_builder(n_buckets, analyzer,
                                               store_positions),
                           schema=out_schema)
            .repartition("term_bucket")
            .sortWithinPartitions("case_id", "term", "segment_id", "block_id")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(staging)
        )

    def finish():
        if segs != []:
            layout.commit_batch(staging, layout.postings, batch)
            layout.append_lineage(spark, _postings_lineage(
                spark, layout, batch, segs, docs, t0))
        if complete_after_batch:
            layout.mark_stage("postings", n_buckets=n_buckets)

    return finish


def _postings_lineage(spark, layout: IndexLayout, batch: int, segs, docs,
                      t0: float) -> list[dict]:
    """One done lineage row per (case, segment) of committed postings
    batch ``batch``, with its block metrics."""
    from pyspark.sql import functions as F

    from pysearch.lineage import _has_parquet

    commit_dir = os.path.join(layout.postings, f"commit-{batch:05d}")
    if not _has_parquet(commit_dir):
        # zero blocks (e.g. every token stopped out): the segments are
        # still DONE — record them so resume doesn't redo them forever
        if segs is None:
            segs = [(r["case_id"], r["segment_id"]) for r in
                    docs.select("case_id", "segment_id").distinct().collect()]
        return [{"stage": "postings", "partition_key": f"{c}|{g}",
                 "batch": batch, "status": "done", "n_rows": 0,
                 "n_postings": 0, "bytes": 0,
                 "wall_sec": time.time() - t0} for c, g in segs]
    # n_bytes is precomputed at pack time, so this verification scan is
    # metadata-only — payload columns are never re-read.  Under
    # METRICS_LOCAL_MAX_BLOCKS rows (known from the parquet footers, no
    # job) the four narrow columns are read driver-side with pyarrow and
    # aggregated in pandas — identical sums, no Spark job; above the gate
    # the distributed aggregate runs.
    seg_metrics = _segment_metrics_local(commit_dir)
    if seg_metrics is None:
        seg_metrics = (
            layout.read_commits(spark, layout.postings, batches=[batch])
            .groupBy("case_id", "segment_id")
            .agg(F.count("*").alias("n_blocks"),
                 F.sum("n").alias("n_postings"),
                 F.sum("n_bytes").alias("bytes"))
            .collect()
        )
    return [{"stage": "postings",
             "partition_key": f"{r.case_id}|{r.segment_id}",
             "batch": batch, "status": "done", "n_rows": r.n_blocks,
             "n_postings": r.n_postings, "bytes": r.bytes,
             "wall_sec": time.time() - t0} for r in seg_metrics]


# --------------------------------------------------------------------------
# stage "finalize"
# --------------------------------------------------------------------------

def salted_sum(df, keys: List[str], sums: dict, salt_col, salt_n: int = SALT_N):
    """Explicit two-phase salted aggregation (north_rule skew handling):
    partial agg on (keys + salt) then final agg on keys.  Spark's partial
    aggregation does this implicitly; the explicit form guarantees the
    pattern survives plan changes and documents the technique."""
    from pyspark.sql import functions as F

    partial = df.withColumn("_salt", salt_col % salt_n).groupBy(*keys, "_salt").agg(
        *[F.sum(c).alias(a) for c, a in sums.items()]
    )
    return partial.groupBy(*keys).agg(
        *[F.sum(a).alias(a) for a in sums.values()]
    )


def _term_stats_of(blocks):
    """Per-term (df, cf) aggregate over a posting-block frame."""
    from pyspark.sql import functions as F

    return salted_sum(
        blocks.select("case_id", "term", "term_bucket", "n", "sum_tf",
                      "segment_id"),
        ["case_id", "term", "term_bucket"],
        {"n": "df", "sum_tf": "cf"},
        salt_col=F.col("segment_id"),
    ).select("case_id", "term", "term_bucket",
             F.col("df").cast("long"), F.col("cf").cast("long"))


def _write_term_stats(term_stats, path: str) -> None:
    """Write a term_stats frame under ``path``, partitioned by term_bucket
    with each bucket's rows sorted by (case_id, term) — a sort within the
    write's partitions, which adds no Spark job."""
    (
        term_stats.repartition("term_bucket")
        .sortWithinPartitions("term_bucket", "case_id", "term")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )


def build_finalize_stage(spark, layout: IndexLayout) -> None:
    """The one finalize of fresh builds, resumes and appends: fold every
    postings batch that has blocks and is not yet in the manifest's fold
    set (``stages.finalize.folded``; on a fresh build, every batch).

    - Each such batch B gets term_stats commit B, the per-term (df, cf)
      aggregate of postings commit B alone.  df/cf are additive, so readers
      sum across stats commits and an append costs O(delta), not O(index).
    - One small aggregate adds each case's sum of cf over the new commits
      to the manifest's ``sum_dl`` (sum cf == the case's analyzed token
      count == its summed doc length, an exact integer); a Searcher takes
      avgdl = sum_dl / n_docs from it, with n_docs from the docs stage's
      ``case_counts``.
    - The fold set, ``sum_dl`` and the done flag land together in ONE
      manifest write, the snapshot commit: the finalize's commit point.

    Crash-safe: stats commit B is a pure function of postings batch B and
    is rewritten in place (``replace=True``), and ``sum_dl`` grows only in
    the write that adds B to the fold set, so a rerun after a crash at any
    step folds nothing twice."""
    from pyspark.sql import functions as F

    from pysearch.lineage import _batch_of, _has_parquet, _utcnow

    t0 = time.time()
    fin = layout.read_manifest().get("stages", {}).get("finalize", {})
    folded = {int(b) for b in fin.get("folded", [])}
    commits = {_batch_of(d): d for d in layout.list_commits(layout.postings)}
    new = [b for b, d in commits.items()
           if b not in folded and _has_parquet(d)]
    for b in new:
        staging = layout.staging_dir("term_stats")
        _write_term_stats(
            _term_stats_of(layout.read_commits(spark, layout.postings,
                                               batches=[b])),
            staging)
        layout.commit_batch(staging, layout.term_stats, b, replace=True)
    sum_dl = {str(c): int(v) for c, v in fin.get("sum_dl", {}).items()}
    if new:
        for r in (layout.read_commits(spark, layout.term_stats, batches=new)
                  .groupBy("case_id").agg(F.sum("cf").alias("cf"))
                  .collect()):
            sum_dl[r.case_id] = sum_dl.get(r.case_id, 0) + int(r.cf)
    layout.append_lineage(spark, [{
        "stage": "finalize", "partition_key": f"fold:{new}",
        "status": "done", "wall_sec": time.time() - t0,
    }])
    m = layout.read_manifest()
    m.setdefault("stages", {})["finalize"] = {
        "done": True, "ts": _utcnow().isoformat(),
        "folded": sorted(folded | set(commits)), "sum_dl": sum_dl,
    }
    layout.commit_snapshot(m)  # the commit point + time-travel archive


# The benchmark's span tracer (perfbench/spans.py) patches this name too;
# it is the same finalize.
build_finalize_delta = build_finalize_stage


# --------------------------------------------------------------------------
# public API
# --------------------------------------------------------------------------

def build_index(spark, webtext_df, index_dir: str, *,
                segment_size: int = DEFAULT_SEGMENT_SIZE,
                n_buckets: int = DEFAULT_N_BUCKETS,
                resume: bool = False,
                append: bool = False,
                n_partitions: int | None = None,
                analyzer: str = "en",
                store_positions: bool = False) -> IndexLayout:
    """Build (or resume, or append to) the index at ``index_dir``.

    Fresh builds, resumes and appends run one sequence:

    1. Manifest.  A fresh call (neither ``resume`` nor ``append``, or no
       index yet) removes the directory and writes the manifest; on an
       existing index segment size, buckets, analyzer and positions come
       from the manifest.
    2. Recovery: discard a crashed compaction's staged generations, fail
       fast when lineage references postings batches absent on disk,
       remove staging dirs and commit dirs lineage does not cover (a crash
       between a commit's rename and its lineage row).
    3. Catch-up: when docs are done but postings are not (a build or append
       killed mid-postings), build the missing segments from the committed
       docs table; the postings stage resumes at (case, segment)
       granularity from lineage.
    4. New rows — a fresh build, a resume whose docs stage never finished,
       and every append (reference open-vs-create parity:
       bleve_glue.go:20-30 open-existing, catalog reload
       bleve_pdf.go:236-260, ReuseIndex index_search.go:86): the postings
       and finalize flags are cleared before new docs become visible, the
       docs stage dedupes against the committed docs, and its docs/doc_map
       writes overlap the postings compute.
    5. Finalize: fold the new postings batches into term_stats and the
       manifest's corpus statistics (O(delta) per append).

    An interrupted call is completed by rerunning it, or by
    ``build_index(resume=True)``.
    """
    from concurrent.futures import ThreadPoolExecutor

    from pysearch.compact import check_consistent, recover_compaction

    layout = IndexLayout(index_dir)
    m = layout.read_manifest()
    if m and not (resume or append):
        import shutil

        shutil.rmtree(index_dir, ignore_errors=True)
        m = {}
    if not m:
        layout.write_manifest({
            "format_version": INDEX_FORMAT_VERSION,
            "segment_size": segment_size,
            "n_buckets": n_buckets,
            "analyzer": analyzer,
            "positions": bool(store_positions),
        })
    else:
        if m.get("format_version") != INDEX_FORMAT_VERSION:
            raise RuntimeError("index format version mismatch; rebuild required")
        if append and not layout.stage_done("docs"):
            raise RuntimeError(
                "append requires an index with a completed docs stage")
        segment_size = m.get("segment_size", segment_size)
        n_buckets = m.get("n_buckets", n_buckets)
        analyzer = m.get("analyzer", "en")
        store_positions = bool(m.get("positions", False))

    # a crashed compaction's staged generation trees go BEFORE any batch
    # bookkeeping runs (committed compactions need no recovery: their
    # snapshot flip is one atomic manifest write — see pysearch/compact.py)
    recover_compaction(layout)
    check_consistent(layout)
    layout.gc_staging()
    orphans = layout.gc_orphan_commits()
    if orphans:
        print(f"pysearch: removed {len(orphans)} orphan commit(s) "
              "left by a crash before their lineage write")

    if layout.stage_done("docs") and not layout.stage_done("postings"):
        build_postings_stage(spark, layout, n_buckets, analyzer=analyzer,
                             store_positions=store_positions)()

    if append or not layout.stage_done("docs"):
        layout.clear_stage("postings")
        layout.clear_stage("finalize")
        docs_df, finish_docs, n_new = build_docs_stage(
            spark, webtext_df, layout, segment_size, n_partitions,
            store_positions=store_positions, analyzer=analyzer)
        try:
            if n_new == 0:
                finish_docs()
                layout.mark_stage("postings", n_buckets=n_buckets)
            else:
                # the docs/doc_map writes and the postings compute read the
                # same cached docs partitions (each computed once, see the
                # docs stage's finish); on a shared-disk host the postings
                # tokenization hides the docs write latency.  The postings
                # commit runs only after the docs commit.
                with ThreadPoolExecutor(max_workers=2) as ex:
                    f_post = ex.submit(
                        build_postings_stage, spark, layout, n_buckets,
                        docs_df=docs_df, analyzer=analyzer,
                        store_positions=store_positions)
                    f_docs = ex.submit(finish_docs)
                    finish_postings = f_post.result()
                    f_docs.result()
                finish_postings()
        finally:
            docs_df.unpersist()

    if not layout.stage_done("finalize"):
        build_finalize_stage(spark, layout)
    return layout
