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
    metadata; corpus_stats (N, avgdl); manifest marked complete.

Every stage commits atomically and records per-partition lineage + metrics;
a resumed build skips completed segments (north_rule).
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
                     n_partitions: int | None = None, existing=None,
                     batch: int = 0, defer_commit: bool = False,
                     store_positions: bool = False, analyzer: str = "en"):
    """Clean/dedupe/assign-id the input and commit it as docs batch ``batch``
    (the doc_map catalog batch is written alongside, from the same cached
    partitions, and per-case doc counts land in the manifest so finalize
    never has to re-scan the docs table).

    ``existing`` (append mode): projection of the current docs table
    (case_id, doc_id, url, content_hash).  New rows matching an existing
    url OR content hash are skipped (append adds documents; it does not
    update existing ones), and appended doc_ids start at the next segment
    boundary above the per-case max so appended segments never mix with
    already-built ones.

    ``defer_commit=True`` returns ``(docs, finish)`` where ``finish()``
    performs the staging writes + commits + lineage + stage mark — the
    caller can overlap those disk writes with the postings compute, which
    only needs the cached ``docs`` DataFrame."""
    from pyspark.sql import functions as F

    t0 = time.time()
    n_partitions = n_partitions or spark.sparkContext.defaultParallelism

    df = webtext_df
    if "case_id" not in df.columns:
        df = df.withColumn("case_id", F.lit("0"))
    df = shape_webtext(df)

    base = None
    if existing is not None:
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
    # the projection is read twice (winners window + dup-key check) and
    # feeds the range sampler — cache it so the full input scan + hashing
    # runs exactly once
    proj = df.select("case_id", "url", "content_hash").persist()
    # content dedupe: one min-AGGREGATE shuffle of the projection (same
    # winners as a rank window — "the row whose url is the min of its hash
    # group" == one (hash -> min url) row per group — but a groupBy
    # partially aggregates map-side and needs no per-partition sort); url
    # dedupe costs nothing extra — it happens inside the assignment pass
    # where duplicate urls land adjacent (see _assign_doc_ids)
    # persisted: the range partitioner's SAMPLE job and the offsets job in
    # _assign_doc_ids both consume winners — uncached, the dedupe
    # aggregate ran twice (once under the sampler, once for real)
    winners = (
        proj.groupBy("case_id", "content_hash")
        .agg(F.min("url").alias("url"))
        .select("case_id", "url", "content_hash")
    ).persist()

    # exact-duplicate input rows (same url AND content) would multiply
    # through the id join.  Detect them on the projection (text-free) and
    # only if any exist, dedupe just those keys — the common no-dup path
    # never shuffles document bodies for this.  Rows equal on
    # (case,url,hash) are identical by the content-hash contract, so the
    # dropDuplicates is value-deterministic.  ONE aggregate job yields both
    # the duplicate-key existence check and the quarantine-accounting input
    # count (previously two separate actions over the cached projection) —
    # submitted CONCURRENTLY with the id-assignment jobs (guide §2.6: both
    # depend only on the cached projection; first-computation of shared
    # cache partitions is serialized safely by BlockManager block locks).
    from concurrent.futures import ThreadPoolExecutor

    key_counts = proj.groupBy("case_id", "url", "content_hash").count()
    with ThreadPoolExecutor(max_workers=1) as _ex:
        f_stat = _ex.submit(
            lambda: key_counts.agg(F.sum("count").alias("n_input"),
                                   F.max("count").alias("mx")).collect()[0])
        try:
            id_map, pinned, counts = _assign_doc_ids(spark, winners,
                                                     n_partitions, base=base)
            stat = f_stat.result()
        except BaseException as err:
            # wait for the dup check, keep its error on the raised one,
            # and release the frames this stage cached
            dup_err = f_stat.exception()
            if dup_err is not None and dup_err is not err:
                err.add_note(f"concurrent duplicate-key check also failed: "
                             f"{dup_err!r}")
            winners.unpersist()
            proj.unpersist()
            raise
    n_input = int(stat["n_input"] or 0)
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
    # sum(tf) over a doc's terms == its analyzed length, so corpus_stats
    # derives avgdl from block metadata (finalize) — one analyzer pass total.
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
        # The docs write materializes the docs cache as it streams (persist
        # semantics: any job computing a partition stores it); a concurrent
        # postings job computing the same partitions is safe — BlockManager
        # block locks make first-computation exclusive.  The pinned range
        # layout MUST stay persisted until this write completes: doc_ids
        # are only valid against the _pid boundaries the offsets were
        # collected from, and repartitionByRange re-SAMPLES boundaries on
        # an unpinned recompute.
        staging = layout.staging_dir("docs")
        docs.write.mode("overwrite").partitionBy("case_id").parquet(staging)
        pinned.unpersist()
        winners.unpersist()
        proj.unpersist()
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

    if defer_commit:
        return docs, finish, n
    finish()
    return docs  # cached; caller passes it to the postings stage and unpersists


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
                         resume: bool = False,
                         max_segments: int | None = None,
                         docs_df=None, analyzer: str = "en",
                         defer_commit: bool = False,
                         nonempty_hint: bool = False,
                         store_positions: bool = False):
    """Build posting blocks for all (or up to ``max_segments``) segments not
    yet recorded as done in lineage.  ``max_segments`` bounds one batch —
    the incremental/ops hook that also simulates a crash mid-stage for the
    resume tests.  The stage is marked complete only when nothing remains.

    ``defer_commit=True`` runs the heavy compute + staging write and
    returns a ``finish()`` closure holding the commit (rename + metrics +
    lineage + mark) — the caller sequences it after the docs commit so the
    commit ORDER stays crash-consistent while the writes themselves
    overlap."""
    from pyspark.sql import functions as F

    from pysearch.schema import POSTING_BLOCKS

    t0 = time.time()
    from pysearch.schema import DOCS

    if docs_df is not None:
        # fresh build / append: the docs stage hands over its cached
        # DataFrame, already hash-partitioned by (case_id, segment_id) —
        # the groupBy below runs with no exchange and no disk re-read
        docs = docs_df
    else:
        docs = layout.read_commits(spark, layout.docs, schema=DOCS).withColumn(
            "case_id", F.col("case_id").cast("string")
        )

    done: set = layout.done_partitions(spark, "postings") if resume else set()
    if done:
        done_df = spark.createDataFrame(
            [(k.split("|", 1)[0], int(k.split("|", 1)[1])) for k in done],
            schema="case_id string, segment_id long",
        )
        docs = docs.join(F.broadcast(done_df), ["case_id", "segment_id"], "left_anti")

    complete_after_batch = True
    if max_segments is not None:
        remaining = [
            (r["case_id"], r["segment_id"])
            for r in docs.select("case_id", "segment_id").distinct().collect()
        ]
        if len(remaining) > max_segments:
            chosen = sorted(remaining)[:max_segments]
            chosen_df = spark.createDataFrame(
                chosen, schema="case_id string, segment_id long"
            )
            docs = docs.join(F.broadcast(chosen_df), ["case_id", "segment_id"], "left_semi")
            complete_after_batch = False
    # the emptiness probe on a not-yet-cached frame computes the full map
    # side of the docs join just to see one row — skip it when the docs
    # stage already knows its row count (nonempty_hint)
    if not nonempty_hint and docs.isEmpty():
        def mark_only():
            layout.mark_stage("postings", n_buckets=n_buckets)

        if defer_commit:
            return mark_only
        mark_only()
        return

    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in POSTING_BLOCKS.fields
    )

    blocks = (
        docs.select("case_id", "segment_id", "doc_id", "text")
        .groupBy("case_id", "segment_id")
        .applyInPandas(_make_block_builder(n_buckets, analyzer,
                                           store_positions),
                       schema=out_schema)
    )

    batch = layout.next_batch(layout.postings)
    staging = layout.staging_dir("postings")
    (
        blocks
        .repartition("term_bucket")
        .sortWithinPartitions("case_id", "term", "segment_id", "block_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(staging)
    )

    def finish():
        layout.commit_batch(staging, layout.postings, batch)

        # lineage + metrics per (case, segment) from the committed batch
        from pysearch.lineage import _has_parquet

        commit_dir = os.path.join(layout.postings, f"commit-{batch:05d}")
        if _has_parquet(commit_dir):
            # n_bytes is precomputed at pack time, so this verification
            # scan is metadata-only — payload columns are never re-read.
            # Under METRICS_LOCAL_MAX_BLOCKS rows (known from the parquet
            # footers, no job) the four narrow columns are read driver-side
            # with pyarrow and aggregated in pandas — identical sums, no
            # Spark job; above the gate the distributed aggregate runs.
            seg_metrics = _segment_metrics_local(commit_dir)
            if seg_metrics is None:
                written = spark.read.parquet(commit_dir)
                seg_metrics = (
                    written.groupBy("case_id", "segment_id")
                    .agg(
                        F.count("*").alias("n_blocks"),
                        F.sum("n").alias("n_postings"),
                        F.sum("n_bytes").alias("bytes"),
                    )
                    .collect()
                )
            rows = [
                {
                    "stage": "postings",
                    "partition_key": f"{r.case_id}|{r.segment_id}",
                    "batch": batch,
                    "status": "done",
                    "n_rows": r.n_blocks,
                    "n_postings": r.n_postings,
                    "bytes": r.bytes,
                    "wall_sec": time.time() - t0,
                }
                for r in seg_metrics
            ]
        else:
            # zero blocks (e.g. every token stopped out): the segments are
            # still DONE — record them so resume doesn't redo them forever
            rows = [
                {
                    "stage": "postings",
                    "partition_key": f"{r['case_id']}|{r['segment_id']}",
                    "batch": batch, "status": "done", "n_rows": 0,
                    "n_postings": 0, "bytes": 0, "wall_sec": time.time() - t0,
                }
                for r in docs.select("case_id", "segment_id").distinct().collect()
            ]
        layout.append_lineage(spark, rows)
        if complete_after_batch:
            layout.mark_stage("postings", n_buckets=n_buckets)

    if defer_commit:
        return finish
    finish()


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


def _postings_disk_batches(layout: IndexLayout) -> list[int]:
    return sorted(
        int(os.path.basename(d).split("-", 1)[1])
        for d in layout.list_commits(layout.postings)
    )


def _n_per_case_df(spark, layout: IndexLayout):
    """Per-case doc counts from the manifest (recorded by the docs stage) so
    finalize never re-scans the docs table; legacy indexes without
    case_counts fall back to the scan."""
    from pyspark.sql import functions as F

    from pysearch.schema import DOCS

    cc = layout.read_manifest().get("stages", {}).get("docs", {}).get("case_counts")
    if cc:
        return spark.createDataFrame(
            [(str(k), int(v)) for k, v in cc.items()],
            schema="case_id string, n_docs long",
        )
    docs = layout.read_commits(spark, layout.docs, schema=DOCS).withColumn(
        "case_id", F.col("case_id").cast("string")
    )
    return docs.groupBy("case_id").agg(
        F.count("*").cast("long").alias("n_docs")
    )


def _block_frame(blocks):
    """A posting-block frame with the stats tables' key types: case_id a
    string, term_bucket an int."""
    from pyspark.sql import functions as F

    return blocks.withColumn(
        "case_id", F.col("case_id").cast("string")
    ).withColumn("term_bucket", F.col("term_bucket").cast("int"))


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


def _corpus_stats_of(n_per_case, frame, tf_col: str):
    """corpus_stats rows (case_id, n_docs, sum_dl, avgdl): the per-case doc
    counts left-joined with the per-case sum of ``tf_col`` over ``frame``.
    ``sum_tf`` over posting blocks and ``cf`` over term_stats both sum to
    the case's analyzed token count, i.e. its sum of doc lengths (exact
    integers), so avgdl needs no docs or text re-scan."""
    from pyspark.sql import functions as F

    dl_per_case = frame.groupBy("case_id").agg(
        F.sum(tf_col).cast("long").alias("sum_dl"))
    return (
        n_per_case.join(dl_per_case, "case_id", "left")
        .fillna({"sum_dl": 0})
        .withColumn("avgdl", F.col("sum_dl") / F.col("n_docs"))
    )


def _write_corpus_stats_from_term_stats(spark, layout: IndexLayout) -> None:
    """Rewrite corpus_stats from manifest doc counts + the term_stats table.

    sum(cf) per case over term_stats == total analyzed tokens == sum of doc
    lengths (exact integer identity), so avgdl never needs a postings or
    docs re-scan — an O(vocabulary) narrow column scan at most.  Fully
    deterministic from committed state, hence idempotent across crashes."""
    from pysearch.schema import TERM_STATS

    ts = layout.read_commits(spark, layout.term_stats, schema=TERM_STATS)
    staging = layout.staging_dir("corpus_stats")
    _corpus_stats_of(_n_per_case_df(spark, layout), ts, "cf").coalesce(
        1).write.mode("overwrite").parquet(staging)
    _commit_stats_tables(layout, [("corpus_stats", staging, False)])


def _commit_stats_tables(layout: IndexLayout, staged: list) -> None:
    """Install freshly-RECOMPUTED stats tables (term_stats/corpus_stats —
    the two non-additive tables a finalize replaces wholesale), ALL made
    visible by one atomic manifest write.

    ``staged`` is a list of ``(name, staging_dir, clear_current)``.  On a
    snapshot-bearing index each table's new tree is written as its NEXT
    generation, then every generation pointer flips in a SINGLE manifest
    write (``bump_generations``) — two sequential bumps would let a
    Searcher refreshing between them freeze a generation map with NEW
    term_stats but STALE corpus_stats (df > n_docs, distorted idf),
    violating the one-atomic-manifest-write load-consistency invariant
    that compact_index's step-3 commit honors.  On a fresh build (no
    snapshots yet — unreachable by readers, finalize isn't marked done)
    each table replaces batch 0 in place (``clear_current`` drops
    accumulated delta commits first).  NOT thread-safe — callers commit
    sequentially (parquet staging writes may still run concurrently)."""
    import shutil

    if layout.read_manifest().get("snapshot_version"):
        flips = {}
        for name, staging, _clear in staged:
            new_gen = int(layout._generations().get(name, 0)) + 1
            tdir = layout.table_path(name, new_gen)
            shutil.rmtree(tdir, ignore_errors=True)
            os.makedirs(tdir, exist_ok=True)
            os.rename(staging, os.path.join(tdir, "commit-00000"))
            flips[name] = new_gen
        layout.bump_generations(flips)
    else:
        for name, staging, clear_current in staged:
            if clear_current:
                shutil.rmtree(layout.table_path(name), ignore_errors=True)
            layout.commit_batch(staging, layout.table_path(name), 0,
                                replace=True)


def build_finalize_stage(spark, layout: IndexLayout) -> None:
    """Full-index stats recompute (fresh builds).  Appends and streaming
    micro-batches use ``build_finalize_delta`` instead, which touches only
    the new postings batches — O(delta), not O(index)."""
    from pysearch.schema import POSTING_BLOCKS

    t0 = time.time()
    blocks = _block_frame(layout.read_commits(
        spark, layout.postings, schema=POSTING_BLOCKS))
    term_stats = _term_stats_of(blocks)
    # avgdl from block metadata — saves a second analyzer pass over text
    corpus_stats = _corpus_stats_of(_n_per_case_df(spark, layout), blocks,
                                    "sum_tf")

    # the two table writes are independent — submit them as concurrent
    # Spark jobs (thread-safe by design) so their stage latencies overlap
    # (doc_map is written by the docs stage, from cached partitions)
    from concurrent.futures import ThreadPoolExecutor

    def stage_term_stats():
        staging = layout.staging_dir("term_stats")
        _write_term_stats(term_stats, staging)
        # a full recompute covers everything: clear any delta commits a
        # previous append left when installing in place
        return ("term_stats", staging, True)

    def stage_corpus_stats():
        staging = layout.staging_dir("corpus_stats")
        corpus_stats.coalesce(1).write.mode("overwrite").parquet(staging)
        return ("corpus_stats", staging, False)

    with ThreadPoolExecutor(max_workers=2) as ex:
        futures = [ex.submit(f) for f in
                   (stage_term_stats, stage_corpus_stats)]
        staged = [fut.result() for fut in futures]
    # both stats trees flip visible in ONE manifest write: a reader must
    # never freeze new term_stats against stale corpus_stats (df > n_docs)
    _commit_stats_tables(layout, staged)

    layout.append_lineage(spark, [{
        "stage": "finalize", "partition_key": "all", "status": "done",
        "wall_sec": time.time() - t0,
    }])
    layout.mark_stage("finalize", folded=_postings_disk_batches(layout))
    layout.commit_snapshot()  # archive as a numbered time-travel snapshot


def build_finalize_delta(spark, layout: IndexLayout) -> None:
    """O(delta) stats maintenance for appends/streaming micro-batches.

    The full recompute re-aggregated term_stats over ALL posting blocks per
    append — an O(index) metadata scan per streaming micro-batch (the r2
    scale flaw).  Delta finalize instead:

    - reads ONLY the postings commit batches not yet folded into term_stats
      (the fold set lives in the manifest's finalize entry);
    - writes each new batch's per-term (df, cf) aggregate as term_stats
      commit ``commit-<postings_batch>`` — df/cf are additive, so readers
      SUM across stats commits (query-side: Searcher._term_dfs; offline:
      compact_index consolidates);
    - rewrites corpus_stats (one row per case) from manifest doc counts +
      a sum over term_stats' cf column.

    Crash-safe by construction: the stats commit for postings batch B is a
    pure function of batch B's blocks and is named after it, so a rerun
    rewrites the same content in place (``replace=True``) — double-folding
    is impossible, whatever step a previous attempt died at.  Falls back to
    the full recompute for legacy indexes with no fold bookkeeping."""
    fin = layout.read_manifest().get("stages", {}).get("finalize", {})
    folded = fin.get("folded")
    if folded is None:
        build_finalize_stage(spark, layout)
        return
    t0 = time.time()
    folded = set(int(b) for b in folded)
    disk = _postings_disk_batches(layout)
    new = [b for b in disk if b not in folded]
    from pysearch.lineage import _has_parquet

    for b in new:
        commit_dir = os.path.join(layout.postings, f"commit-{b:05d}")
        if not _has_parquet(commit_dir):
            continue  # zero-block batch (all tokens stopped out)
        staging = layout.staging_dir("term_stats")
        _write_term_stats(
            _term_stats_of(_block_frame(spark.read.parquet(commit_dir))),
            staging)
        layout.commit_batch(staging, layout.term_stats, b, replace=True)
    _write_corpus_stats_from_term_stats(spark, layout)
    layout.append_lineage(spark, [{
        "stage": "finalize", "partition_key": f"delta:{new}",
        "status": "done", "wall_sec": time.time() - t0,
    }])
    layout.mark_stage("finalize", folded=sorted(folded | set(new)))
    layout.commit_snapshot()  # archive as a numbered time-travel snapshot


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
    """Build (or resume, or append to) the full index at ``index_dir``.

    Resume semantics: stage-level markers in the manifest; the postings stage
    additionally resumes at (case, segment) granularity from lineage rows, so
    a build killed mid-postings redoes only missing segments.

    ``append=True`` adds new documents to an EXISTING index (reference
    open-vs-create parity: bleve_glue.go:20-30 open-existing, catalog reload
    bleve_pdf.go:236-260, ReuseIndex index_search.go:86) — see
    ``_append_index``.  Appending to a nonexistent index is a fresh build.
    """
    layout = IndexLayout(index_dir)
    m = layout.read_manifest()
    if append and m:
        if m.get("format_version") != INDEX_FORMAT_VERSION:
            raise RuntimeError("index format version mismatch; rebuild required")
        return _append_index(spark, webtext_df, layout, n_partitions)
    if m and not resume:
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
        segment_size = m.get("segment_size", segment_size)
        n_buckets = m.get("n_buckets", n_buckets)
        store_positions = bool(m.get("positions", False))
    layout.gc_staging()
    if resume:
        from pysearch.compact import recover_compaction

        recover_compaction(layout)
        orphans = layout.gc_orphan_postings_commits(spark)
        if orphans:
            print(f"pysearch: removed {len(orphans)} orphan postings commit(s) "
                  "left by a crash before their lineage write")

    analyzer_m = layout.read_manifest().get("analyzer", "en")
    if not layout.stage_done("docs"):
        docs_df, finish_docs, n_new = build_docs_stage(
            spark, webtext_df, layout, segment_size, n_partitions,
            defer_commit=True, store_positions=store_positions,
            analyzer=analyzer_m,
        )
        # Overlap the docs/doc_map disk writes with the postings compute:
        # both consume the same cached docs partitions (BlockManager block
        # locks make concurrent first-computation safe), and on a
        # shared-disk host the postings tokenization hides the docs write
        # latency.  Commit ORDER stays crash-consistent: the postings
        # commit closure runs only after the docs commit returned.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as ex:
            f_post = ex.submit(
                build_postings_stage, spark, layout, n_buckets,
                resume=resume, docs_df=docs_df, analyzer=analyzer_m,
                defer_commit=True, nonempty_hint=n_new > 0,
                store_positions=store_positions,
            )
            f_docs = ex.submit(finish_docs)
            finish_postings = f_post.result()
            f_docs.result()
        finish_postings()
        docs_df.unpersist()
    elif not layout.stage_done("postings"):
        build_postings_stage(spark, layout, n_buckets, resume=resume,
                             analyzer=analyzer_m,
                             store_positions=store_positions)
    if not layout.stage_done("finalize"):
        build_finalize_stage(spark, layout)
    return layout


def _append_index(spark, webtext_df, layout: IndexLayout,
                  n_partitions: int | None = None) -> IndexLayout:
    """Incremental append of new documents to an existing complete index.

    - New rows are deduped against the CURRENT docs table (url and content
      hash): append adds documents, it never updates existing ones.
    - Appended doc_ids start at the next segment boundary above the
      per-case max, so appended segments never mix with already-built ones
      — the (case, segment) postings done-granularity stays valid at the
      cost of at most one segment's worth of id space per append per case.
    - Postings build only the new segments (incremental commit batch);
      term_stats gains one delta commit aggregated from ONLY the new
      batch's block metadata and corpus_stats is rewritten from manifest
      counts + term_stats (``build_finalize_delta`` — O(delta) per append,
      not O(index); readers sum df/cf across stats commits).
    - Crash-safe: the postings/finalize done-flags are cleared BEFORE the
      docs commit, and the docs lineage append is the docs commit point
      (orphan batches are GC'd), so an interrupted append is completed by
      rerunning it — or by ``build_index(resume=True)``, whose postings
      resume path rebuilds exactly the missing segments from the committed
      docs table.
    """
    from pyspark.sql import functions as F

    from pysearch.schema import DOCS

    m = layout.read_manifest()
    if not layout.stage_done("docs"):
        raise RuntimeError("append requires an index with a completed docs stage")
    segment_size = int(m["segment_size"])
    n_buckets = int(m["n_buckets"])
    analyzer = m.get("analyzer", "en")
    store_positions = bool(m.get("positions", False))
    # a crashed compaction's staged (uncommitted) generation trees must be
    # discarded BEFORE any batch bookkeeping runs; after the sweep, fail
    # fast if lineage still references postings batches absent on disk.
    # (Committed compactions need no recovery: the snapshot flip is one
    # atomic manifest write — see pysearch/compact.py.)
    from pysearch.compact import check_consistent, recover_compaction

    recover_compaction(layout)
    check_consistent(spark, layout)
    layout.gc_staging()
    layout.gc_orphan_docs_commits(spark)
    layout.gc_orphan_postings_commits(spark)

    if not layout.stage_done("postings"):
        # a previous append crashed mid-postings: its docs are committed
        # but some of their segments were never built.  Catch up from the
        # committed docs table (the done-filter keeps this to exactly the
        # missing segments) BEFORE appending new rows, so the fast path
        # below (postings from the cached new-docs frame only) stays valid.
        build_postings_stage(spark, layout, n_buckets, resume=True,
                             analyzer=analyzer,
                             store_positions=store_positions)

    existing = layout.read_commits(spark, layout.docs, schema=DOCS).select(
        F.col("case_id").cast("string").alias("case_id"),
        "doc_id", "url", "content_hash",
    )
    batch = layout.next_batch(layout.docs)
    # invalidate downstream stages before new docs become visible
    layout.clear_stage("postings")
    layout.clear_stage("finalize")
    docs_df, finish_docs, n_new = build_docs_stage(
        spark, webtext_df, layout, segment_size, n_partitions,
        existing=existing, batch=batch, defer_commit=True,
        store_positions=store_positions, analyzer=analyzer,
    )
    finish_docs()
    build_postings_stage(spark, layout, n_buckets, resume=True,
                         docs_df=docs_df, analyzer=analyzer,
                         nonempty_hint=n_new > 0,
                         store_positions=store_positions)
    docs_df.unpersist()
    build_finalize_delta(spark, layout)
    return layout
