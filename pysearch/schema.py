"""All fixed StructType schemas of the engine's tables.

Table layout (parquet directories standing in for Iceberg tables in this
sandbox — on a cluster each becomes an Iceberg table and every batch commit
below becomes an Iceberg snapshot commit; see build.py):

- ``docs``        — one row per indexed document (reference analog: the
  positions/text sidecar store, /root/reference/internal/doclib/doc_positions.go:33-49)
- ``doc_map``     — catalog: doc_id <-> url <-> content_hash (reference:
  file_list.json, /root/reference/internal/doclib/file_desc.go:15-35)
- ``postings``    — packed posting blocks (reference: bleve scorch segments,
  /root/reference/go.mod:4,10)
- ``term_stats``  — per-term df/cf
- ``lineage``     — per-partition build lineage + metrics (north_rule)
- ``tombstones``  — pending deletes (delete.py)

Each case's doc count N and summed doc length (avgdl = sum_dl / N) are not
a table: they live in the manifest (``stages.docs.case_counts`` and
``stages.finalize.sum_dl``), which every snapshot archives.
"""

from pyspark.sql import types as T

WEBTEXT = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), True),
    T.StructField("html", T.BinaryType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("case_id", T.StringType(), True),
])

DOCS = T.StructType([
    T.StructField("case_id", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("segment_id", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("content_hash", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    # token-offset sidecar (build_index(store_positions=True)) — the S9
    # positions-store analog (reference: flatbuffers offset->bbox sidecars,
    # doc_positions.go:33-49): char start (delta+varint) and length
    # (varint) of every surviving token, so query-time span construction
    # decodes O(n_tokens) varints instead of re-analyzing the text
    T.StructField("n_tokens", T.IntegerType(), True),
    T.StructField("tok_starts_bin", T.BinaryType(), True),
    T.StructField("tok_lens_bin", T.BinaryType(), True),
    T.StructField("offs_crc32", T.LongType(), True),
])

#: the token-offset sidecar columns of docs (store_positions=True builds)
TOKEN_OFFSETS = ("n_tokens", "tok_starts_bin", "tok_lens_bin", "offs_crc32")

# the catalog columns of docs, written alongside it by the docs stage
DOC_MAP = T.StructType([DOCS[c] for c in ("case_id", "doc_id", "url",
                                          "content_hash")])

POSTING_BLOCKS = T.StructType([
    T.StructField("case_id", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("term_bucket", T.IntegerType(), False),
    T.StructField("segment_id", T.LongType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("n", T.IntegerType(), False),
    T.StructField("doc_ids_bin", T.BinaryType(), False),
    T.StructField("tfs_bin", T.BinaryType(), False),
    T.StructField("dls_bin", T.BinaryType(), False),
    T.StructField("min_doc_id", T.LongType(), False),
    T.StructField("max_doc_id", T.LongType(), False),
    T.StructField("max_tf", T.IntegerType(), False),
    T.StructField("min_dl", T.IntegerType(), False),
    T.StructField("sum_tf", T.LongType(), False),
    # payload size, precomputed at build so metrics scans never have to
    # re-read the packed binary columns (column pruning stays effective)
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("crc32", T.LongType(), False),
    # optional index-side term positions (store_positions=True): per posting
    # the tf token positions, delta+varint packed with an absolute base per
    # posting (reference parity: bleve term vectors enabled by the highlight
    # field mapping, bleve_glue.go:42-61, consumed as Locations at
    # search_pdfs.go:382-484).  CRC'd separately so readers that never touch
    # positions keep the existing 3-buffer check unchanged.
    T.StructField("pos_bin", T.BinaryType(), True),
    T.StructField("pos_crc32", T.LongType(), True),
])

TERM_STATS = T.StructType([
    T.StructField("case_id", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("term_bucket", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("cf", T.LongType(), False),
])

# tombstoned deletes (delete.delete_docs): docs suppressed at query time,
# physically purged (and this table emptied) by compact.compact_index —
# Lucene's deleted-docs model re-expressed over commit-batch tables
TOMBSTONES = T.StructType([
    T.StructField("case_id", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
])

LINEAGE = T.StructType([
    T.StructField("stage", T.StringType(), False),
    T.StructField("partition_key", T.StringType(), False),
    T.StructField("batch", T.IntegerType(), False),
    T.StructField("status", T.StringType(), False),
    T.StructField("n_rows", T.LongType(), True),
    T.StructField("n_postings", T.LongType(), True),
    T.StructField("bytes", T.LongType(), True),
    T.StructField("wall_sec", T.DoubleType(), True),
    T.StructField("ts", T.TimestampType(), False),
])

HITS = T.StructType([
    T.StructField("case_id", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

SPAN = T.StructType([
    T.StructField("start", T.IntegerType(), False),
    T.StructField("end", T.IntegerType(), False),
    T.StructField("score", T.DoubleType(), False),
])

MATCHES = T.StructType([
    T.StructField("case_id", T.StringType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("url", T.StringType(), False),
    T.StructField("score", T.DoubleType(), False),
    T.StructField("spans", T.ArrayType(SPAN), False),
    T.StructField("line_nums", T.ArrayType(T.IntegerType()), False),
    T.StructField("lines", T.ArrayType(T.StringType()), False),
    T.StructField("fragment", T.StringType(), False),
])


def table_schema(name: str, positions: bool = False) -> T.StructType:
    """The declared schema of index table ``name``; docs carries the
    token-offset sidecar columns only when the index stores positions."""
    if name == "docs" and not positions:
        return T.StructType([f for f in DOCS.fields
                             if f.name not in TOKEN_OFFSETS])
    return {"docs": DOCS, "doc_map": DOC_MAP, "postings": POSTING_BLOCKS,
            "term_stats": TERM_STATS, "tombstones": TOMBSTONES,
            "lineage": LINEAGE}[name]
