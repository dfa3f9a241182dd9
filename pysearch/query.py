"""Top-k query engine over the built index.

Query lifecycle (Spark-first redesign of the reference's
/root/reference/internal/doclib/search_pdfs.go:114-277 path, SURVEY.md §3.2):

  query string -> analyze() (same chain as indexing) -> score.QueryPlan
    -> Searcher._search, the one search path (a single query is a batch of
       one): the prune rule and the local gate (_use_local)
    -> Searcher._execute, the one executor for every mode:
       read postings with (case_id, term_bucket, term) filters
       [parquet partition pruning on term_bucket + row-group pruning on term]
    -> under the local gate: one driver-local fetch, scored in-process by
       the same kernel; else
    -> optional lossless block-max pruning (WAND-style), bounds computed
       on the driver from block metadata: phase 1 scores the
       highest-upper-bound segments to establish the running kth score θ;
       phase 2 scores only the blocks whose upper bound can still reach θ
    -> groupBy(segment).applyInPandas: score.score_segment_blocks decodes
       blocks, applies each plan's match step, BM25, local top-k (all
       postings of a doc live in one segment, so local sums are final)
    -> global orderBy(score desc, doc_id asc).limit(k) (per-query window
       for a batch)
    -> back-join docs (broadcast the tiny hit set) -> phrase-span alignment
       + Best filter + line numbers.

Unlike the reference (which re-opens index + catalog per query,
search_pdfs.go:124-134 — SURVEY §7.5 quirk), a Searcher caches corpus/term
stats and reuses the postings DataFrame across queries.
"""

from __future__ import annotations

import os
import re
from collections import Counter
from typing import Dict, List, Optional, Tuple

import numpy as np
import pandas as pd

from pysearch import codec, gate
from pysearch import score as sc
from pysearch.build import term_bucket
from pysearch.gate import (LOCAL_BATCH_FACTOR, LOCAL_MAX_CATALOG,
                           LOCAL_MAX_VOCAB, PRUNE_MIN_POSTINGS,
                           local_max_postings)
from pysearch.lineage import IndexLayout, footer_rows
from pysearch.version import INDEX_FORMAT_VERSION

DEFAULT_MAX_RESULTS = 10  # reference: index_search.go:55-56
PRUNE_FIRST_SEGMENTS = 8  # segments scored in phase 1 to establish θ


def _lev_batch(q: str, cands) -> "np.ndarray":
    """Classic Levenshtein distance from ``q`` to every candidate term,
    vectorized across candidates (DP columns as numpy vectors).  Exactly
    the textbook recurrence — the same values as Spark ``F.levenshtein``
    and DuckDB ``levenshtein`` (no transpositions, unit costs)."""
    n = len(cands)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    lens = np.fromiter((len(t) for t in cands), dtype=np.int64, count=n)
    L = int(lens.max())
    m = len(q)
    if L == 0:
        return np.full(n, m, dtype=np.int64)
    mat = np.zeros((n, L), dtype=np.int64)
    for i, t in enumerate(cands):
        mat[i, : len(t)] = [ord(c) for c in t]
    prev = np.broadcast_to(np.arange(L + 1, dtype=np.int64),
                           (n, L + 1)).copy()
    cur = np.empty_like(prev)
    for i in range(1, m + 1):
        cur[:, 0] = i
        neq = (mat != ord(q[i - 1])).astype(np.int64)
        for j in range(1, L + 1):
            np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1, out=cur[:, j])
            np.minimum(cur[:, j], prev[:, j - 1] + neq[:, j - 1],
                       out=cur[:, j])
        prev, cur = cur, prev
    return prev[np.arange(n), lens]
MAX_PENDING_TOMBSTONES = 10_000_000  # pending (uncompacted) deletes a
# Searcher will ship to executors inside scoring closures (~80 MB of int64
# per case above this).  The Lucene-style operating rule is "compact before
# tombstones grow"; this cap ENFORCES it with a clear error instead of a
# silent driver/executor OOM at 10^8 pending deletes.


_HITS_SCHEMA = "qid string, doc_id long, score double"


def catalog_take(cat: dict, col: str, doc_ids) -> np.ndarray:
    """``cat[col]`` at each of ``doc_ids`` (ids present in the catalog) for
    a Searcher._catalog entry: a searchsorted over the catalog's doc_id
    order, which is sorted once and memoized in the same entry (catalog
    doc_ids are unique per case, so the order has no ties)."""
    if "doc_order" not in cat:
        order = np.argsort(cat["doc_id"], kind="stable")
        cat["doc_order"] = (order, cat["doc_id"][order])
    order, ids_sorted = cat["doc_order"]
    return cat[col][order[np.searchsorted(
        ids_sorted, np.asarray(doc_ids, dtype=np.int64))]]


def _empty_hits() -> pd.DataFrame:
    return pd.DataFrame({"qid": pd.Series([], dtype="object"),
                         "doc_id": pd.Series([], dtype="int64"),
                         "score": pd.Series([], dtype="float64")})


def _sort_hits(pdf: pd.DataFrame) -> pd.DataFrame:
    """(qid asc, score desc, doc_id asc) — the executor's result order."""
    return (pdf.sort_values(["qid", "score", "doc_id"],
                            ascending=[True, False, True], kind="stable")
            .reset_index(drop=True))


def _merge_topk(per_q: Dict[str, tuple], k: int) -> pd.DataFrame:
    """Each qid's global top-k of its segment top-ks (``per_q``: qid ->
    (ids arrays, score arrays)), in _sort_hits order."""
    frames = []
    for qid in sorted(per_q):
        ids = np.concatenate(per_q[qid][0])
        scores = np.concatenate(per_q[qid][1])
        o = np.lexsort((ids, -scores))[:k]
        frames.append(pd.DataFrame({"qid": qid, "doc_id": ids[o],
                                    "score": scores[o]}))
    if not frames:
        return _empty_hits()
    return pd.concat(frames, ignore_index=True)


def _read_arrow(dirs, partition: tuple, columns, flt) -> pd.DataFrame:
    """``columns`` of the rows matching the pyarrow filter ``flt`` in the
    commit dirs ``dirs`` of a table hive-partitioned by ``partition`` (a
    (name, arrow type) pair), read on the driver into one pandas frame —
    no Spark job."""
    import pyarrow as pa
    import pyarrow.dataset as ds

    part = ds.partitioning(pa.schema([partition]), flavor="hive")
    frames = [
        ds.dataset(d, format="parquet", partitioning=part)
        .to_table(columns=list(columns), filter=flt).to_pandas()
        for d in dirs
    ]
    frames = [f for f in frames if len(f)]
    if not frames:
        return pd.DataFrame(columns=list(columns))
    return (frames[0] if len(frames) == 1
            else pd.concat(frames, ignore_index=True))


def _verify_blocks(pdf: pd.DataFrame) -> None:
    """Verify-before-decode for fetched posting blocks (reference parity:
    per-blob CRC32 verification at doc_positions.go:222-226): every
    block's payload CRC, and its positions CRC when positions are read."""
    bad = codec.crc_mismatches(pdf)
    if bad:
        raise IOError(f"posting block CRC mismatch in {bad} payload(s)")


def _block_rows(pdf: pd.DataFrame, positions: bool) -> List[tuple]:
    """Kernel input rows (term, n, doc_ids_bin, tfs_bin, dls_bin[,
    pos_bin]) from a fetched block frame."""
    cols = ["term", "n", "doc_ids_bin", "tfs_bin", "dls_bin"]
    if positions:
        cols.append("pos_bin")
    return list(zip(*(pdf[c] for c in cols)))

_BOOST_RE = re.compile(r"^(.+)\^(\d+(?:\.\d+)?)$")


def parse_boosts(query: str):
    """Split Lucene-style per-term boosts (``spark^2 join fast^0.5``) out
    of a query string BEFORE analysis.  Returns ``(clean_query,
    raw_boosts)`` where ``raw_boosts`` maps the RAW (pre-analysis) token to
    its multiplier; repeated boosts on the same raw token compose
    multiplicatively.  Tokens without a ``^<number>`` suffix pass through
    untouched, so unboosted queries round-trip bit-identically.

    The reference sketched query-time boosts but never shipped them
    (commented out at /root/reference/internal/doclib/search_pdfs.go:176-186);
    here they are first-class: the boost multiplies the term's idf weight,
    so scoring, WAND/block-max pruning bounds, and the batched query-log
    path all see one consistent per-term weight."""
    toks: List[str] = []
    boosts: Dict[str, float] = {}
    for raw in query.split():
        m = _BOOST_RE.match(raw)
        if m:
            b = float(m.group(2))
            if b <= 0:
                raise ValueError(
                    f"term boost must be > 0, got {raw!r} (a non-positive "
                    "weight would invalidate the WAND upper bounds)"
                )
            toks.append(m.group(1))
            boosts[m.group(1)] = boosts.get(m.group(1), 1.0) * b
        else:
            toks.append(raw)
    return " ".join(toks), boosts


def parse_boolean(query: str):
    """Split a Lucene-classic boolean query string into clauses BEFORE
    analysis: ``+tok`` is a MUST clause, ``-tok`` a MUST_NOT clause, a bare
    token a SHOULD clause (``+spark -join fast^0.5``).  Returns
    ``(must_raw, should_raw, not_raw)`` lists of raw tokens; must/should
    tokens may still carry ``^boost`` suffixes (parse_boosts runs on them
    downstream).  A boost on a MUST_NOT clause is rejected — a pure filter
    has no score to weight, so a silent drop would hide a query bug.

    The reference exposes only the OR-of-terms match query
    (/root/reference/internal/doclib/search_pdfs.go:187-194); boolean
    occurs (must/should/must_not) are the Lucene BooleanQuery model layered
    over the same index."""
    must_raw: List[str] = []
    should_raw: List[str] = []
    not_raw: List[str] = []
    for raw in query.split():
        if raw.startswith("+") and len(raw) > 1:
            must_raw.append(raw[1:])
        elif raw.startswith("-") and len(raw) > 1:
            tok = raw[1:]
            if _BOOST_RE.match(tok):
                raise ValueError(
                    f"boost on a MUST_NOT clause is meaningless: {raw!r} "
                    "(prohibited terms gate, they never score)"
                )
            not_raw.append(tok)
        else:
            should_raw.append(raw)
    return must_raw, should_raw, not_raw


_FUZZY_RE = re.compile(r"^(.+)~(\d)$")
_PREFIX_RE = re.compile(r"^(.+)\*$")
_REGEX_RE = re.compile(r"^/(.+)/$")
MAX_FUZZY_DISTANCE = 2  # Lucene's LevenshteinAutomata ceiling


def parse_fuzzy(query: str, default_distance: int = 0):
    """Split Lucene MultiTermQuery suffixes out of a query string BEFORE
    analysis: ``relam~1`` is a fuzzy clause (max edit distance 1),
    ``spar*`` a trailing-wildcard PREFIX clause, ``/s[cp]an?k?/`` a
    REGEXP clause (Lucene RegexpQuery slash syntax).  Returns
    ``(clean_query, raw_fuzzy, raw_prefixes, raw_regexps)``:
    ``raw_fuzzy`` maps each remaining RAW token to its max edit distance
    (tokens without a ``~d`` suffix get ``default_distance``);
    ``raw_prefixes`` lists the prefix tokens, LOWERCASED but otherwise
    un-analyzed — Lucene's wildcard rule: a stemmer would mangle the
    prefix the user typed, so wildcard terms bypass the analyzer;
    ``raw_regexps`` lists the regexp bodies (slashes stripped,
    LOWERCASED — Lucene RegexpQuery also bypasses the analyzer, and the
    index vocabulary is lowercase).  Like Lucene, a regexp must match the
    WHOLE term (callers anchor with ``^(?:...)$``).  Distances above
    MAX_FUZZY_DISTANCE (2, Lucene's automaton ceiling — here the ceiling
    keeps the expansion scan's length-band prefilter selective) are
    rejected.  Run parse_boosts FIRST: the Lucene grammar is
    ``term~d^boost`` / ``term*^boost`` / ``/re/^boost`` with the boost
    suffix outermost."""
    toks: List[str] = []
    fuzz: Dict[str, int] = {}
    prefixes: List[str] = []
    regexps: List[str] = []
    for raw in query.split():
        rm = _REGEX_RE.match(raw)
        m = _FUZZY_RE.match(raw)
        pm = _PREFIX_RE.match(raw)
        if rm:
            regexps.append(rm.group(1).lower())
        elif m:
            d = int(m.group(2))
            if d > MAX_FUZZY_DISTANCE:
                raise ValueError(
                    f"fuzzy distance must be <= {MAX_FUZZY_DISTANCE}, "
                    f"got {raw!r}")
            toks.append(m.group(1))
            fuzz[m.group(1)] = max(fuzz.get(m.group(1), 0), d)
        elif pm:
            prefixes.append(pm.group(1).lower())
        else:
            toks.append(raw)
            fuzz.setdefault(raw, default_distance)
    return " ".join(toks), fuzz, prefixes, regexps


class Searcher:
    def __init__(self, spark, index_dir: str, on_stale: str = "refresh",
                 at_version: int | None = None,
                 max_pending_tombstones: int | None = None):
        """``on_stale`` controls what a search does when the index changed
        underneath this Searcher (another writer appended, compacted, or
        deleted — detected by a cheap manifest-stat check per search):
        ``"refresh"`` (default) reloads the cached corpus/term stats and
        table frames; ``"raise"`` refuses with a RuntimeError (serving
        deployments that pin a snapshot); ``"ignore"`` preserves the old
        (pre-r4) silently-stale behavior for callers that manage refresh
        themselves.  Never silently stale by default.

        ``at_version`` pins this Searcher to an archived index snapshot
        (time-travel read; ``IndexLayout.commit_snapshot``): it sees
        exactly the commits/generations recorded at that version — appends,
        deletes, and compactions SINCE are invisible — and never refreshes
        (a snapshot is immutable).  ``IndexLayout(dir).snapshots()`` lists
        the available versions.  Readable as long as the referenced trees
        exist (see compact.expire_generations).

        ``max_pending_tombstones`` overrides the load-time cap on pending
        (uncompacted) deletes this Searcher will ship into scoring
        closures (default MAX_PENDING_TOMBSTONES = 10M).  The right fix
        above the cap is compact_index; the override exists for readers
        that cannot run maintenance (read-only replicas) and accept the
        driver/executor memory cost."""
        self.spark = spark
        self.layout = IndexLayout(index_dir, at_version=at_version)
        if on_stale not in ("refresh", "raise", "ignore"):
            raise ValueError(
                f"on_stale must be refresh|raise|ignore, got {on_stale!r}"
            )
        self.on_stale = "ignore" if at_version is not None else on_stale
        self.max_pending_tombstones = (
            MAX_PENDING_TOMBSTONES if max_pending_tombstones is None
            else int(max_pending_tombstones))
        self.prune_min_postings = PRUNE_MIN_POSTINGS  # 0 forces pruning
        # 0 turns every driver-local path off (see pysearch.gate)
        self.local_max_postings = local_max_postings()
        # diagnostics: when True, _prune_blocks records candidate-vs-scored
        # block counts (extra metadata jobs; test-only)
        self.count_scored_blocks = False
        self.last_block_counts: Optional[dict] = None
        self._load()

    def _index_sig(self):
        """Cheap change signature of the index: the manifest file's
        (mtime_ns, size).  Every mutation — append finalize, compaction,
        delete — rewrites the manifest via an atomic replace, so its stat
        changes iff the index changed."""
        st = os.stat(self.layout.manifest_path)
        return (st.st_mtime_ns, st.st_size)

    def _load(self):
        spark, index_dir = self.spark, self.layout.root
        # signature FIRST, manifest read second: a mutation landing between
        # the two makes stale() true (next search refreshes) rather than
        # masking a mid-load change behind a fresh-looking signature
        self._manifest_sig = self._index_sig()
        m = self.layout.read_manifest()
        if m.get("format_version") != INDEX_FORMAT_VERSION:
            raise RuntimeError(
                f"index at {index_dir} has format version "
                f"{m.get('format_version')}, this engine reads "
                f"{INDEX_FORMAT_VERSION}; rebuild required")
        stages = m.get("stages", {})
        if not stages.get("finalize", {}).get("done"):
            raise RuntimeError(f"index at {index_dir} is not complete")
        # freeze ONE generation map for every table path resolved below: a
        # compaction committing between two lazy property accesses must not
        # hand this load a mixed-generation view (docs from the old
        # snapshot, postings from the new); self-consistency of a single
        # generation map is guaranteed by the atomic manifest write
        gens = {name: int(g) for name, g in
                m.get("generations", {}).items()}
        path = {name: self.layout.table_path(name, gens.get(name, 0))
                for name in ("docs", "postings", "term_stats", "tombstones")}
        self.n_buckets = int(m["n_buckets"])
        self.segment_size = int(m.get("segment_size", 4096))
        self.positions_stored = bool(m.get("positions", False))
        from pysearch.analyze import get_analyzer

        self.analyzer_name = m.get("analyzer", "en")
        self._analyze, self._analyze_offsets, _ = get_analyzer(self.analyzer_name)
        self._df_cache = {}
        # per-case {term: df} under the LOCAL_MAX_VOCAB gate (None above
        # it); dropped on every (re)load so a refreshed Searcher re-reads
        self._vocab_cache: Dict[str, Optional[dict]] = {}
        self._term_stats_rows: Optional[int] = None
        # per-case catalog columns under the LOCAL_MAX_CATALOG gate (None
        # above it); dropped on every (re)load like the vocab cache
        self._catalog_cache: Dict[str, Optional[dict]] = {}
        # the large tables as typed Spark frames (a table whose commits
        # are all empty — empty or fully-stopworded corpus — reads as an
        # empty DataFrame); tombstones are read on the driver
        # (IndexLayout.pending_deletes)
        self.postings = self.layout.read_commits(spark, path["postings"])
        self.docs = self.layout.read_commits(spark, path["docs"])
        self._term_stats = self.layout.read_commits(spark,
                                                    path["term_stats"])
        # (n_docs, avgdl, sum_dl) per case from the manifest: the docs
        # stage's doc counts and the finalize's summed doc lengths (exact
        # ints; the division rounds once, like Spark's long/long divide).
        # NRT hybrid search (streaming.search_with_arrivals) re-derives the
        # post-append avgdl from sum_dl
        sum_dl = stages["finalize"].get("sum_dl", {})
        self._corpus: Dict[str, tuple] = {
            str(c): (int(n), int(sum_dl.get(c, 0)) / int(n),
                     int(sum_dl.get(c, 0)))
            for c, n in stages["docs"].get("case_counts", {}).items()
        }
        # pending tombstoned deletes (delete.delete_docs): per-case sorted
        # doc_id arrays, shipped to executors with the scoring closures and
        # applied as a vectorized np.isin drop after block decode.  Size is
        # O(deletes since last compaction) — compaction purges them
        # physically and empties the table (delete.py docstring).  The
        # count comes from the parquet footers BEFORE any id is read:
        # failing here (instead of OOMing on the read or shipping an
        # oversized closure to every task) turns the documented "compact
        # before tombstones grow" rule into an enforced bound
        n_pending, tombstones = self.layout.pending_deletes(
            path["tombstones"], limit=self.max_pending_tombstones)
        if tombstones is None:
            raise RuntimeError(
                f"index at {index_dir} has {n_pending} pending "
                f"tombstoned deletes (> max_pending_tombstones="
                f"{self.max_pending_tombstones}); run "
                "pysearch.compact.compact_index (CLI: compact-index) "
                "to purge deletes physically before searching, or "
                "construct with Searcher(..., max_pending_tombstones=N)"
            )
        self._tombstones: Dict[str, np.ndarray] = tombstones
        # commit dirs frozen against the SAME generation map as the Spark
        # frames above: the driver-direct arrow reads (_read_blocks_arrow,
        # _local_vocab, _catalog) read exactly the files this load reads,
        # including the time-travel pinned-commit view
        from pysearch.lineage import _has_parquet

        dirs = {name: [d for d in self.layout.list_commits(path[name])
                       if _has_parquet(d)]
                for name in ("docs", "postings", "term_stats")}
        self._postings_commit_dirs = dirs["postings"]
        self._term_stats_commit_dirs = dirs["term_stats"]
        self._docs_commit_dirs = dirs["docs"]

    def stale(self) -> bool:
        """True when the on-disk index changed since this Searcher loaded
        (or its manifest vanished mid-rewrite)."""
        try:
            return self._index_sig() != self._manifest_sig
        except FileNotFoundError:
            return True

    def refresh(self) -> None:
        """Reload corpus/term stats and table frames from the current index
        state (after an external append/compaction/delete)."""
        self._load()

    def _check_fresh(self) -> None:
        if self.on_stale == "ignore" or not self.stale():
            return
        if self.on_stale == "raise":
            raise RuntimeError(
                f"index at {self.layout.root} changed underneath this "
                "Searcher (append/compaction/delete by another writer); "
                "call refresh() or construct with on_stale='refresh'"
            )
        self.refresh()

    def _allowed_df(self, case_id: str, filter: Optional[str],
                    filter_docs):
        """Resolve a filter context to a (segment_id, doc_id) DataFrame of
        allowed doc_ids, or None when no filter was given.

        ``filter``: a Spark SQL predicate over the catalog columns
        (doc_id, url, content_hash — e.g. ``"url like 'doc://docs/00%'"``,
        the site:-filter shape); evaluated against the docs table with
        column pruning, so only the referenced columns are read.
        ``filter_docs``: ANY DataFrame with a ``doc_id`` column — lets a
        caller gate search on an arbitrary distributed doc set (a dedup
        survivor set, a quality-score cut, an external allowlist) with no
        driver materialization.  doc_ids are interpreted WITHIN the
        searched case — ids are assigned per case starting at 1, so a set
        derived from another case's rows is a caller bug this API cannot
        detect (the numbers are valid here too).  On a multi-case index
        the set IS semi-joined against the case's catalog, so ids with no
        doc in this case drop out instead of silently polluting the
        segment map; a single-case index (the common shape) skips that
        scan since every id is in range.  Both given -> intersection.

        Scale shape: the allowed set never reaches the driver and is never
        broadcast — it is shuffled once on segment_id and cogrouped with
        the posting blocks, so each segment's scorer receives exactly its
        own slice (doc-range partitioning makes segment_id a pure function
        of doc_id)."""
        if filter is None and filter_docs is None:
            return None
        from pyspark.sql import functions as F

        if filter is not None:
            allowed = (
                self.docs.filter(F.col("case_id") == case_id)
                .filter(F.expr(filter)).select("doc_id")
            )
            if filter_docs is not None:
                allowed = allowed.join(
                    filter_docs.select("doc_id").distinct(),
                    "doc_id", "left_semi")
        else:
            allowed = filter_docs.select("doc_id").distinct()
            if len(self._corpus) > 1:
                allowed = allowed.join(
                    self.docs.filter(F.col("case_id") == case_id)
                    .select("doc_id"), "doc_id", "left_semi")
        return allowed.withColumn(
            "segment_id",
            ((F.col("doc_id") - F.lit(1)) / F.lit(self.segment_size))
            .cast("long"),
        )

    @staticmethod
    def _split_filter_docs(filter_docs):
        """Normalize ``filter_docs``: a distributed DataFrame stays one
        (returned first); a driver-RESIDENT id collection (numpy array,
        list, pandas Series — the caller's explicit "this set is small"
        declaration, the broadcast-build-side analog) comes back as a
        sorted unique int64 array (returned second).  A driver-side set
        composes with the driver-local scoring path — the whole filtered
        query then runs without any Spark job — and falls back to the
        distributed cogroup via ``_ids_df`` when the query itself is too
        big for the local path, with identical results either way (pinned
        by test)."""
        if filter_docs is None:
            return None, None
        from pyspark.sql import DataFrame

        if isinstance(filter_docs, DataFrame):
            return filter_docs, None
        return None, np.unique(np.asarray(filter_docs, dtype=np.int64))

    def _filter_context(self, case_id: str, filter: Optional[str],
                        filter_docs):
        """Resolve ``filter``/``filter_docs`` -> (allowed DataFrame or
        None, driver-side sorted id array or None).  A predicate plus a
        driver-side set intersect distributed (rare combination;
        correctness over the local shortcut)."""
        filter_docs, ids = self._split_filter_docs(filter_docs)
        if ids is not None and filter is not None:
            filter_docs, ids = self._ids_df(ids), None
        return self._allowed_df(case_id, filter, filter_docs), ids

    def _ids_df(self, ids: np.ndarray):
        """Driver-side id array -> single-column DataFrame (the
        distributed-path fallback for a driver-resident filter set)."""
        return self.spark.createDataFrame(
            pd.DataFrame({"doc_id": ids}), schema="doc_id long")

    @staticmethod
    def _cogroup_score(blocks_sel, allowed_df, score_fn, out_schema):
        """Run ``score_fn(key, blocks_pdf, allow_or_None)`` per segment:
        plain groupBy when no filter context, cogroup with the allowed doc
        set otherwise.  A segment with an empty allowed slice short-circuits
        to no hits WITHOUT decoding its blocks (the filter admits nothing
        there); a segment absent from the blocks side returns nothing."""
        if allowed_df is None:
            return (
                blocks_sel.groupBy("segment_id")
                .applyInPandas(lambda key, pdf: score_fn(key, pdf, None),
                               schema=out_schema)
            )

        np_types = {"long": "int64", "double": "float64",
                    "string": "object"}
        empty = pd.DataFrame({
            name: pd.Series([], dtype=np_types[typ])
            for name, typ in (c.strip().rsplit(" ", 1)
                              for c in out_schema.split(","))
        })

        def fn(key, pdf: pd.DataFrame, apdf: pd.DataFrame) -> pd.DataFrame:
            if pdf.empty or apdf.empty:
                return empty
            allow = np.unique(apdf["doc_id"].to_numpy(np.int64))
            return score_fn(key, pdf, allow)

        return (
            blocks_sel.groupBy("segment_id")
            .cogroup(allowed_df.groupBy("segment_id"))
            .applyInPandas(fn, schema=out_schema)
        )

    # ------------------------------------------------------------------
    # query plans, the one search path and the one executor.
    #
    # Every query entry builds score.QueryPlan(s) — a single query is the
    # batch {"q": plan} — and runs them through _search (the one prune rule
    # and the one local gate, _use_local) into _execute, which feeds ONE
    # per-segment kernel (score.score_segment_blocks) from one of two
    # fetchers:
    # - driver-local (_collect_blocks): below the local gate the packed
    #   blocks are fetched with one driver-direct arrow read (no Spark
    #   job) and scored in-process — a distributed scoring job's fixed
    #   latency (scan task scheduling, a segment_id exchange,
    #   pandas-worker round trips, result fetch) dwarfs the arithmetic
    #   when the candidate postings are a few MB packed.  Driver
    #   work/memory is bounded by the gate — O(candidate volume), the same
    #   class as a broadcast join's build side.  Distributed filter
    #   contexts and pruned queries never take it.
    # - distributed (_score_blocks): groupBy(segment) or a cogroup with the
    #   filter context, after the lossless block-max prune.
    # Same decode, same kernel, same (score desc, doc_id asc) merge, so
    # both fetchers are bit-identical by construction (pinned by test).

    _LOCAL_COLS = ("segment_id", "term", "n", "doc_ids_bin", "tfs_bin",
                   "dls_bin", "crc32")
    _LOCAL_COLS_POS = _LOCAL_COLS + ("pos_bin", "pos_crc32")

    def _check_mode(self, mode: str, window: Optional[int], modes,
                    note: str = "") -> None:
        if mode not in modes:
            raise ValueError(
                f"mode must be {'|'.join(modes)}, got {mode!r}{note}")
        if mode in ("phrase", "near") and not self.positions_stored:
            raise ValueError(
                f"mode={mode!r} needs an index built with "
                "store_positions=True")
        if mode == "near" and (window is None or window < 0):
            raise ValueError("mode='near' needs window >= 0")

    def _use_local(self, vols, allowed=None) -> bool:
        """The one driver-local gate (``vols``: each plan's own
        candidate-postings volume).  The batch runs driver-side when EVERY
        plan clears the postings gate — the per-query loop the caller
        could have written would already run each of them driver-side,
        and the shared decode does strictly less work than that loop — and
        the total driver work (Σ per-plan volumes, an upper bound of shared
        decode + per-plan scoring) stays under LOCAL_BATCH_FACTOR × the
        gate, the measured crossover where single-threaded driver scoring
        overtakes the distributed batch scan's fixed cost (0.81 s local vs
        1.19 s distributed at Σ=1.68M postings / 20 plans on the bench
        query log, results asserted identical).  A distributed filter
        context (``allowed``) never runs driver-side.  For one plan the
        factor bound is implied: the plain single-query gate."""
        return (allowed is None and 0 < self.local_max_postings
                and max(vols) <= self.local_max_postings
                and sum(vols) <= LOCAL_BATCH_FACTOR * self.local_max_postings)

    def _search(self, case_id: str, plans: Dict[str, sc.QueryPlan],
                dfs: Dict[str, int], avgdl: float, k: Optional[int],
                prune: bool, offset: int = 0, filter: Optional[str] = None,
                filter_docs=None):
        """Every query entry's plans (a single query is the batch
        ``{"q": plan}``) through the prune rule, the local gate and the
        executor -> (qid, doc_id, score), each plan's ranks [offset,
        offset + k); ``k=None`` returns the one plan's total-hits count.

        The prune rule: pruning was asked for, every plan is any/all
        (phrase/near and boolean candidates are already the small
        conjunctive intersection, and a lossless θ under not-term gating
        would need not-aware block metadata), and the candidate volume —
        summed df over the plans' distinct scan terms — exceeds
        ``prune_min_postings`` per plan: pruning pays for itself only when
        there is real volume to skip.  A pruned batch never runs
        driver-side (tests force pruning with prune_min_postings=0, so the
        pruning paths stay exercised under the local gate)."""
        allowed, allow = self._filter_context(case_id, filter, filter_docs)
        scan = {t for p in plans.values() for t in p.scan_terms}
        prune = (prune and all(p.plain for p in plans.values())
                 and sum(dfs[t] for t in scan)
                 > self.prune_min_postings * len(plans))
        local = not prune and self._use_local(
            [sum(dfs[t] for t in p.scan_terms) for p in plans.values()],
            allowed)
        hits = self._execute(case_id, plans, avgdl,
                             None if k is None else k + offset, local,
                             prune=prune, allowed=allowed, allow=allow)
        if k is None or not offset:
            return hits
        rank = hits.groupby("qid", sort=False).cumcount()
        return hits[rank >= offset].reset_index(drop=True)

    def _execute(self, case_id: str, plans: Dict[str, sc.QueryPlan],
                 avgdl: float, k: Optional[int], local: bool,
                 prune: bool = False, allowed=None,
                 allow: Optional[np.ndarray] = None):
        """Run a batch of plans over the case's candidate blocks -> pandas
        (qid, doc_id, score), each plan's top-k in (qid asc, score desc,
        doc_id asc) order; ``k=None`` returns the total-hits count (int)
        of the one plan instead.

        The scan reads the union of the plans' terms (partition pruning on
        their term buckets, row-group pruning on term).  ``local`` picks
        the driver-local fetcher; otherwise the distributed one runs,
        after the lossless block-max prune (_prune_blocks) when ``prune``.
        ``k=0`` returns no rows and runs nothing.  ``allowed``: a
        (segment_id, doc_id) filter DataFrame (_allowed_df); ``allow``: a
        driver-resident filter set (sorted unique ids) — passed whole to
        every segment's kernel locally (segment_id is a pure function of
        doc_id, so out-of-segment ids can never match), shipped as the
        cogroup's allowed side when the query is too big for the local
        path."""
        from pyspark.sql import functions as F

        if k == 0:
            return _empty_hits()
        scan = sorted({t for p in plans.values() for t in p.scan_terms})
        excl = self._tombstones.get(case_id)
        if local:
            positions = any(p.terms for p in plans.values())
            pdf = self._collect_blocks(case_id, scan, positions)
            per_q: Dict[str, tuple] = {}
            for _seg, g in pdf.groupby("segment_id", sort=False):
                for qid, ids, scores in zip(*sc.score_segment_blocks(
                        _block_rows(g, positions), plans, avgdl, k,
                        exclude=excl, allow=allow)):
                    got = per_q.setdefault(qid, ([], []))
                    got[0].append(ids)
                    got[1].append(scores)
            if k is None:
                return sum(len(i) for ids, _s in per_q.values() for i in ids)
            return _merge_topk(per_q, k)
        buckets = sorted({term_bucket(t, self.n_buckets) for t in scan})
        blocks = self.postings.filter(
            (F.col("case_id") == case_id)
            & F.col("term_bucket").isin(buckets)
            & F.col("term").isin(scan)
        )
        if allow is not None:
            allowed = self._allowed_df(case_id, None, self._ids_df(allow))
        p1 = None
        if prune:
            blocks, p1, allowed = self._prune_blocks(
                case_id, blocks, plans, avgdl, k, exclude=excl,
                allowed_df=allowed)
        if blocks is None:  # every plan answered in phase 1
            return p1
        hits = self._score_blocks(blocks, plans, avgdl, k, exclude=excl,
                                  allowed_df=allowed)
        if p1 is None:
            return hits
        return (_sort_hits(pd.concat([p1, hits], ignore_index=True))
                .groupby("qid", group_keys=False, sort=False).head(k)
                .reset_index(drop=True))

    def _read_blocks_arrow(self, case_id: str, terms, cols):
        """Driver-direct parquet read of the candidate blocks: same commit
        dirs, partition pruning (term_bucket hive dirs), filters, and
        columns as the Spark scan-only fetch — minus the Spark job's fixed
        scheduling latency.  Kernel inputs are order-insensitive (the
        per-segment scorers re-group rows by term; pinned by the
        partitioning-invariance goldens), so file-listing order differences
        vs the Spark scan cannot change results."""
        import pyarrow as pa
        import pyarrow.dataset as ds

        buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
        return _read_arrow(
            self._postings_commit_dirs, ("term_bucket", pa.int32()), cols,
            (ds.field("case_id") == case_id)
            & ds.field("term_bucket").isin([int(b) for b in buckets])
            & ds.field("term").isin(list(terms)))

    def _collect_blocks(self, case_id: str, terms,
                        positions: bool) -> pd.DataFrame:
        """The driver-local fetcher: one driver-direct arrow read of the
        candidate blocks' packed payloads (bounded by the local gates, no
        Spark job), CRC-verified like every other fetch.  The index root
        is a local path (IndexLayout rejects URI schemes), so the driver
        can always read what the executors read."""
        pdf = self._read_blocks_arrow(
            case_id, terms, self._LOCAL_COLS_POS if positions
            else self._LOCAL_COLS)
        _verify_blocks(pdf)
        return pdf

    # ------------------------------------------------------------------
    def _local_vocab(self, case_id: str) -> Optional[dict]:
        """The case's whole {term: df} map when the vocabulary fits the
        LOCAL_MAX_VOCAB gate, else None (decided once per load from the
        term_stats parquet footers; the map itself is one driver-side
        arrow read of this load's stats commits, cached per case — no
        Spark job)."""
        if case_id in self._vocab_cache:
            return self._vocab_cache[case_id]
        out = None
        if self.local_max_postings > 0:
            if self._term_stats_rows is None:
                self._term_stats_rows = sum(
                    footer_rows(d) for d in self._term_stats_commit_dirs)
            if self._term_stats_rows <= LOCAL_MAX_VOCAB:
                import pyarrow as pa
                import pyarrow.dataset as ds

                pdf = _read_arrow(self._term_stats_commit_dirs,
                                  ("term_bucket", pa.int32()),
                                  ["term", "df"],
                                  ds.field("case_id") == case_id)
                # df is additive across append-batch stats commits
                out = {t: int(v) for t, v in
                       pdf.groupby("term", sort=False)["df"].sum().items()}
        self._vocab_cache[case_id] = out
        return out

    def _catalog(self, case_id: str) -> Optional[dict]:
        """The case's catalog as driver arrays ``{"doc_id", "url",
        "content_hash"}`` when it fits the LOCAL_MAX_CATALOG gate, else
        None.  Gate decided from the already-loaded corpus stats; one
        driver-side arrow read of this load's docs commits per load, cached
        per case — index metadata exactly like the term-df cache, and no
        Spark job.  Consumers memoize what they derive from it in the same
        entry, so it dies with the load: the NRT hybrid's anti-join
        relations, the ops' source-id map."""
        if case_id not in self._catalog_cache:
            out = None
            n_docs = self._corpus.get(case_id, (0,))[0]
            if 0 < self.local_max_postings and n_docs <= LOCAL_MAX_CATALOG:
                import pyarrow as pa
                import pyarrow.dataset as ds

                pdf = _read_arrow(self._docs_commit_dirs,
                                  ("case_id", pa.string()),
                                  ["doc_id", "url", "content_hash"],
                                  ds.field("case_id") == case_id)
                out = {"doc_id": pdf["doc_id"].to_numpy(np.int64),
                       "url": pdf["url"].to_numpy(),
                       "content_hash": pdf["content_hash"].to_numpy()}
            self._catalog_cache[case_id] = out
        return self._catalog_cache[case_id]

    def _term_dfs(self, case_id: str, terms: List[str]) -> Dict[str, int]:
        from pyspark.sql import functions as F

        if not terms:
            return {}
        missing = [
            t for t in set(terms) if (case_id, t) not in self._df_cache
        ]
        if missing:
            vocab = self._local_vocab(case_id)
            if vocab is not None:
                for t in missing:  # cache absent terms as df=0 too
                    self._df_cache[(case_id, t)] = vocab.get(t, 0)
            else:
                buckets = sorted({term_bucket(t, self.n_buckets)
                                  for t in missing})
                rows = (
                    self._term_stats.filter(
                        (F.col("case_id") == case_id)
                        & F.col("term_bucket").isin(buckets)
                        & F.col("term").isin(missing)
                    )
                    # delta finalize appends one stats commit per append
                    # batch; df is additive, so a term's df is the SUM
                    # over commits
                    .groupBy("term").agg(F.sum("df").alias("df"))
                    .collect()
                )
                found = {r["term"]: int(r["df"]) for r in rows}
                for t in missing:  # cache absent terms as df=0 too
                    self._df_cache[(case_id, t)] = found.get(t, 0)
        return {
            t: self._df_cache[(case_id, t)]
            for t in set(terms)
            if self._df_cache[(case_id, t)] > 0
        }

    def _boost_mult(self, raw_boosts: Optional[Dict[str, float]],
                    boosts: Optional[Dict[str, float]]) -> Dict[str, float]:
        """Per-term weight multipliers, multiplied into the idf weights —
        ONE consistent per-term weight feeds scoring, the WAND/block-max
        bounds, and the batched plans, so boosted queries stay lossless
        under pruning.  ``raw_boosts`` keys are pre-analysis tokens (the
        ``^`` syntax) and run through the same analyzer chain as the
        query; ``boosts`` keys are already-analyzed terms.  Both compose
        multiplicatively."""
        mult: Dict[str, float] = {}
        for raw, b in (raw_boosts or {}).items():
            for t in set(self._analyze(raw)):
                mult[t] = mult.get(t, 1.0) * b
        for t, b in (boosts or {}).items():
            if b <= 0:
                raise ValueError(f"term boost must be > 0, got {t!r}: {b}")
            mult[t] = mult.get(t, 1.0) * b
        return mult

    # ------------------------------------------------------------------
    def search_ids(self, query: str, k: int = DEFAULT_MAX_RESULTS,
                   case_id: str = "0", prune: bool = True,
                   mode: str = "any",
                   window: Optional[int] = None,
                   boosts: Optional[Dict[str, float]] = None,
                   distance: Optional[int] = None,
                   filter: Optional[str] = None,
                   filter_docs=None,
                   offset: int = 0) -> pd.DataFrame:
        """Top-k (doc_id, score), deterministic. k<0 -> reference default
        (index_search.go:96-97).

        ``mode="any"`` (default) is the reference's OR-of-terms match query;
        ``mode="all"`` requires every analyzed query term to occur in the
        doc — BM25-scored posting-list intersection (north-rule: "top-k
        query engine using posting-list intersection").  A query term absent
        from the whole corpus makes the conjunctive result empty.
        ``mode="phrase"`` (requires an index built with
        ``store_positions=True``) additionally requires the analyzed terms
        at CONSECUTIVE positions — posting-list intersection plus
        position-adjacency from the index's pos_bin; phrase hits score
        bit-identically to their mode="all" scores.
        ``mode="near"`` (positions required too) is unordered PROXIMITY
        retrieval: the distinct analyzed terms must co-occur within
        ``window`` token positions (max chosen position − min chosen
        position ≤ window, any order — Lucene-span-style); near hits also
        score bit-identically to their mode="all" scores.  window=1 with
        two terms admits adjacency in either order, so phrase hits are a
        subset of near hits at window=len(terms)−1.
        Phrase/near queries skip WAND pruning: their candidate volume is
        already the (small) conjunctive intersection of the query terms.
        ``mode="boolean"`` parses Lucene classic ``+must -must_not
        should`` syntax and routes to :meth:`search_ids_boolean`;
        ``mode="fuzzy"`` parses ``term~d`` edit-distance, ``term*``
        prefix-wildcard and ``/regexp/`` whole-term-regexp clauses
        (unsuffixed terms use ``distance``, default 0) and routes to
        :meth:`search_ids_fuzzy`.

        Per-term BOOSTS (the reference's commented-out aspiration,
        search_pdfs.go:176-186): ``spark^2 join fast^0.5`` in the query
        string, or ``boosts={analyzed_term: w}``.  A boost multiplies the
        term's idf weight, the ONE weight that feeds scoring and every
        pruning bound, so boosted queries stay bit-identical across
        prune on/off and the batched path (enforced by test).  Boosts
        compose multiplicatively and must be > 0.

        FILTER CONTEXT (Lucene filtered-query semantics): ``filter`` — a
        Spark SQL predicate over the catalog columns (url, content_hash,
        doc_id); ``filter_docs`` — any DataFrame with a doc_id column
        (dedup survivors, a quality cut, an allowlist).  Only allowed docs
        can match; BM25 stats (idf, avgdl) stay CORPUS-wide, exactly like
        a Lucene filter clause.  A DataFrame allowed set stays distributed
        end to end: one segment_id shuffle, cogrouped with the posting
        blocks — no driver collect, no broadcast — and WAND/block-max
        pruning stays lossless because phase-1 θ is established from
        FILTERED scores while block bounds remain valid upper bounds a
        fortiori.  ``filter_docs`` may instead be a driver-RESIDENT id
        collection (numpy array / list) when the caller already holds the
        set in bounded memory — the broadcast-hint analog: it composes
        with the driver-local scoring path (the filtered query then runs
        with no distributed job), and converts to the same cogroup when
        the query is too big for that path — results identical either
        way (pinned by test).

        ``offset`` paginates the deterministic total order (Lucene
        searchAfter shape): ranks [offset, offset+k) are returned, at
        O(offset+k) cost per page — the funnel fetches the top
        offset+k and slices, the standard deep-pagination tradeoff."""
        self._check_fresh()
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        if mode == "boolean":
            must_raw, should_raw, not_raw = parse_boolean(query)
            return self.search_ids_boolean(
                must=" ".join(must_raw), should=" ".join(should_raw),
                must_not=" ".join(not_raw), k=k, case_id=case_id,
                boosts=boosts, filter=filter, filter_docs=filter_docs,
                offset=offset)
        if mode == "fuzzy":
            return self.search_ids_fuzzy(
                query, k=k, case_id=case_id, prune=prune,
                distance=distance, boosts=boosts, filter=filter,
                filter_docs=filter_docs, offset=offset)
        # (boolean and fuzzy returned above)
        self._check_mode(mode, window, ("any", "all", "phrase", "near",
                                        "boolean", "fuzzy"))
        if k is None or k < 0:
            k = DEFAULT_MAX_RESULTS
        if case_id not in self._corpus:
            return pd.DataFrame(columns=["doc_id", "score"])
        plans, dfs = self._text_plans({"q": query}, case_id, mode, window,
                                      boosts)
        if not plans:
            return pd.DataFrame(columns=["doc_id", "score"])
        return self._search(case_id, plans, dfs, self._corpus[case_id][1],
                            k, prune, offset=offset, filter=filter,
                            filter_docs=filter_docs).drop(columns="qid")

    def count(self, query: str, case_id: str = "0", mode: str = "any",
              window: Optional[int] = None,
              filter: Optional[str] = None, filter_docs=None) -> int:
        """TOTAL-HITS count (Lucene IndexSearcher.count analog): how many
        docs match the query under the same match semantics as
        :meth:`search_ids` (mode any|all|phrase|near, tombstones and the
        filter context applied), without materializing a ranking.

        Scale shape: a single-term unfiltered count is answered from
        term_stats METADATA alone (df — no posting decode, Lucene's
        TermQuery shortcut); otherwise one bucket-pruned scan of the query
        terms' blocks counts matches per segment (doc-range partitioning
        makes per-segment counts disjoint, so the driver sums
        O(segments) longs — no doc ids ever leave the executors)."""
        self._check_fresh()
        self._check_mode(mode, window, ("any", "all", "phrase", "near"))
        # boosts weight scores and counting has no scores, but the ^w
        # syntax must still PARSE so 'relam^2 fast' counts the same match
        # set search_ids ranks (an unstripped boost would tokenize into a
        # bogus extra term)
        if case_id not in self._corpus:
            return 0
        plans, dfs = self._text_plans({"q": query}, case_id, mode, window)
        if not plans:
            return 0
        plan = plans["q"]
        if (len(plan.weights) == 1 and plan.plain and filter is None
                and filter_docs is None and case_id not in self._tombstones):
            (term,) = plan.weights
            return int(dfs[term])  # metadata-only: count == df
        return self._search(case_id, plans, dfs, self._corpus[case_id][1],
                            None, False, filter=filter,
                            filter_docs=filter_docs)

    def search_ids_boolean(self, must: str = "", should: str = "",
                           must_not: str = "",
                           k: int = DEFAULT_MAX_RESULTS,
                           case_id: str = "0",
                           boosts: Optional[Dict[str, float]] = None,
                           filter: Optional[str] = None,
                           filter_docs=None,
                           offset: int = 0) -> pd.DataFrame:
        """Lucene-BooleanQuery top-k: a doc matches iff it contains EVERY
        analyzed ``must`` term and NO analyzed ``must_not`` term; its score
        is the BM25 sum over the must+should terms it contains (boosted via
        ``^`` syntax or ``boosts=``, exactly like search_ids).  Also
        reachable as ``search_ids(query, mode="boolean")`` with Lucene
        classic syntax: ``+spark -join fast^0.5``.

        Semantics pinned by tests:
        - must-only queries score bit-identically to ``mode="all"``,
          should-only to ``mode="any"`` (all paths funnel through
          score._topk_from_decoded);
        - a must term absent from the corpus -> empty result (as in
          mode="all"); an absent should term drops silently; an absent
          must_not term is a no-op;
        - no live positive (must/should) clause -> empty result (Lucene's
          pure-negation MatchNoDocs behavior);
        - a term in both must and must_not -> empty (gates contradict).

        Scale shape: both gates are segment-local because all of a doc's
        postings live in exactly one segment (doc-range partitioning) —
        the must gate is a posting-list intersection, the must_not gate a
        postings union merged into the tombstone excludes, and the global
        answer stays the top-k of the union of segment top-ks.  No
        block-max prune on this path: must queries are already bounded by
        the (small) intersection candidate set, and a θ bound that stays
        lossless under not-term gating needs not-aware block metadata —
        decode volume is the scan of must ∪ should ∪ must_not postings,
        same order as mode="all" plus the prohibited terms' lists."""
        self._check_fresh()
        if k is None or k < 0:
            k = DEFAULT_MAX_RESULTS
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        if any(_BOOST_RE.match(t) for t in must_not.split()):
            raise ValueError(
                "boost on a MUST_NOT clause is meaningless "
                "(prohibited terms gate, they never score)")
        if case_id not in self._corpus:
            return pd.DataFrame(columns=["doc_id", "score"])
        plans, dfs = self._boolean_plans({"q": (must, should, must_not)},
                                         case_id, boosts)
        if not plans:
            return pd.DataFrame(columns=["doc_id", "score"])
        return self._search(case_id, plans, dfs, self._corpus[case_id][1],
                            k, False, offset=offset, filter=filter,
                            filter_docs=filter_docs).drop(columns="qid")

    def _text_plans(self, queries: Dict[str, str], case_id: str, mode: str,
                    window: Optional[int] = None,
                    boosts: Optional[Dict[str, float]] = None):
        """any/all/phrase/near plans from qid -> query string (``^`` boosts
        parsed per query, ``boosts`` applied to all) with ONE batched df
        probe over the union of the analyzed terms; a query whose plan is
        None yields no rows.  Returns (plans, dfs)."""
        analyzed = {}
        for qid, q in queries.items():
            q, raw_boosts = parse_boosts(q)
            analyzed[qid] = (self._analyze(q), raw_boosts)
        dfs = self._term_dfs(case_id, sorted(
            {t for terms, _rb in analyzed.values() for t in terms}))
        n_docs = self._corpus[case_id][0]
        plans = {}
        for qid, (terms, raw_boosts) in analyzed.items():
            plan = sc.build_plan(mode, terms, dfs, n_docs, window,
                                 self._boost_mult(raw_boosts, boosts))
            if plan is not None:
                plans[qid] = plan
        return plans, dfs

    def _boolean_plans(self, clauses: Dict[str, Tuple[str, str, str]],
                       case_id: str,
                       boosts: Optional[Dict[str, float]] = None):
        """Boolean plans from qid -> (must, should, must_not) clause
        strings (must/should ``^`` boosts compose multiplicatively) with
        ONE batched df probe over the union of every clause's terms.  A
        query matches nothing — no plan, no rows — when a must term is
        absent from the corpus or no positive (must/should) clause is
        live; absent should terms drop, absent must_not terms are no-ops.
        Returns (plans, dfs)."""
        analyzed = {}
        for qid, (must, should, must_not) in clauses.items():
            must_q, raw_boosts = parse_boosts(must)
            should_q, should_boosts = parse_boosts(should)
            for t, b in should_boosts.items():
                raw_boosts[t] = raw_boosts.get(t, 1.0) * b
            must_t, should_t = self._analyze(must_q), self._analyze(should_q)
            if must_t or should_t:  # a pure negation probes nothing
                analyzed[qid] = (must_t, should_t,
                                 sorted(set(self._analyze(must_not))),
                                 raw_boosts)
        dfs = self._term_dfs(case_id, sorted(
            {t for must_t, should_t, not_t, _rb in analyzed.values()
             for t in must_t + should_t + not_t}))
        n_docs = self._corpus[case_id][0]
        plans = {}
        for qid, (must_t, should_t, not_t, raw_boosts) in analyzed.items():
            pos = must_t + should_t
            must_live = sorted({t for t in must_t if t in dfs})
            live = sorted({t for t in pos if t in dfs})
            if not live or len(must_live) < len(set(must_t)):
                continue
            mult = self._boost_mult(raw_boosts, boosts)
            plans[qid] = sc.QueryPlan(
                weights={t: sc.idf(n_docs, dfs[t]) * mult.get(t, 1.0)
                         for t in live},
                qtf=dict(Counter(pos)), must=tuple(must_live),
                must_not=tuple(t for t in not_t if t in dfs))
        return plans, dfs

    def expand_fuzzy(self, case_id: str,
                     fuzzy: "Dict[str, Tuple[int, float]]",
                     max_expansions: int = 50,
                     prefixes: "Optional[Dict[str, float]]" = None,
                     regexps: "Optional[Dict[str, float]]" = None
                     ) -> "Dict[str, Tuple[float, int]]":
        """Expand query terms to corpus terms — the Lucene MultiTermQuery
        (FuzzyQuery / PrefixQuery / RegexpQuery) rewrite over the
        term_stats table.  ``fuzzy`` maps analyzed term -> (distance,
        boost); ``prefixes`` maps lowercased prefix -> boost; ``regexps``
        maps lowercased regexp body -> boost (anchored here as
        ``^(?:body)$`` — Lucene's whole-term match rule; the dialect is
        Spark's JVM rlike).  Returns {expanded_term: (weight, df)} where
        a fuzzy expansion weighs boost * (1 - dist / min(len(q), len(e)))
        (Lucene's FuzzyTermsEnum similarity boost; exact matches weigh
        boost * 1), a prefix/regexp expansion weighs its boost (constant
        score per clause, Lucene's MultiTermQuery rewrite), and an
        expanded term matched by several query clauses keeps its MAX
        weight (Lucene's BooleanQuery rewrite dedup).

        Scale shape: ONE distributed job over term_stats — a
        vocabulary-sized metadata table, not the postings — with a length
        band |len(e) - len(q)| <= d (fuzzy) / a startswith predicate
        (prefix) / an rlike (regexp) pushed to the parquet scan, native
        F.levenshtein (JVM codegen, no UDF) for the distance, and
        Lucene's top-``max_expansions`` cap applied per query clause IN
        Spark (row_number over (weight desc, df desc, term asc) —
        deterministic) so at most |clauses| * max_expansions rows reach
        the driver no matter how loose the clause or how large the
        vocabulary (:meth:`_expand_spark`).  A vocabulary under the
        LOCAL_MAX_VOCAB gate expands driver-side instead, with the same
        values (:meth:`_expand_local`)."""
        import re as _re

        from pyspark.sql import functions as F

        qrows = [(q, int(d), float(b), "f") for q, (d, b) in fuzzy.items()]
        qrows += [(p, 0, float(b), "p") for p, b in (prefixes or {}).items()]
        for r, b in (regexps or {}).items():
            anchored = f"^(?:{r})$"
            try:  # fail fast on the driver, not inside an executor task
                _re.compile(anchored)
            except _re.error as e:
                raise ValueError(f"bad regexp clause /{r}/: {e}") from None
            qrows.append((anchored, 0, float(b), "r"))
        vocab = self._local_vocab(case_id)
        if vocab is not None:
            out: Dict[str, Tuple[float, int]] = {}
            for _q, t, _dist, w, df in self._expand_local(vocab, qrows,
                                                          max_expansions):
                prev = out.get(t)
                if prev is None or w > prev[0]:
                    out[t] = (w, df)
            return out
        rows = (
            self._expand_spark(case_id, qrows, max_expansions)
            .groupBy("term").agg(F.max("w").alias("w"),
                                 F.any_value("df").alias("df"))
            .collect()
        )
        return {r["term"]: (float(r["w"]), int(r["df"])) for r in rows}

    def _expand_spark(self, case_id: str, qrows, cap: int,
                      min_dist: int = 0):
        """The per-clause MultiTermQuery rewrite as ONE distributed job over
        term_stats: every (q, d, b, kind) clause's expansions with
        ``min_dist <= dist <= d`` (fuzzy), as (q, kind, term, df, w, dist)
        rows, at most ``cap`` per clause by (w desc, df desc, term asc)
        (row_number — deterministic)."""
        from functools import reduce
        from operator import or_

        from pyspark.sql import Window
        from pyspark.sql import functions as F

        conds = [
            (F.length("term") >= len(q) - d) & (F.length("term") <= len(q) + d)
            & (F.levenshtein(F.col("term"), F.lit(q)) <= d)
            if kind == "f"
            else (F.col("term").startswith(q) if kind == "p"
                  else F.col("term").rlike(q))
            for q, d, _b, kind in qrows
        ]
        cand = (
            self._term_stats.filter(F.col("case_id") == case_id)
            .filter(reduce(or_, conds))
            # df is additive across append-batch stats commits
            .groupBy("term").agg(F.sum("df").alias("df"))
        )
        q_df = self.spark.createDataFrame(
            qrows, "q string, d int, b double, kind string")
        lev = F.levenshtein(F.col("term"), F.col("q"))
        fuzzy_ok = lev <= F.col("d")
        if min_dist:
            fuzzy_ok = fuzzy_ok & (lev >= min_dist)
        match = ((F.col("kind") == "f") & fuzzy_ok) | (
            (F.col("kind") == "p") & F.col("term").startswith(F.col("q"))
        ) | ((F.col("kind") == "r")
             & F.regexp_like(F.col("term"), F.col("q")))
        sim = (F.lit(1.0)
               - lev / F.least(F.length("term"), F.length("q")))
        win = Window.partitionBy("q", "kind").orderBy(
            F.desc("w"), F.desc("df"), F.asc("term"))
        return (
            cand.join(F.broadcast(q_df), match)
            .withColumn(
                "w",
                F.col("b") * F.when(F.col("kind") == "f", sim)
                             .otherwise(F.lit(1.0)),
            )
            .filter(F.col("w") > 0)  # dist == min length conveys nothing
            .withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= cap)
            .withColumn("dist", F.when(F.col("kind") == "f", lev)
                        .otherwise(0))
        )

    def _regexp_vocab_jvm(self, terms: List[str], anchored: str) -> List[str]:
        """Evaluate one regexp clause against the vocabulary with the SAME
        JVM ``java.util.regex`` engine ``rlike`` runs — one py4j
        stream-filter round trip (Pattern.asPredicate() is
        ``matcher(s).find()``, exactly RLike's semantics), so the dialect
        cannot diverge from the Spark-job path.  Analyzed terms cannot
        contain a newline (every analyzer splits on whitespace), so the
        newline join/split is lossless."""
        if not terms:
            return []
        jvm = self.spark._jvm
        pat = jvm.java.util.regex.Pattern.compile(anchored)
        nl = jvm.java.util.regex.Pattern.compile(
            "\n", 16)  # 16 = Pattern.LITERAL
        matched = (
            nl.splitAsStream("\n".join(terms))
            .filter(pat.asPredicate())
            .collect(jvm.java.util.stream.Collectors.joining("\n"))
        )
        return [t for t in matched.split("\n") if t] if matched else []

    def _expand_local(self, vocab: dict, qrows, cap: int,
                      min_dist: int = 0) -> list:
        """The vocabulary-local twin of :meth:`_expand_spark` (see
        LOCAL_MAX_VOCAB), value-identical to it over the cached {term: df}
        map: classic Levenshtein (``_lev_batch``), weight b * (1 -
        dist/min(len)) in the same float64 op order, the same per-clause
        cap.  Regexp clauses are evaluated against the vocabulary by the
        SAME JVM java.util.regex engine rlike runs (one py4j stream-filter
        call, no Spark job, no Python-re dialect risk — see
        _regexp_vocab_jvm).  Returns (q, term, dist, w, df) rows."""
        terms = list(vocab)
        rows = []
        for q, d, b, kind in qrows:
            if kind == "f":
                cand = [t for t in terms if abs(len(t) - len(q)) <= d]
                sel = []
                for t, dist in zip(cand, _lev_batch(q, cand)):
                    dist = int(dist)
                    if not min_dist <= dist <= d:
                        continue
                    w = b * (1.0 - dist / min(len(t), len(q)))
                    if w > 0:  # dist == min length conveys nothing
                        sel.append((w, vocab[t], t, dist))
            elif b <= 0:
                continue
            else:
                matched = (self._regexp_vocab_jvm(terms, q) if kind == "r"
                           else [t for t in terms if t.startswith(q)])
                sel = [(b * 1.0, vocab[t], t, 0) for t in matched]
            sel.sort(key=lambda r: (-r[0], -r[1], r[2]))
            rows += [(q, t, dist, w, df) for w, df, t, dist in sel[:cap]]
        return rows

    def search_ids_fuzzy(self, query: str, k: int = DEFAULT_MAX_RESULTS,
                         case_id: str = "0", prune: bool = True,
                         distance: Optional[int] = None,
                         boosts: Optional[Dict[str, float]] = None,
                         max_expansions: int = 50,
                         return_expansion: bool = False,
                         filter: Optional[str] = None,
                         filter_docs=None,
                         offset: int = 0):
        """Lucene-MultiTermQuery top-k: each query term expands to the
        corpus terms within its max edit distance (``relam~1``; unsuffixed
        terms use ``distance``, default 0 = exact), matching its prefix
        (``spar*`` — trailing wildcard) or matching its regexp
        (``/s[cp][a-z]+/`` — Lucene RegexpQuery slash syntax, whole-term
        match; wildcard and regexp clauses bypass the analyzer per
        Lucene's rule); every expanded term scores as an OR clause with
        weight boost * (1 - dist/min(len)) (fuzzy) or boost
        (prefix/regexp) folded into its idf — the ONE weight feeding
        scoring and the WAND/block-max bounds, so expanded queries stay
        lossless under pruning.  Repeated query terms dedup (qtf = 1 per
        expanded term — Lucene's BooleanQuery rewrite).  Also reachable as
        ``search_ids(query, mode="fuzzy", distance=d)``.  The reference
        sketched fuzzy search but never shipped it (commented out,
        search_pdfs.go:176-186)."""
        self._check_fresh()
        if k is None or k < 0:
            k = DEFAULT_MAX_RESULTS
        if offset < 0:
            raise ValueError(f"offset must be >= 0, got {offset}")
        d_default = 0 if distance is None else int(distance)
        if d_default < 0 or d_default > MAX_FUZZY_DISTANCE:
            raise ValueError(
                f"distance must be 0..{MAX_FUZZY_DISTANCE}, got {distance}")
        query, raw_boosts = parse_boosts(query)
        query, raw_fuzzy, raw_prefixes, raw_regexps = parse_fuzzy(
            query, default_distance=d_default)
        # rekey ^boosts written inside a ~d, * or /re/ suffix (term~1^2
        # parses the boost first, leaving the ~1 / * / slashes on the raw
        # key)
        for key in list(raw_boosts):
            m = _FUZZY_RE.match(key) or _PREFIX_RE.match(key) \
                or _REGEX_RE.match(key)
            if m:
                b = raw_boosts.pop(key)
                k2 = m.group(1) if _FUZZY_RE.match(key) else m.group(1).lower()
                raw_boosts[k2] = raw_boosts.get(k2, 1.0) * b
        empty = pd.DataFrame(columns=["doc_id", "score"])
        if case_id not in self._corpus:
            return (empty, {}) if return_expansion else empty
        # per analyzed term: (max distance, composed boost) over the raw
        # tokens that produced it, through the same analyzer as the query
        fuzzy: Dict[str, Tuple[int, float]] = {}
        for raw, d in raw_fuzzy.items():
            b = raw_boosts.get(raw, 1.0)
            for t in set(self._analyze(raw)):
                d0, b0 = fuzzy.get(t, (0, 1.0))
                fuzzy[t] = (max(d0, d), b0 * b)
        for t, b in (boosts or {}).items():
            if b <= 0:
                raise ValueError(f"term boost must be > 0, got {t!r}: {b}")
            if t in fuzzy:  # boosts weight query terms, never add clauses
                d0, b0 = fuzzy[t]
                fuzzy[t] = (d0, b0 * b)
        prefixes = {p: raw_boosts.get(p, 1.0) for p in set(raw_prefixes)}
        regexps = {r: raw_boosts.get(r, 1.0) for r in set(raw_regexps)}
        if not fuzzy and not prefixes and not regexps:
            return (empty, {}) if return_expansion else empty
        n_docs, avgdl, _sum_dl = self._corpus[case_id]
        expanded = self.expand_fuzzy(case_id, fuzzy,
                                     max_expansions=max_expansions,
                                     prefixes=prefixes,
                                     regexps=regexps)
        if not expanded:
            return (empty, {}) if return_expansion else empty
        idfs = {e: sc.idf(n_docs, df) * w for e, (w, df) in expanded.items()}
        plan = sc.QueryPlan(weights=idfs, qtf={e: 1 for e in expanded})
        dfs = {e: df for e, (_w, df) in expanded.items()}
        pdf = self._search(case_id, {"q": plan}, dfs, avgdl, k, prune,
                           offset=offset, filter=filter,
                           filter_docs=filter_docs).drop(columns="qid")
        return (pdf, expanded) if return_expansion else pdf

    def suggest(self, terms, case_id: str = "0", max_edits: int = 2,
                top: int = 3):
        """Spelling suggestions — the Lucene DirectSpellChecker analog
        over the index vocabulary.  For each (lowercased, un-analyzed —
        suggestions should show what the user could type, not a stem)
        input term, returns up to ``top`` corpus terms within
        ``max_edits`` Levenshtein edits, best first by (similarity desc,
        df desc, term asc) with similarity = 1 - dist/min(len) — the same
        FuzzyTermsEnum weight search_ids_fuzzy folds into idf.  The term
        itself (dist 0) is never suggested.  Returns a Spark DataFrame
        (query_term, suggestion, dist, df) — at most |terms| * ``top``
        rows.

        Each input term is a fuzzy clause of boost 1 run through
        expand_fuzzy's per-clause rewrite (driver-local under
        LOCAL_MAX_VOCAB, else one distributed job over term_stats with
        the per-term cap applied IN Spark), before its cross-clause max."""
        from pyspark.sql import functions as F

        if max_edits < 1 or max_edits > MAX_FUZZY_DISTANCE:
            raise ValueError(
                f"max_edits must be 1..{MAX_FUZZY_DISTANCE}, got {max_edits}")
        qs = sorted({t.lower() for t in terms if t})
        schema = ("query_term string, suggestion string, dist int, "
                  "df bigint")
        if not qs:
            return self.spark.createDataFrame([], schema=schema)
        # the fuzzy rewrite's own clauses (boost 1), dist 0 excluded
        qrows = [(q, int(max_edits), 1.0, "f") for q in qs]
        vocab = self._local_vocab(case_id)
        if vocab is not None:
            rows = [(q, t, dist, df) for q, t, dist, _w, df in
                    self._expand_local(vocab, qrows, int(top), min_dist=1)]
            return self.spark.createDataFrame(rows, schema=schema)
        return self._expand_spark(case_id, qrows, int(top), min_dist=1).select(
            F.col("q").alias("query_term"), F.col("term").alias("suggestion"),
            F.col("dist").cast("int"), F.col("df").cast("bigint"))

    def more_like_this(self, text: str, k: int = DEFAULT_MAX_RESULTS,
                       case_id: str = "0", max_query_terms: int = 5,
                       prune: bool = True, return_terms: bool = False):
        """Lucene MoreLikeThis analog: find documents similar to ``text``.

        The text runs through the index's analyzer; its
        ``max_query_terms`` most characteristic terms — ranked by
        tf_in_text * idf, ties by term asc, terms absent from the corpus
        dropped (they can't match) — become an OR-of-terms BM25 query
        with qtf=1 per term (Lucene's MLT BooleanQuery, boost=false).
        Returns the same (doc_id, score) frame as :meth:`search_ids`;
        with ``return_terms=True`` also the selected terms (best first).
        To run MLT for an indexed document, pass its stored text — the
        source doc itself may appear in the results (Lucene excludes it
        only in the like-by-docid form).

        Scale shape: analysis + tf of ONE request-sized text is driver
        work by design (bounded by the doc, not the corpus); df lookup is
        the bucket-pruned term_stats scan (_term_dfs) over the text's
        distinct terms; scoring is the regular pruned block funnel.
        (Lucene's minTermFreq/minDocFreq pre-filters default to neutral
        here — the top-N cut is the selection.)"""
        self._check_fresh()
        if k is None or k < 0:
            k = DEFAULT_MAX_RESULTS
        if max_query_terms < 1:
            raise ValueError(
                f"max_query_terms must be >= 1, got {max_query_terms}")
        empty = pd.DataFrame(columns=["doc_id", "score"])
        if case_id not in self._corpus:
            return (empty, []) if return_terms else empty
        terms = self._analyze(text)
        if not terms:
            return (empty, []) if return_terms else empty
        counts = Counter(terms)
        n_docs, avgdl, _sum_dl = self._corpus[case_id]
        dfs_all = self._term_dfs(case_id, terms)
        ranked = sorted(
            ((counts[t] * sc.idf(n_docs, df), t) for t, df in dfs_all.items()),
            key=lambda x: (-x[0], x[1]))
        sel = [t for _s, t in ranked[:max_query_terms]]
        if not sel:
            return (empty, []) if return_terms else empty
        # score the selected terms directly through the block funnel —
        # they are ALREADY analyzed (re-running the analyzer on a stem is
        # not guaranteed to be a no-op), qtf=1 per term (Lucene MLT's
        # BooleanQuery of plain TermQuerys)
        plan = sc.QueryPlan(weights={t: sc.idf(n_docs, dfs_all[t])
                                     for t in sel},
                            qtf={t: 1 for t in sel})
        pdf = self._search(case_id, {"q": plan}, dfs_all, avgdl, k,
                           prune).drop(columns="qid")
        return (pdf, sel) if return_terms else pdf

    def search_ids_many(self, queries: Dict[str, str],
                        k: int = DEFAULT_MAX_RESULTS, case_id: str = "0",
                        mode: str = "any", prune: bool = True,
                        window: Optional[int] = None) -> pd.DataFrame:
        """Batched top-k for a whole query log in ONE postings scan.

        ``queries``: qid -> query string.  Returns a pandas frame
        (qid, doc_id, score) with each query's top-k, identical to
        per-query ``search_ids`` (same decode, weights, sum
        order, tie-breaks — enforced by test).  Queries with no live terms
        (or, under ``mode="all"``/``"phrase"``, any corpus-absent term)
        yield no rows.  ``mode="phrase"`` (index built with
        ``store_positions=True``) batches exact-phrase queries: postings
        AND positions are decoded once per segment and shared across the
        whole query log, bit-identical to per-query
        ``search_ids(mode="phrase")``.

        Scale shape: the scan is filtered to the UNION of live terms
        (partition pruning on their buckets still applies), each posting
        block is decoded once and shared across queries, and only
        O(|queries| * k) rows per segment leave the executors.  This is the
        offline query-log pattern: per-query Spark-job overhead is paid
        once for the batch instead of per query.  ``prune=True`` (default;
        gated on candidate volume like ``search_ids``) additionally runs
        the batched lossless block-max prune (``_prune_blocks``):
        per-query θs are established from one shared phase-1 pass and a
        block is decoded only when at least one query's top-k can still
        need it — the query-log replay stops decoding every block of the
        union terms.  Phrase/near modes never prune (their candidate
        volume is already the conjunctive intersection).  ``mode="near"``
        batches unordered-proximity queries, each within the shared
        ``window`` (search_ids semantics).  ``mode="boolean"`` batches
        Lucene ``+must -must_not should`` queries (search_ids_boolean
        semantics): scoring AND prohibited terms decode once per segment,
        each plan applies its own gates over the shared arrays,
        bit-identical to per-query boolean (enforced by test); boolean
        never prunes (same reason as the single-query path — the must
        intersection already bounds candidates and θ bounds are not
        not-term-aware)."""
        self._check_fresh()
        self._check_mode(mode, window,
                         ("any", "all", "phrase", "near", "boolean"),
                         note=" (fuzzy is a single-query mode — its "
                              "expansion job dominates; loop over "
                              "search_ids for fuzzy logs)")
        if k is None or k < 0:
            k = DEFAULT_MAX_RESULTS
        empty = pd.DataFrame(columns=["qid", "doc_id", "score"])
        if case_id not in self._corpus or not queries:
            return empty
        if mode == "boolean":
            plans, dfs = self._boolean_plans(
                {qid: tuple(" ".join(c) for c in parse_boolean(q))
                 for qid, q in queries.items()}, case_id)
        else:
            plans, dfs = self._text_plans(queries, case_id, mode, window)
        if not plans:
            return empty
        return self._search(case_id, plans, dfs, self._corpus[case_id][1],
                            k, prune)

    def _score_blocks(self, blocks_df, plans: Dict[str, sc.QueryPlan],
                      avgdl: float, k: Optional[int],
                      exclude: Optional[np.ndarray] = None,
                      allowed_df=None):
        """The distributed fetcher: every segment's blocks (plus its slice
        of ``allowed_df``) meet in one pandas call that verifies, decodes
        and scores them with the per-segment kernel; the union of segment
        top-ks then reduces to the global answer — orderBy.limit(k) for a
        batch of one, a per-qid window for a larger batch, so only
        O(|plans| * k) rows reach the driver.  Returns pandas (qid, doc_id,
        score) sorted like _execute; ``k=None`` sums per-segment match
        counts (doc-range partitioning makes them disjoint) into an int."""
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        positions = any(p.terms for p in plans.values())

        def score_one(key, pdf: pd.DataFrame,
                      allow: Optional[np.ndarray]) -> pd.DataFrame:
            _verify_blocks(pdf)
            qids, ids_l, scores_l = sc.score_segment_blocks(
                _block_rows(pdf, positions), plans, avgdl, k,
                exclude=exclude, allow=allow)
            if k is None:
                return pd.DataFrame({"n": np.asarray(
                    [sum(len(i) for i in ids_l)], dtype=np.int64)})
            if not qids:
                return _empty_hits()
            return pd.DataFrame({
                "qid": np.repeat(qids, [len(a) for a in ids_l]),
                "doc_id": np.concatenate(ids_l),
                "score": np.concatenate(scores_l),
            })

        cols = self._LOCAL_COLS_POS if positions else self._LOCAL_COLS
        sdf = self._cogroup_score(blocks_df.select(*cols), allowed_df,
                                  score_one,
                                  "n long" if k is None else _HITS_SCHEMA)
        if k is None:
            row = sdf.agg(F.sum("n").alias("total")).collect()[0]
            return int(row["total"] or 0)
        if len(plans) == 1:
            sdf = sdf.orderBy(F.col("score").desc(),
                              F.col("doc_id").asc()).limit(k)
        else:
            w = Window.partitionBy("qid").orderBy(
                F.col("score").desc(), F.col("doc_id").asc())
            sdf = (sdf.withColumn("_rn", F.row_number().over(w))
                   .filter(F.col("_rn") <= k).drop("_rn"))
        return _sort_hits(sdf.toPandas())

    def _bound_table(self, case_id: str, blocks_df, terms: List[str]
                     ) -> pd.DataFrame:
        """The pruner's block metadata: (segment_id, term, max_tf, min_dl)
        per (segment, term) of ``terms`` — max of the blocks' max_tf, min of
        their min_dl.  Under gate.METRICS_LOCAL_MAX_BLOCKS estimated block
        rows it is one driver-direct arrow read of the four narrow columns
        (same commit dirs and term_bucket pruning as the block fetch, no
        Spark job), aggregated here; above it, or with the driver-local
        paths off, one Spark aggregate collect over ``blocks_df``."""
        from pyspark.sql import functions as F

        n_segs = -(-self._corpus[case_id][0] // self.segment_size)
        est = (sum(self._term_dfs(case_id, terms).values())
               // codec.BLOCK_SIZE + n_segs * len(terms))
        if (0 < self.local_max_postings
                and est <= gate.METRICS_LOCAL_MAX_BLOCKS):
            pdf = self._read_blocks_arrow(
                case_id, terms, ("segment_id", "term", "max_tf", "min_dl"))
            return (pdf.groupby(["segment_id", "term"], as_index=False)
                    .agg(max_tf=("max_tf", "max"), min_dl=("min_dl", "min")))
        return (blocks_df.groupBy("segment_id", "term")
                .agg(F.max("max_tf").alias("max_tf"),
                     F.min("min_dl").alias("min_dl"))
                .toPandas())

    def _prune_blocks(self, case_id: str, blocks_df,
                      plans: Dict[str, sc.QueryPlan], avgdl: float, k: int,
                      exclude: Optional[np.ndarray] = None,
                      allowed_df=None):
        """Lossless block-max WAND pruning of any/all plans, one plan or a
        query log, with the bounds computed on the driver: only the two
        scoring passes run Spark jobs.

        The BM25 upper bound of a (max_tf, min_dl) metadata pair factors as
        w_q(t) * bub, where bub is the UNWEIGHTED tf-normalization bound
        (increasing in tf, decreasing in dl, so it bounds every posting the
        metadata covers) and w_q(t) = idf × boost × qtf.  From the bound
        table (_bound_table) each plan q gets its per-segment bound
        seg_ub_q(s) = Σ_t w_q(t) * bub(s, t), summed in sorted term order;
        mode="all" drops segments missing any of q's terms (all of a doc's
        postings live in one segment).

        1. Phase 1 exactly scores, in one shared pass, the union of each
           plan's PRUNE_FIRST_SEGMENTS highest-bound segments; θ_q is q's
           kth score there (−inf with fewer than k hits — q then prunes
           nothing).  A plan whose segments all sit in phase 1 is final
           there.  Sharing the pass only adds exact scores, so θ_q stays a
           lower bound of q's true kth score.
        2. Block b of term t in segment s outside phase 1 is needed by q iff

               w_q(t) * bub(b) + (seg_ub_q(s) − w_q(t) * bub(s, t)) ≥ θ_q
               ⇔  bub(b) ≥ bub(s, t) + (θ_q − seg_ub_q(s)) / w_q(t)

           so each q gives one cut per (segment, term) of a segment with
           seg_ub_q(s) ≥ θ_q, and b is scored iff bub(b) ≥ the min cut.
           Phase 2 runs as a literal predicate: ``segment_id isin`` the
           surviving segments and bub(b) ≥ the (segment, term) cut.

        Lossless: every doc in a dropped b has true score < θ_q, and
        dropping b only subtracts from it, so it can neither enter q's
        top-k nor tie its kth score; every doc scoring ≥ θ_q keeps all its
        blocks and its exact score (≥, not >, keeps kth-score ties).  A
        block kept for another query only adds exact contributions.  θ_q is
        lowered by a relative 1e-9 before the cuts and the segment test, so
        a driver sum that rounds differently from the scorer's can only
        keep MORE blocks, never fewer.

        A filter context (``allowed_df``) reaches phase 1, so θ is the kth
        FILTERED score, and is narrowed to the phase-1 and then the
        surviving segments with literal ``isin`` before each cogroup.  A
        batch of more than one plan scores everything in one pass when the
        phase-1 union already covers more than half of the candidate
        segments (coverage bail-out).  Returns (phase-2 blocks or None when
        nothing is left to score, phase-1 hits, phase-2 filter context);
        (blocks_df, None, allowed_df) when no plan spans more than
        PRUNE_FIRST_SEGMENTS segments."""
        from pyspark.sql import functions as F

        from pysearch import B, K1

        terms = sorted({t for p in plans.values() for t in p.weights})
        bt = self._bound_table(case_id, blocks_df, terms)
        segs, row = np.unique(bt["segment_id"].to_numpy(np.int64),
                              return_inverse=True)
        col = {t: j for j, t in enumerate(terms)}
        tf = bt["max_tf"].to_numpy(np.float64)
        dl = bt["min_dl"].to_numpy(np.float64)
        bub = np.full((len(segs), len(terms)), np.nan)  # nan: term absent
        bub[row, bt["term"].map(col).to_numpy(np.int64)] = (
            (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl)))

        bounds, phase1, open_q = {}, set(), []
        for qid, plan in plans.items():
            js = [col[t] for t in sorted(plan.weights)]
            w = np.array([plan.weights[t] * plan.qtf.get(t, 1)
                          for t in sorted(plan.weights)])
            here = ~np.isnan(bub[:, js])
            seg_ub = np.zeros(len(segs))
            for c, j in enumerate(js):  # sorted term order
                seg_ub += np.where(here[:, c], w[c] * bub[:, j], 0.0)
            alive = np.flatnonzero(here.sum(1) >= max(plan.require, 1))
            ranked = alive[np.lexsort((segs[alive], -seg_ub[alive]))]
            phase1.update(ranked[:PRUNE_FIRST_SEGMENTS].tolist())
            if len(ranked) > PRUNE_FIRST_SEGMENTS:
                open_q.append(qid)
            bounds[qid] = (js, w, here, seg_ub, alive)
        n_alive = len(set().union(*(b[4].tolist() for b in bounds.values())))
        if not open_q or (len(plans) > 1 and 2 * len(phase1) > n_alive):
            return blocks_df, None, allowed_df

        phase1 = sorted(phase1)
        in_p1 = F.col("segment_id").isin([int(s) for s in segs[phase1]])
        p1 = self._score_blocks(
            blocks_df.filter(in_p1), plans, avgdl, k, exclude=exclude,
            allowed_df=(None if allowed_df is None
                        else allowed_df.filter(in_p1)))

        cut = np.full(bub.shape, np.inf)
        rest = np.ones(len(segs), dtype=bool)
        rest[phase1] = False
        for qid in open_q:
            js, w, here, seg_ub, alive = bounds[qid]
            got = p1["score"][p1["qid"] == qid]
            theta = float(got.iloc[k - 1]) if len(got) >= k else -np.inf
            lo = theta - 1e-9 * (abs(theta) + seg_ub)
            ok = np.zeros(len(segs), dtype=bool)
            ok[alive] = True
            ok &= rest & (seg_ub >= lo)
            for c, j in enumerate(js):
                m = ok & here[:, c]
                cut[m, j] = np.minimum(
                    cut[m, j], bub[m, j] + (lo[m] - seg_ub[m]) / w[c])
        keep = np.flatnonzero((cut < np.inf).any(1))
        phase2 = allowed2 = None
        if len(keep):
            cuts = F.create_map(*[
                x for i in keep for x in (
                    F.lit(int(segs[i])).cast("long"),
                    F.create_map(*[
                        y for j in np.flatnonzero(cut[i] < np.inf)
                        for y in (F.lit(terms[j]), F.lit(float(cut[i, j])))
                    ]))
            ])
            bub_col = (F.col("max_tf") * (K1 + 1.0)) / (
                F.col("max_tf")
                + K1 * (1.0 - B + B * F.col("min_dl") / avgdl))
            in_p2 = F.col("segment_id").isin([int(s) for s in segs[keep]])
            phase2 = blocks_df.filter(
                in_p2 & (bub_col >= cuts[F.col("segment_id")][F.col("term")]))
            if allowed_df is not None:
                allowed2 = allowed_df.filter(in_p2)
        if self.count_scored_blocks:
            # test/diagnostic hook: blocks scored vs the unpruned candidate
            # set (extra metadata-only jobs)
            self.last_block_counts = {
                "candidate": blocks_df.count(),
                "scored": blocks_df.filter(in_p1).count()
                + (0 if phase2 is None else phase2.count()),
            }
        return phase2, p1, allowed2

    # ------------------------------------------------------------------
    def _hit_positions(self, case_id: str, terms: List[str],
                       hit_ids: List[int]) -> Dict[int, Dict[str, list]]:
        """Per-hit-doc term positions read from the INDEX (pos_bin), not by
        re-analyzing text: the terms' blocks in the hit docs' segments and
        doc range.  Under the local gate (the terms' candidate volume) one
        driver-direct arrow read, filtered here; above it one
        partition+segment-pruned Spark scan.  Both verify the block and
        positions CRCs.  Returns doc_id -> term -> [positions]."""
        if not hit_ids:
            return {}
        segs = sorted({(int(i) - 1) // self.segment_size for i in hit_ids})
        lo, hi = min(hit_ids), max(hit_ids)
        hit_set = set(int(i) for i in hit_ids)

        def extract(batches):
            for pdf in batches:
                _verify_blocks(pdf)
                rows = []
                for r in pdf.itertuples(index=False):
                    ids, tfs, _dls = codec.unpack_block(
                        r.n, r.doc_ids_bin, r.tfs_bin, r.dls_bin
                    )
                    pos = codec.unpack_positions_batch(tfs, [r.pos_bin])
                    ends = np.cumsum(tfs)
                    starts = ends - tfs
                    for j in np.flatnonzero(np.isin(ids, list(hit_set))):
                        rows.append((
                            r.term, int(ids[j]),
                            [int(p) for p in pos[starts[j]:ends[j]]],
                        ))
                yield pd.DataFrame(
                    rows, columns=["term", "doc_id", "positions"]
                )

        cols = ["term", "n", "doc_ids_bin", "tfs_bin", "dls_bin", "crc32",
                "pos_bin", "pos_crc32"]
        if self._use_local([sum(self._term_dfs(case_id, terms).values())]):
            pdf = self._read_blocks_arrow(
                case_id, terms, cols + ["segment_id", "min_doc_id",
                                        "max_doc_id"])
            pdf = pdf[pdf["segment_id"].isin(segs)
                      & (pdf["min_doc_id"] <= hi) & (pdf["max_doc_id"] >= lo)
                      & pdf["pos_bin"].notna()]
            found = [r for f in extract([pdf[cols]])
                     for r in f.itertuples(index=False)]
        else:
            from pyspark.sql import functions as F

            buckets = sorted({term_bucket(t, self.n_buckets) for t in terms})
            found = self.postings.filter(
                (F.col("case_id") == case_id)
                & F.col("term_bucket").isin(buckets)
                & F.col("term").isin(list(terms))
                & F.col("segment_id").isin(segs)
                & (F.col("min_doc_id") <= hi) & (F.col("max_doc_id") >= lo)
                & F.col("pos_bin").isNotNull()
            ).select(*cols).mapInPandas(
                extract,
                schema="term string, doc_id long, positions array<long>"
            ).collect()
        out: Dict[int, Dict[str, list]] = {}
        for term, doc_id, positions in found:
            out.setdefault(int(doc_id), {}).setdefault(term, []).extend(
                int(p) for p in positions)
        return out

    def search(self, query: str, k: int = DEFAULT_MAX_RESULTS,
               case_id: str = "0", prune: bool = True,
               best_filter: bool = True, max_spans: int = 100,
               mode: str = "any", spans: str = "auto",
               window: "Optional[int]" = None,
               distance: "Optional[int]" = None,
               filter: Optional[str] = None,
               filter_docs=None,
               offset: int = 0):
        """Full search: top-k + phrase spans + Best filter + line numbers.

        Returns a Spark DataFrame with MATCHES schema (SURVEY §1.1 match-set
        mapping of PdfMatchSet, search_pdfs.go:29-60).  ``max_spans`` caps
        spans per match (reference P6 caps: modify_pdf.go:74-96).

        ``spans`` selects how phrase spans are constructed:
        - ``"reanalyze"``: tokenize each hit's text at query time (the only
          option for indexes built without positions; span cost scales with
          doc length);
        - ``"index"``: read term positions from the index (pos_bin) and
          char offsets from the docs table's token sidecar — reference
          parity with bleve term-vector Locations (search_pdfs.go:382-484),
          span cost O(query-term postings + matched tokens) per hit;
        - ``"auto"`` (default): ``"index"`` when the index stores
          positions, else ``"reanalyze"``.  Both paths produce identical
          spans (pinned by test).

        ``mode``/``window``/``distance`` follow :meth:`search_ids`
        (any|all|phrase|near|boolean|fuzzy).  Span terms adapt to the
        mode: boolean uses the positive clauses only, fuzzy/prefix uses
        the expanded terms (a misspelling or wildcard never occurs in a
        matched doc — its expansions do).  ``filter``/``filter_docs``
        gate candidates (filter context, see :meth:`search_ids`).
        """
        from pyspark.sql import functions as F

        from pysearch.schema import MATCHES

        if spans not in ("auto", "index", "reanalyze"):
            raise ValueError(f"spans must be auto|index|reanalyze, got {spans!r}")
        use_index_pos = (
            self.positions_stored if spans == "auto" else spans == "index"
        )
        if use_index_pos and not self.positions_stored:
            raise ValueError("index was built without store_positions=True")

        expanded = None
        if mode == "fuzzy":
            hits, expanded = self.search_ids_fuzzy(
                query, k, case_id, prune, distance=distance,
                return_expansion=True, filter=filter,
                filter_docs=filter_docs, offset=offset)
        else:
            hits = self.search_ids(query, k, case_id, prune, mode,
                                   window=window, filter=filter,
                                   filter_docs=filter_docs, offset=offset)
        spark = self.spark
        if hits.empty:
            return spark.createDataFrame([], schema=MATCHES)
        # boosts change scores, not spans: strip the ^ syntax before the
        # span-construction analysis so boosted terms still align; under
        # mode="boolean", spans come from the POSITIVE clauses only (a
        # prohibited term never occurs in a matched doc); under
        # mode="fuzzy", spans come from the EXPANDED terms (the query's
        # misspelling never occurs in a matched doc — its expansions do)
        if expanded is not None:
            qterms = sorted(expanded)
        else:
            span_query = query
            if mode == "boolean":
                must_raw, should_raw, _not_raw = parse_boolean(query)
                span_query = " ".join(must_raw + should_raw)
            qterms = self._analyze(parse_boosts(span_query)[0])
        offsets_fn = self._analyze_offsets

        hits_df = spark.createDataFrame(hits, schema="doc_id long, score double")
        doc_cols = ["case_id", "doc_id", "url", "text"]
        pos_by_doc: Dict[int, Dict[str, list]] = {}
        if use_index_pos:
            doc_cols += ["n_tokens", "tok_starts_bin", "tok_lens_bin",
                         "offs_crc32"]
            pos_by_doc = self._hit_positions(
                case_id, sorted(set(qterms)), [int(i) for i in hits["doc_id"]]
            )
        docs = self.docs.filter(F.col("case_id") == case_id).select(*doc_cols)
        joined = docs.join(F.broadcast(hits_df), "doc_id")

        def _spans_reanalyze(r):
            toks = offsets_fn(r.text)
            doc_terms = [t for t, _, _ in toks]
            offsets = [(s, e) for _, s, e in toks]
            return sc.align_phrase(doc_terms, offsets, qterms)

        def _spans_from_index(r):
            tok_spans = sc.align_phrase_positions(
                qterms, pos_by_doc.get(int(r.doc_id), {})
            )
            if not tok_spans:
                return []
            starts, ends = codec.unpack_offsets(
                int(r.n_tokens), r.tok_starts_bin, r.tok_lens_bin,
                r.offs_crc32)
            return [(int(starts[f]), int(ends[last]), score)
                    for f, last, score in tok_spans]

        span_fn = _spans_from_index if use_index_pos else _spans_reanalyze

        def build_matches(pdf: pd.DataFrame) -> pd.DataFrame:
            out = []
            for r in pdf.itertuples(index=False):
                spans = span_fn(r)[:max_spans]
                line_nums, lines = [], []
                for (cs, _ce, _s) in spans:
                    ln, line = sc.line_lookup(r.text, cs)
                    line_nums.append(ln)
                    lines.append(line)
                out.append({
                    "case_id": r.case_id,
                    "doc_id": r.doc_id,
                    "url": r.url,
                    "score": float(r.score),
                    "spans": [
                        {"start": int(s), "end": int(e), "score": float(sco)}
                        for (s, e, sco) in spans
                    ],
                    "line_nums": line_nums,
                    "lines": lines,
                    # reference Fragment (search_pdfs.go:50,189-192):
                    # ellipsized highlight around the best span
                    "fragment": sc.make_fragment(r.text, spans),
                })
            return pd.DataFrame(out, columns=[
                "case_id", "doc_id", "url", "score", "spans", "line_nums",
                "lines", "fragment",
            ])

        matches = joined.mapInPandas(
            lambda it: (build_matches(pdf) for pdf in it), schema=MATCHES
        )

        if best_filter:
            # reference Best(): keep only matches whose best span score equals
            # the global maximum span score (search_pdfs.go:63-102)
            from pyspark.sql.window import Window

            matches = matches.withColumn(
                "best_span", F.array_max(F.col("spans.score"))
            )
            w = Window.partitionBy(F.lit(1))
            matches = (
                matches.withColumn("gmax", F.max("best_span").over(w))
                .filter(
                    F.col("best_span").isNotNull()
                    & (F.col("best_span") >= F.col("gmax"))
                )
                .drop("best_span", "gmax")
            )
        return matches.orderBy(F.col("score").desc(), F.col("doc_id").asc())
