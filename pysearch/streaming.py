"""Structured Streaming: the "check for terms as documents arrive" path.

Reference use case 2 (/root/reference/GOPHERCON.md:56): a short-lived
in-memory index that matches watch-terms against each arriving document,
served there by the in-memory bleve index
(/root/reference/internal/doclib/bleve_glue.go:35-38, selected when
persistDir == "" at index_pdfs.go:50-55).  Spark-first redesign:

- ``watch_terms_stream``: readStream(webtext) -> analyzer pandas UDF ->
  explode -> broadcast semi-join against the watch-term set -> per-doc
  matched terms.  Stateless, scales with executor count.
- ``windowed_term_counts``: event-time tumbling window counts per term with
  a watermark for late data.
- ``foreach_batch_matcher``: exactly-once micro-batch sink hook.
"""

from __future__ import annotations

import itertools
from typing import List

import numpy as np
import pandas as pd

from pysearch import gate


def _analyze_udf():
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from pysearch.analyze import analyze_series

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def analyze_terms(texts: pd.Series) -> pd.Series:
        return analyze_series(texts)

    return analyze_terms


def watch_terms_stream(stream_df, watch_terms: List[str],
                       watermark: str = "1 hour"):
    """Streaming webtext -> (url, warc_ts, term) rows for watched terms.

    ``watch_terms`` are raw query strings; they pass through the same
    analyzer as documents (F1 invariant: one analyzer for index and query).
    Dedup state is bounded by the event-time watermark — a plain
    dropDuplicates would grow the state store forever on a long-running
    stream.
    """
    from pyspark.sql import functions as F

    from pysearch.analyze import analyze

    analyzed = sorted({t for q in watch_terms for t in analyze(q)})
    udf = _analyze_udf()
    src = stream_df
    if stream_df.isStreaming:
        src = src.withWatermark("warc_ts", watermark)
    toks = src.select("url", "warc_ts", F.explode(udf("text")).alias("term"))
    matched = toks.filter(F.col("term").isin(analyzed))
    if stream_df.isStreaming:
        # watermark-bounded dedup state; plain dropDuplicates would grow
        # the state store forever on a long-running stream
        return matched.dropDuplicatesWithinWatermark(["url", "term"])
    return matched.dropDuplicates(["url", "term"])  # foreachBatch static path


def windowed_term_counts(stream_df, watch_terms: List[str],
                         window: str = "10 minutes",
                         watermark: str = "30 minutes"):
    """Event-time tumbling-window counts per watched term with late-data
    handling via watermark."""
    from pyspark.sql import functions as F

    matches = watch_terms_stream(stream_df, watch_terms, watermark=watermark)
    return (
        matches
        .groupBy(F.window("warc_ts", window), "term")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "term",
            "n_docs",
        )
    )


def streaming_dedup(stream_df, watermark: str = "1 hour"):
    """Stateful streaming exact-dedup: first occurrence of each content
    hash wins; later duplicates are dropped across micro-batches (state
    bounded by the event-time watermark).  The streaming face of the P4
    dedup family — Spark's dropDuplicatesWithinWatermark keeps the hash
    state store, giving exactly-once duplicate suppression.  The hash is
    the build's (``build.content_hash_column``)."""
    from pysearch.build import content_hash_column

    hashed = stream_df.withColumn(
        "content_hash", content_hash_column(stream_df)
    ).withWatermark("warc_ts", watermark)
    return hashed.dropDuplicatesWithinWatermark(["content_hash"])


def foreach_batch_matcher(watch_terms: List[str], out_dir: str):
    """Exactly-once micro-batch sink: append per-batch matches to parquet.

    The short-lived in-memory index of the reference becomes a per-batch
    match job; the epoch id makes re-delivered batches idempotent
    (overwrite-by-epoch partition)."""

    def handle(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        matched = watch_terms_stream(batch_df, watch_terms)
        (
            matched.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return handle


def _dedupe_batch(df):
    """Engine-parity dedupe of a batch shaped by ``build.shape_webtext``
    (the build's own extraction, content hash and empty filter, so an
    html-only row is kept as the build keeps it): content-dedupe keeping the
    min url per hash (P4), then url-dedupe keeping the min content hash
    (P3) — the same winners build_docs_stage picks.  The dedupe windows run
    on a TEXT-FREE projection (docs-stage rule: no shuffle carries document
    bodies for id/dedupe work); winners join back broadcast/AQE-sized.
    Returns (url, text)."""
    from pyspark.sql import functions as F

    proj = df.select("url", "content_hash")
    # min-aggregates, not rank windows: a groupBy(min) partially aggregates
    # map-side before the exchange and needs no per-partition sort, while
    # picking the SAME winners — "keep the row whose url is the min of its
    # hash group" == one (hash -> min url) row per group, then "min hash
    # per url among those" == the second aggregate
    winners = (
        proj.groupBy("content_hash").agg(F.min("url").alias("url"))
        .groupBy("url").agg(F.min("content_hash").alias("content_hash"))
        .select("url", "content_hash")
    )
    # rows equal on (url, hash) are identical by the content-hash contract,
    # so the dropDuplicates after the semi join is value-deterministic
    return (
        df.join(winners, ["url", "content_hash"], "left_semi")
        .dropDuplicates(["url"])
        .select("url", "text")
    )


def _contains(hay, needle):
    n = len(needle)
    first = needle[0]
    for i in range(len(hay) - n + 1):
        if hay[i] == first and tuple(hay[i:i + n]) == needle:
            return True
    return False


def _tok_query_tfs(an, qset, phrase_seqs):
    """mapInPandas transform over (url, text): one tokenize pass emitting a
    per-doc stats row (term NULL, dl = analyzed length) plus one
    (url, dl, term, tf) row per query term the doc contains.  Phrase
    containment markers ride the same rows as real terms under a reserved
    "\\x00p:" prefix ("\\x00" can never appear in an analyzed term), so
    presence becomes one more per-term doc array in the arrival scorer —
    no extra column, job, or join."""

    def tok(batches):
        for pdf in batches:
            urls, dls, terms, tfs = [], [], [], []
            for url, text in zip(pdf["url"], pdf["text"]):
                toks = an(text)
                urls.append(url)
                dls.append(len(toks))
                terms.append(None)  # per-doc stats row
                tfs.append(0)
                counts: dict = {}
                for t in toks:
                    if t in qset:
                        counts[t] = counts.get(t, 0) + 1
                for t, c in counts.items():
                    urls.append(url)
                    dls.append(len(toks))
                    terms.append(t)
                    tfs.append(c)
                for qid, seq in phrase_seqs.items():
                    # cheap pre-gate: every phrase term must have counted
                    if all(t in counts for t in seq) and _contains(toks, seq):
                        urls.append(url)
                        dls.append(len(toks))
                        terms.append("\x00p:" + qid)
                        tfs.append(1)
            yield pd.DataFrame(
                {"url": urls, "dl": dls, "term": terms, "tf": tfs}
            )

    return tok


_HITS_SCHEMA = "qid string, url string, score double"


def _topk_arrivals(cand: pd.DataFrame, plans: dict, avgdl: float,
                   k: int) -> pd.DataFrame:
    """The arrival scorer: candidate rows (url, term, tf, dl) -> each
    plan's top-k as (qid, url, score) through the engine's own funnel
    (``score._topk_from_decoded``), so arrivals score bit-identically to
    the index by construction.  Docs are numbered by sorted url rank, so
    the funnel's (score desc, doc_id asc) order is (score desc, url asc);
    a phrase plan's match gate is its containment-marker rows.  (Grouping
    is by np.unique, not pandas: pandas hashes strings only up to their
    first NUL, which would merge every "\\x00p:" marker into one group.)"""
    from pysearch import score as sc

    urls, doc = np.unique(cand["url"].to_numpy(object), return_inverse=True)
    terms, tix = np.unique(cand["term"].to_numpy(object),
                           return_inverse=True)
    order = np.lexsort((doc, tix))  # by term, then doc id
    cuts = np.searchsorted(tix[order], np.arange(1, terms.size))
    cols = [np.split(a[order], cuts) for a in (
        doc, cand["tf"].to_numpy(np.int64), cand["dl"].to_numpy(np.int64))]
    decoded = {t: (d, tf, dl, None) for t, d, tf, dl in zip(terms, *cols)}
    none = (np.empty(0, dtype=np.int64),)
    out = []
    for qid, plan in plans.items():
        restrict = (decoded.get("\x00p:" + qid, none)[0] if plan.terms
                    else None)
        hit, sums = sc._topk_from_decoded(decoded, plan, avgdl, k,
                                          restrict=restrict)
        out.append(pd.DataFrame({"qid": qid, "url": urls[hit],
                                 "score": sums}))
    return pd.concat(out, ignore_index=True)


def _arrival_hits(toks, plans: dict, avgdl: float, k: int,
                  local: bool) -> list:
    """Run the arrival scorer over the persisted tokenize rows from one of
    two fetchers and merge the top-ks into (qid, url, score) rows ordered
    (qid asc, score desc, url asc), at most k per query: ``local`` scores
    one ``toPandas()`` of the candidate rows on the driver; otherwise
    ``repartition("url")`` co-locates each doc's rows and every partition
    returns its own top-k (the union of per-partition top-ks holds the
    global top-k)."""
    from pyspark.sql import functions as F

    cand = toks.filter(F.col("term").isNotNull()).select(
        "url", "term", "tf", "dl")
    if local:
        hits = _topk_arrivals(cand.toPandas(), plans, avgdl, k)
    else:
        def score_part(batches):
            pdfs = list(batches)
            if pdfs:
                yield _topk_arrivals(pd.concat(pdfs, ignore_index=True),
                                     plans, avgdl, k)

        hits = (cand.repartition("url")
                .mapInPandas(score_part, schema=_HITS_SCHEMA).toPandas())
    rows = sorted(hits.itertuples(index=False, name=None),
                  key=lambda r: (r[0], -r[2], r[1]))
    return [r for _qid, grp in itertools.groupby(rows, key=lambda r: r[0])
            for r in itertools.islice(grp, k)]


def _score_arrivals(df, an, analyzed: dict, mode: str, k: int,
                    max_local: int, base=(0, 0, {})):
    """The arrival side of both entry points: one tokenize pass over the
    shaped, deduped batch ``df``, one stats aggregate, the engine's plans
    over the combined stats, then the arrival scorer — driver-local when
    the candidate rows number at most ``max_local``.

    ``base``: the index side's (n_docs, sum_dl, term dfs), added to the
    batch's own stats (zeros for a batch-local search); avgdl is one
    float64 division of exact longs, as in the finalize arithmetic.
    Returns (plans, n_docs, avgdl, dfs over every query term, hits as
    ``_arrival_hits`` returns them)."""
    from pyspark.sql import functions as F

    from pysearch import score as sc

    union_terms = sorted({t for ts in analyzed.values() for t in ts})
    # phrase containment markers ride the same (url, dl, term, tf) rows as
    # real terms (see _tok_query_tfs)
    phrase_seqs = (
        {qid: tuple(ts) for qid, ts in analyzed.items() if ts}
        if mode == "phrase" else {}
    )
    toks = df.mapInPandas(
        _tok_query_tfs(an, set(union_terms), phrase_seqs),
        schema="url string, dl long, term string, tf long",
    ).persist()
    try:
        # ONE aggregate job serves both corpus stats and term dfs: the
        # per-doc stats rows carry term=NULL, so their group gives (N,
        # sum_dl) and every other group gives that term's df
        per_term = {
            r["term"]: (int(r["n"]), int(r["s"]))
            for r in toks.groupBy("term").agg(
                F.count("*").alias("n"),
                F.coalesce(F.sum("dl"), F.lit(0)).alias("s"),
            ).collect()
        }
        n_mem, sum_dl_mem = per_term.pop(None, (0, 0))
        n_idx, sum_dl_idx, dfs_idx = base
        n_docs = n_idx + n_mem
        avgdl = (sum_dl_idx + sum_dl_mem) / max(n_docs, 1)
        dfs = {t: dfs_idx.get(t, 0) + per_term.get(t, (0, 0))[0]
               for t in union_terms}
        live = {t: n for t, n in dfs.items() if n > 0}
        plans = {qid: sc.build_plan(mode, ts, live, n_docs)
                 for qid, ts in analyzed.items()}
        plans = {qid: p for qid, p in plans.items() if p is not None}
        # candidate volume == the stats aggregate's per-term row counts
        vol = sum(n for n, _s in per_term.values())
        hits = (_arrival_hits(toks, plans, avgdl, k, vol <= max_local)
                if plans and vol else [])
    finally:
        toks.unpersist()
    return plans, n_docs, avgdl, dfs, hits


def score_arriving_batch(batch_df, queries: dict, k: int = 10,
                         analyzer: str = "en", mode: str = "any"):
    """Scored in-memory arrival index — reference use case 2
    (/root/reference/GOPHERCON.md:56: "Check for terms in a PDF as it
    arrives. (Short-lived in-memory index.)", served there by the in-memory
    bleve index, bleve_glue.go:35-38): run a full BM25 ranked search over
    JUST the arriving micro-batch, no persistent index.

    ``queries``: qid -> query string.  Returns a DataFrame
    (qid, url, score) with each query's top-k over the batch, RANK-IDENTICAL
    to building a real index over the same batch and searching it (same
    analyzer, the build's own shaping ``build.shape_webtext``, same P3/P4
    dedupe rules, the engine's own plans and top-k
    funnel, ties by url ascending == the engine's doc_id ascending since
    doc_ids are url ranks) — pinned by test.

    The batch is treated as ONE corpus (batch-local N/avgdl/df, the
    reference's short-lived-index semantics).  Scale shape: one tokenize
    pass emitting only query-term tfs plus one stats row per doc, one tiny
    aggregate, then one scoring pass — a bounded driver-side read of the
    candidate rows under the ``PYSEARCH_LOCAL_MAX_POSTINGS`` gate, a
    per-url-partition top-k above it; nothing corpus-sized ever reaches
    the driver.

    ``mode="all"`` requires every analyzed query term to occur in the doc
    (conjunctive), matching ``Searcher.search_ids(mode="all")``.

    ``mode="phrase"`` additionally requires the analyzed query terms at
    CONSECUTIVE positions, matching ``Searcher.search_ids(mode="phrase")``:
    positions are ungapped indices into the analyzed token stream
    (analyze.py), so adjacency == contiguous-sublist containment of the
    analyzed query in the analyzed doc — checked inside the same tokenize
    pass that counts tfs (the token stream is already in hand; no extra
    scan, no positions shuffle).  Phrase hits score bit-identically to
    their mode="all" scores, as in the engine."""
    from pysearch.analyze import get_analyzer
    from pysearch.build import shape_webtext

    if mode not in ("any", "all", "phrase"):
        raise ValueError(f"mode must be 'any', 'all' or 'phrase', got {mode!r}")
    an, _, _ = get_analyzer(analyzer)
    analyzed = {qid: an(q) for qid, q in queries.items()}
    spark = batch_df.sparkSession
    hits = []
    if any(analyzed.values()):
        *_, hits = _score_arrivals(
            _dedupe_batch(shape_webtext(batch_df)), an, analyzed, mode,
            k, gate.local_max_postings())
    return spark.createDataFrame(hits, schema=_HITS_SCHEMA)


def _index_urls(searcher, case_id: str, doc_ids: list) -> dict:
    """doc_id -> url for index hits: one lookup in the Searcher's cached
    catalog under its LOCAL_MAX_CATALOG gate (no Spark job), else one
    docs-table collect for every hit across the whole query log."""
    from pyspark.sql import functions as F

    from pysearch.query import catalog_take

    if not doc_ids:
        return {}
    cat = searcher._catalog(case_id)
    if cat is not None:
        return dict(zip(doc_ids, catalog_take(cat, "url", doc_ids)))
    return {
        int(r["doc_id"]): r["url"]
        for r in searcher.docs.filter(
            (F.col("case_id") == case_id) & F.col("doc_id").isin(doc_ids)
        ).select("doc_id", "url").collect()
    }


def search_with_arrivals(searcher, batch_df, queries: dict, k: int = 10,
                         case_id: str = "0", mode: str = "any",
                         prune: bool = True) -> pd.DataFrame:
    """Near-real-time HYBRID search: score a query log against the
    persistent index AND a not-yet-flushed arrival batch together, under
    the COMBINED corpus statistics — the answer the index will give after
    ``build_index(append=batch)`` flushes, before paying for the flush
    (Lucene's NRT-reader model; reference use case 2 upgraded from
    batch-local stats to whole-corpus stats).

    Returns a pandas frame (qid, url, score): each query's top-k over
    index ∪ batch, with scores BIT-IDENTICAL to appending the batch and
    searching (pinned by test), for mode any|all|phrase.  Semantics mirror
    the append exactly:

    - batch shaping = build_docs_stage's ``build.shape_webtext`` (S4
      html→text extraction, content hash, P1 empty filter), THEN the
      append anti-joins (a batch row whose url or content
      hash already exists in the index is the index doc — append never
      updates), THEN within-batch P4/P3 dedup — the same order as
      build.py, because winner selection is order-sensitive.
    - combined stats: n = n_idx + n_mem, avgdl = (sum_dl_idx + sum_dl_mem)
      / n as one float64 division of exact longs (identical to the
      finalize arithmetic), df(t) = df_idx(t) + df_mem(t); both sides
      build their plans with ``score.build_plan`` over these and score
      through the engine's top-k funnel, so a mem doc and an index doc
      with the same tf/dl get the same score.
    - tie order: post-append doc_ids put every arrival AFTER every index
      doc (next segment boundary), arrivals ordered by url — the merge
      reproduces that exactly (index hits by doc_id, then arrivals by
      url, within equal scores).

    Scale shape: the index side scores the WHOLE query log in ONE
    partition-pruned postings scan (the ``search_ids_many`` engine —
    shared per-segment decode, O(k · |queries|) rows to the driver);
    ``prune=True`` (default) adds the batched lossless per-query block-max
    prune on top (θ_q from index candidates — a lower bound of the
    index-side kth score, so pruning stays lossless under the merge),
    ``prune=False`` keeps the exhaustive one-pass scan.  The mem side is
    the arrival scorer's one tokenize pass + one tiny aggregate over the
    batch, driver-local under the Searcher's ``local_max_postings``."""
    from pyspark.sql import functions as F

    from pysearch import score as sc
    from pysearch.build import shape_webtext

    if mode not in ("any", "all", "phrase"):
        raise ValueError(f"mode must be 'any', 'all' or 'phrase', got {mode!r}")
    if mode == "phrase" and not searcher.positions_stored:
        raise ValueError(
            "mode='phrase' needs an index built with store_positions=True"
        )
    searcher._check_fresh()
    an = searcher._analyze
    analyzed = {qid: an(q) for qid, q in queries.items()}
    union_terms = sorted({t for ts in analyzed.values() for t in ts})
    empty = pd.DataFrame(columns=["qid", "url", "score"])
    if not union_terms:
        return empty

    # ---- arrival side: shape -> append anti-joins -> dedupe -> tokenize
    src = batch_df
    if "case_id" in src.columns:
        # a hybrid search serves ONE case; rows bound for other cases
        # cannot affect it (they would append elsewhere)
        src = src.filter(F.col("case_id").cast("string") == case_id)
    df = shape_webtext(src)
    cat = searcher._catalog(case_id)
    if cat is not None:
        # catalog under the LOCAL_MAX_CATALOG gate: the "already indexed"
        # anti-joins keep their shape but build their broadcast side from
        # in-memory key relations made once per load — no docs-table scan
        # job per hybrid query; same surviving rows.  (Local relations,
        # not ``isin`` literal lists: Column.isin pays a py4j round trip
        # per element, which is seconds at catalog sizes.)
        if "relations" not in cat:
            cat["relations"] = tuple(
                searcher.spark.createDataFrame(
                    pd.DataFrame({c: cat[c]}), schema=f"{c} string")
                for c in ("url", "content_hash"))
        url_df, hash_df = cat["relations"]
        df = df.join(F.broadcast(url_df), "url", "left_anti")
        df = df.join(F.broadcast(hash_df), "content_hash", "left_anti")
    else:
        existing = searcher.docs.filter(F.col("case_id") == case_id)
        df = df.join(existing.select("url"), "url", "left_anti")
        df = df.join(existing.select("content_hash"), "content_hash",
                     "left_anti")

    # ---- combined corpus stats: the index side's, plus the batch's
    n_idx, _avgdl_idx, sum_dl_idx = searcher._corpus.get(case_id, (0, 0.0, 0))
    dfs_idx = searcher._term_dfs(case_id, union_terms) if n_idx else {}
    plans, n_docs, avgdl, dfs, mem = _score_arrivals(
        _dedupe_batch(df), an, analyzed, mode, k,
        searcher.local_max_postings, base=(n_idx, sum_dl_idx, dfs_idx))
    if not plans:
        return empty

    # ---- index side, with the UNION stats injected (idfs/avgdl/require).
    # BOTH routes score the whole query log's index side in ONE postings
    # scan via the batched engine (Searcher._search, the search_ids_many
    # amortization — shared decode, O(k·|queries|) rows to the driver),
    # under the engine's one prune rule and local gate, computed from the
    # index-side dfs.  prune=True may add the lossless block-max prune
    # (Searcher._prune_blocks); prune=False keeps the exhaustive one-pass
    # scan.  Either way results are identical to per-query scoring
    # (pruning is lossless; pinned by the NRT bit-identity tests).  θ_q
    # comes from index-side candidates only — a lower bound of the
    # index-side kth score, so pruning the index list stays lossless
    # regardless of the mem-side merge.
    idx_dfs = {t: dfs[t] for t in union_terms if dfs_idx.get(t, 0) > 0}
    # no index doc can contain a term the index lacks
    idx_plans = {qid: sc.build_plan(mode, analyzed[qid], idx_dfs, n_docs)
                 for qid in plans}
    idx_plans = {qid: p for qid, p in idx_plans.items() if p is not None}
    idx_hits: dict = {}
    if idx_plans:
        many = searcher._search(case_id, idx_plans, dfs_idx, avgdl, k, prune)
        for r in many.itertuples(index=False):
            idx_hits.setdefault(r.qid, []).append(
                (int(r.doc_id), float(r.score)))
    url_of = _index_urls(searcher, case_id, sorted(
        {i for hits in idx_hits.values() for i, _ in hits}))

    # ---- merge: equal scores order index-before-mem (post-append ids put
    # arrivals last), index by doc_id asc, arrivals by url asc
    mem_hits: dict = {}
    for qid, url, s in mem:
        mem_hits.setdefault(qid, []).append((url, float(s)))
    rows = []
    for qid in sorted(plans):
        cand = [(s, 0, i, url_of[i]) for i, s in idx_hits.get(qid, [])]
        cand += [(s, 1, u, u) for u, s in mem_hits.get(qid, [])]
        cand.sort(key=lambda t: (-t[0], t[1], t[2]))
        rows += [(qid, u, s) for s, _g, _key, u in cand[:k]]
    return pd.DataFrame(rows, columns=["qid", "url", "score"])


def foreach_batch_scored_matcher(queries: dict, out_dir: str, k: int = 10,
                                 analyzer: str = "en", mode: str = "any"):
    """Streaming sink for the scored arrival index: per micro-batch, run
    ``score_arriving_batch`` and append the per-query top-k to parquet,
    idempotent by epoch (overwrite-by-epoch partition)."""

    def handle(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        if batch_df.isEmpty():
            return
        res = score_arriving_batch(batch_df, queries, k=k,
                                   analyzer=analyzer, mode=mode)
        (
            res.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )

    return handle


def foreach_batch_indexer(index_dir: str, compact_every: int = 16,
                          **build_kwargs):
    """Continuous index maintenance: append each micro-batch to a
    persistent index via ``build_index(append=True)`` — the streaming face
    of incremental append (reference open-existing parity,
    bleve_glue.go:20-30; use case 2's arriving-documents path upgraded
    from match-only to full index ingestion).

    Re-delivered micro-batches are idempotent without tracking epoch ids:
    append dedupes against the existing docs table by (case_id, url) and
    content hash, so re-processing a batch appends nothing.  The first
    batch against an empty directory is a fresh build.

    Compaction policy (the r2 scale flaw: commits accumulated unboundedly
    between MANUAL compactions, degrading query planning linearly in batch
    count on a long-running stream): once the postings table holds more
    than ``compact_every`` commit batches, the sink compacts the index
    in-line before the next batch — the stream is the index's only WRITER
    inside foreachBatch, so the single-writer precondition holds by
    construction.  Query cost is thereby bounded at O(compact_every)
    commit scans regardless of stream lifetime.

    Compaction is safe under concurrent READERS (r4): it commits as an
    atomic snapshot generation flip that retains the superseded
    generation on disk, so a live ``Searcher``'s resolved plans keep
    reading their files through the flip and its next search refreshes
    onto the new generation (``Searcher._check_fresh``).  A reader is
    only at risk if it stays pinned (``on_stale="ignore"``) across TWO
    compactions — its generation is then expired; refresh at least once
    per compaction cycle, or run ``compact.expire_generations`` only in
    maintenance windows.  ``compact_every=0`` disables the policy."""

    def handle(batch_df, epoch_id: int) -> None:
        if not batch_df.isEmpty():
            _flush(batch_df, index_dir, compact_every, build_kwargs)

    return handle


def _flush(batch_df, index_dir: str, compact_every: int,
           build_kwargs: dict) -> None:
    """Both indexing sinks' flush policy: append the micro-batch, then
    compact once the postings table holds more than ``compact_every``
    commit batches (0 disables compaction)."""
    from pysearch.build import build_index
    from pysearch.compact import compact_index
    from pysearch.lineage import IndexLayout

    spark = batch_df.sparkSession
    build_index(spark, batch_df, index_dir, append=True, **build_kwargs)
    if compact_every:
        layout = IndexLayout(index_dir)
        if len(layout.list_commits(layout.postings)) > compact_every:
            compact_index(spark, index_dir)


def foreach_batch_nrt(index_dir: str, queries: dict, out_dir: str,
                      k: int = 10, case_id: str = "0", mode: str = "any",
                      compact_every: int = 16, **build_kwargs):
    """Serve-then-flush streaming sink: per micro-batch, FIRST answer the
    query log over index ∪ batch (``search_with_arrivals`` — results
    available before paying for the flush), write the per-epoch top-k to
    parquet, THEN append the batch to the index (same ingestion +
    auto-compaction policy as ``foreach_batch_indexer``).

    Epoch results are idempotent under micro-batch redelivery: a
    re-delivered batch's rows are already in the index, so the hybrid's
    append anti-joins collapse the mem side to empty and the index side
    returns exactly the ranks the original hybrid computed (the flush
    changed nothing the hybrid hadn't already accounted for) — and the
    epoch partition is overwritten either way.  The first batch against a
    missing/empty index is served by the batch-local arrival scorer
    (``score_arriving_batch`` — there is no corpus to combine with yet),
    then becomes the initial build."""

    def handle(batch_df, epoch_id: int) -> None:
        from pyspark.sql import functions as F

        from pysearch.lineage import IndexLayout
        from pysearch.query import Searcher

        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        if IndexLayout(index_dir).stage_done("finalize"):
            s = Searcher(spark, index_dir)
            res = spark.createDataFrame(
                search_with_arrivals(s, batch_df, queries, k=k,
                                     case_id=case_id, mode=mode),
                schema=_HITS_SCHEMA)
        else:
            serve_df = batch_df
            if "case_id" in serve_df.columns:
                # the serve path answers ONE case, like the hybrid
                serve_df = serve_df.filter(
                    F.col("case_id").cast("string") == case_id)
            res = score_arriving_batch(
                serve_df, queries, k=k, mode=mode,
                analyzer=build_kwargs.get("analyzer", "en"))
        (
            res.withColumn("epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .parquet(f"{out_dir}/epoch={epoch_id}")
        )
        _flush(batch_df, index_dir, compact_every, build_kwargs)

    return handle
