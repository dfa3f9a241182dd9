"""BM25 scoring, segment-local top-k, and phrase-span alignment.

Ranking semantics (SURVEY.md §2.10): OR-of-terms match query scored with
BM25 (k1=1.2, b=0.75 — the graft target's scorer; the reference's bleve
v0.8.1 used TF-IDF and modern bleve defaults to BM25), then the reference's
two-stage result shaping: per-hit phrase alignment
(/root/reference/internal/doclib/search_pdfs.go:382-484, span construction
:512-516) and the global Best filter that keeps only max-phrase-score spans
(:63-102, applied at index_search.go:110).

Determinism (rank identity across parallelism/pruning/resume):
- per-(term, doc) scores are float64 and summed in ascending term order;
- ties broken by doc_id ascending everywhere.
"""

from __future__ import annotations

import functools
from collections import Counter
from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from pysearch import K1, B
from pysearch import codec


def idf(n_docs: int, df: int) -> float:
    """Lucene/modern-bleve BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)).

    math.log, not np.log — they may differ by 1 ulp and rank identity
    demands bit-equal scores against the brute oracle."""
    import math

    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25(tf, dl, idf_val: float, avgdl: float):
    """Vectorized BM25 term score for arrays of (tf, dl)."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    denom = tf + K1 * (1.0 - B + B * dl / avgdl)
    return idf_val * (tf * (K1 + 1.0)) / denom


# (per-block BM25 upper bounds are computed in query.Searcher._prune_blocks:
# tf-normalization is increasing in tf and decreasing in dl, so (max_tf,
# min_dl) bounds every posting)


@dataclass(frozen=True)
class QueryPlan:
    """One query's scoring plan; every match mode is a setting of it.

    ``weights``: idf x boost per SCORING term (the terms whose BM25 sums).
    ``qtf``: query-term frequency per term.
    ``terms``: the analyzed terms IN ORDER (duplicates kept) for a
    positional plan — exact phrase, or unordered proximity within
    ``window`` positions (mode="near") when ``window`` is set.
    ``require`` > 0: conjunctive (mode="all") — a doc must hold exactly
    that many distinct scoring terms: the vectorized form of a sorted
    posting-list intersection (each term contributes a doc at most once
    per segment, so the per-doc appearance count IS the distinct-term
    count).
    ``must`` / ``must_not``: boolean gates — every ``must`` term present,
    no ``must_not`` term present (``must_not`` terms are decoded but never
    scored)."""

    weights: Dict[str, float]
    qtf: Dict[str, int]
    terms: Tuple[str, ...] = ()
    require: int = 0
    must: Tuple[str, ...] = ()
    must_not: Tuple[str, ...] = ()
    window: Optional[int] = None

    @property
    def scan_terms(self) -> set:
        """Every term whose postings the plan reads."""
        return set(self.weights) | set(self.must_not)

    @property
    def plain(self) -> bool:
        """True for any/all plans: no match step beyond the term-count
        requirement, so block-max bounds and per-block scoring apply."""
        return not (self.terms or self.must or self.must_not)


def build_plan(mode: str, terms: List[str], dfs: Dict[str, int],
               n_docs: int, window: Optional[int] = None,
               boosts: Optional[Dict[str, float]] = None
               ) -> Optional[QueryPlan]:
    """QueryPlan for the analyzed ``terms`` under mode any|all|phrase|near
    against ``dfs`` (the live terms' dfs) over ``n_docs`` docs, or None
    when nothing can match: no live term, or — under all/phrase/near — any
    term absent from ``dfs``.  ``boosts``: resolved per-term weight
    multipliers.  The one builder for the index engine and the arrival
    scorer, so both weigh a query the same way."""
    live = sorted(t for t in set(terms) if t in dfs)
    if not live or (mode != "any" and len(live) < len(set(terms))):
        return None
    boosts = boosts or {}
    return QueryPlan(
        weights={t: idf(n_docs, dfs[t]) * boosts.get(t, 1.0) for t in live},
        qtf=dict(Counter(terms)),
        terms=tuple(terms) if mode in ("phrase", "near") else (),
        require=len(live) if mode == "all" else 0,
        window=window if mode == "near" else None)


def score_segment_blocks(
    block_rows: Sequence[tuple],
    plans: Dict[str, QueryPlan],
    avgdl: float,
    k: Optional[int],
    exclude: np.ndarray | None = None,
    allow: np.ndarray | None = None,
) -> Tuple[List[str], List[np.ndarray], List[np.ndarray]]:
    """Score a batch of plans over one segment's posting blocks; return
    (qids, ids_arrays, score_arrays), each plan's local top-k, for the
    plans with hits.  A single query is a batch of one.

    ``block_rows``: (term, n, doc_ids_bin, tfs_bin, dls_bin[, pos_bin])
    tuples, any order — pos_bin is required when some plan is positional.
    All postings of a doc live in exactly one segment (doc-range
    partitioning), so the local sum is the doc's complete score and the
    global answer is the top-k of the union of segment top-ks.  Every term
    is decoded once and shared by all plans; positions are decoded only
    when some plan is phrase or near.  Each plan's match step
    (``_match``) then feeds the shared ``_topk_from_decoded`` funnel, so
    every mode, single or batched, scores bit-identically by construction.

    ``k=None`` skips the top-k cut: each plan's arrays hold EVERY matching
    doc (unordered) — the total-hits count is their length.
    ``exclude``: sorted doc_id array (tombstones) to drop before scoring.
    ``allow``: sorted unique doc_id array (filter context) — when given,
    ONLY these docs can match; applied before scoring so conjunctive
    counts and top-k cutoffs see the filtered corpus (Lucene filter
    semantics: idf/avgdl stay corpus-wide, the filter gates candidates)."""
    per_term: dict = {}
    for row in block_rows:
        per_term.setdefault(row[0], []).append(row[1:])
    # a plan missing one of its phrase/near or must terms in this segment
    # cannot match here: drop it, and decode only what the rest read
    plans = {qid: p for qid, p in plans.items()
             if all(t in per_term for t in p.terms + p.must)}
    positional = any(p.terms for p in plans.values())
    decoded: Dict[str, tuple] = {}
    for term in {t for p in plans.values() for t in p.scan_terms}:
        if term not in per_term:
            continue
        cols = list(zip(*per_term[term]))
        ids, tfs, dls = codec.unpack_blocks_batch(*cols[:4])
        pos = (codec.unpack_positions_batch(tfs, cols[4]) if positional
               else None)
        decoded[term] = (ids, tfs, dls, pos)

    out_q: List[str] = []
    out_ids: List[np.ndarray] = []
    out_scores: List[np.ndarray] = []
    for qid, plan in plans.items():
        restrict, excl = _match(plan, decoded, exclude)
        if restrict is not None and restrict.size == 0:
            continue
        ids, sums = _topk_from_decoded(decoded, plan, avgdl, k,
                                       restrict=restrict, exclude=excl,
                                       allow=allow)
        if ids.size == 0:
            continue
        out_q.append(qid)
        out_ids.append(ids)
        out_scores.append(sums)
    return out_q, out_ids, out_scores


def _match(plan: QueryPlan, decoded: Dict[str, tuple],
           exclude: np.ndarray | None):
    """A plan's match step over the decoded segment -> (restrict, exclude).

    ``restrict``: the docs the plan's gate admits (None = no gate; empty =
    nothing in this segment matches) — phrase/near position matches, or
    the posting-list intersection of the ``must`` terms.  ``exclude``: the
    tombstones, widened by the union of the ``must_not`` terms' postings
    (all of a doc's postings live in its segment, so both gates are
    segment-local)."""
    restrict = None
    if plan.terms:
        qterms = list(plan.terms)
        restrict = (_phrase_matched_docs(decoded, qterms)
                    if plan.window is None
                    else _near_matched_docs(decoded, qterms, plan.window))
    elif plan.must:
        restrict = functools.reduce(
            lambda a, b: np.intersect1d(a, b, assume_unique=True),
            [decoded[t][0] for t in plan.must])
    neg = [decoded[t][0] for t in plan.must_not if t in decoded]
    if neg:
        neg_all = functools.reduce(np.union1d, neg)
        exclude = (neg_all if exclude is None or not exclude.size
                   else np.union1d(exclude, neg_all))
    return restrict, exclude


def _topk_from_decoded(
    decoded: Dict[str, tuple],
    plan: QueryPlan,
    avgdl: float,
    k: Optional[int],
    restrict: np.ndarray | None = None,
    exclude: np.ndarray | None = None,
    allow: np.ndarray | None = None,
) -> Tuple[np.ndarray, np.ndarray]:
    """Shared top-k arithmetic over already-decoded posting arrays: per-term
    BM25, ascending-term concatenation, per-doc reduceat sum, optional
    conjunctive ``plan.require`` filter, optional ``restrict`` doc set
    (the plan's match gate), optional ``allow`` doc set (filter context —
    possibly EMPTY, which admits nothing; None means unfiltered), optional
    ``exclude`` doc set (tombstoned deletes and prohibited terms, dropped
    from every term before scoring so conjunctive counts stay exact),
    (score desc, doc_id asc) lexsort — skipped when ``k`` is None."""
    ids_all: List[np.ndarray] = []
    scores_all: List[np.ndarray] = []
    for term in sorted(plan.weights):  # deterministic sum order
        if term not in decoded:
            continue
        ids, tfs, dls = decoded[term][:3]
        if restrict is not None:
            keep = np.isin(ids, restrict, assume_unique=True)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if allow is not None:
            # filter context: empty allow means NO doc in this segment
            # passes the filter (distinct from allow=None = no filter)
            keep = np.isin(ids, allow, assume_unique=True)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        if exclude is not None and exclude.size:
            keep = np.isin(ids, exclude, assume_unique=True, invert=True)
            ids, tfs, dls = ids[keep], tfs[keep], dls[keep]
        ids_all.append(ids)
        scores_all.append(bm25(tfs, dls, plan.weights[term], avgdl)
                          * plan.qtf.get(term, 1))
    if not ids_all:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    ids = np.concatenate(ids_all)
    if ids.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    scores = np.concatenate(scores_all)
    order = np.argsort(ids, kind="stable")
    ids, scores = ids[order], scores[order]
    uniq, start = np.unique(ids, return_index=True)
    sums = np.add.reduceat(scores, start)
    if plan.require > 0:
        counts = np.diff(np.append(start, ids.size))
        keep = counts == plan.require
        uniq, sums = uniq[keep], sums[keep]
    if k is None:
        return uniq, sums
    # local top-k by (score desc, doc_id asc); a full lexsort is cheap at
    # segment granularity (uniq.size <= segment_size) and keeps tie-breaks
    # exact even when many docs share the kth score
    o = np.lexsort((uniq, -sums))[:k]
    return uniq[o], sums[o]


def _phrase_matched_docs(
    decoded: Dict[str, tuple],
    qterms: List[str],
) -> np.ndarray:
    """Docs of one segment matching ``qterms`` at consecutive positions.

    ``decoded``: term -> (ids, tfs, dls, positions) with positions flat per
    posting (length tf runs).  Posting-list intersection over the distinct
    terms, then position adjacency: doc matches iff some p has qterms[i] at
    p+i for all i.  Returns a sorted int64 doc array (possibly empty)."""
    distinct_terms = sorted(set(qterms))
    empty = np.empty(0, dtype=np.int64)
    if any(t not in decoded for t in distinct_terms):
        return empty  # a term absent from this segment -> no phrase hit
    common = decoded[distinct_terms[0]][0]
    for t in distinct_terms[1:]:
        common = np.intersect1d(common, decoded[t][0], assume_unique=True)
    if common.size == 0:
        return empty

    posmap: Dict[str, tuple] = {}
    for t in distinct_terms:
        ids, tfs, _dls, pos = decoded[t]
        ends = np.cumsum(tfs)
        starts = ends - tfs
        posmap[t] = ({int(d): i for i, d in enumerate(ids)}, starts, ends, pos)

    matched: List[int] = []
    for d in common:
        d = int(d)
        idx0, st0, en0, p0 = posmap[qterms[0]]
        j = idx0[d]
        cand = p0[st0[j]:en0[j]]
        for i, t in enumerate(qterms[1:], 1):
            idxt, st, en, pt = posmap[t]
            jt = idxt[d]
            cand = cand[np.isin(cand + i, pt[st[jt]:en[jt]])]
            if cand.size == 0:
                break
        if cand.size:
            matched.append(d)
    return np.asarray(matched, dtype=np.int64)


def _min_span(seqs: List[np.ndarray]) -> int:
    """Smallest max(p)-min(p) over one position chosen from each sorted
    sequence — the classic k-list minimal-window sweep over the merged
    position stream (two pointers + per-list counts)."""
    k = len(seqs)
    if k == 1:
        return 0 if len(seqs[0]) else np.iinfo(np.int64).max
    allpos = np.concatenate(seqs)
    labels = np.repeat(np.arange(k), [len(s) for s in seqs])
    o = np.argsort(allpos, kind="stable")
    allpos, labels = allpos[o], labels[o]
    counts = np.zeros(k, dtype=np.int64)
    missing, left = k, 0
    best = np.iinfo(np.int64).max
    for right in range(allpos.size):
        lb = labels[right]
        if counts[lb] == 0:
            missing -= 1
        counts[lb] += 1
        while missing == 0:
            span = int(allpos[right] - allpos[left])
            if span < best:
                best = span
            ll = labels[left]
            counts[ll] -= 1
            if counts[ll] == 0:
                missing += 1
            left += 1
    return best


def _near_matched_docs(
    decoded: Dict[str, tuple],
    qterms: List[str],
    window: int,
) -> np.ndarray:
    """Docs of one segment whose DISTINCT query terms all co-occur within
    ``window`` token positions: some choice of one occurrence per term has
    max(position) - min(position) <= window, any order (Lucene-span-style
    unordered proximity; window=1 admits exactly the two-term adjacency
    pairs in either order).  Same decoded shape as _phrase_matched_docs."""
    distinct_terms = sorted(set(qterms))
    empty = np.empty(0, dtype=np.int64)
    if any(t not in decoded for t in distinct_terms):
        return empty
    common = decoded[distinct_terms[0]][0]
    for t in distinct_terms[1:]:
        common = np.intersect1d(common, decoded[t][0], assume_unique=True)
    if common.size == 0:
        return empty

    posmap: Dict[str, tuple] = {}
    for t in distinct_terms:
        ids, tfs, _dls, pos = decoded[t]
        ends = np.cumsum(tfs)
        starts = ends - tfs
        posmap[t] = ({int(d): i for i, d in enumerate(ids)}, starts, ends,
                     pos)

    matched: List[int] = []
    for d in common:
        d = int(d)
        seqs = []
        for t in distinct_terms:
            idxt, st, en, pt = posmap[t]
            j = idxt[d]
            seqs.append(pt[st[j]:en[j]])
        if _min_span(seqs) <= window:
            matched.append(d)
    return np.asarray(matched, dtype=np.int64)


def align_phrase_positions(
    query_terms: List[str],
    pos_of_term: Dict[str, Sequence[int]],
) -> List[Tuple[int, int, float]]:
    """Reference bestPhrases semantics (search_pdfs.go:382-484) computed
    from per-QUERY-term position sets — the shape the index's term
    positions (pos_bin) provide, so span construction never needs the full
    token stream: for every candidate alignment start, the phrase score is
    the number of query terms found at their expected consecutive
    positions; only max-score phrases survive.  Returns
    [(first_token_pos, last_token_pos, score)] in (first, last) order.

    Token position p holds query term qt  iff  p ∈ pos_of_term[qt], which
    is exactly the ``doc_terms[p] == qt`` test of the token-stream form —
    the two entry points are behaviorally identical by construction (and
    pinned so by test)."""
    if not query_terms or not pos_of_term:
        return []
    possets = {t: set(map(int, ps)) for t, ps in pos_of_term.items()}

    cand_starts = set()
    for i, qt in enumerate(query_terms):
        for p in possets.get(qt, ()):
            cand_starts.add(p - i)
    if not cand_starts:
        return []
    best: List[Tuple[int, int, int]] = []  # (score, first_pos, last_pos)
    for s0 in cand_starts:
        aligned = [
            s0 + i
            for i, qt in enumerate(query_terms)
            if s0 + i in possets.get(qt, ())
        ]
        if aligned:
            best.append((len(aligned), aligned[0], aligned[-1]))
    if not best:
        return []
    max_score = max(b[0] for b in best)
    spans: List[Tuple[int, int, float]] = []
    seen = set()
    for score, first, last in sorted(best, key=lambda b: (b[1], b[2])):
        if score != max_score:
            continue
        key = (first, last)
        if key in seen:
            continue
        seen.add(key)
        spans.append((first, last, float(score)))
    return spans


def align_phrase(
    doc_terms: List[str],
    offsets: List[Tuple[int, int]],
    query_terms: List[str],
) -> List[Tuple[int, int, float]]:
    """Token-stream form of bestPhrases (used when the index stores no
    positions): builds the per-term position sets from the analyzed doc and
    maps the winning token spans to [(char_start, char_end, score)]."""
    if not query_terms or not doc_terms:
        return []
    positions: dict = {}
    for p, t in enumerate(doc_terms):
        positions.setdefault(t, []).append(p)
    return [
        (offsets[first][0], offsets[last][1], score)
        for first, last, score in align_phrase_positions(query_terms, positions)
    ]


def line_lookup(text: str, char_start: int) -> Tuple[int, str]:
    """1-based line number + line text for a char offset (reference:
    search_pdfs.go:547-584, binary search over line endings)."""
    lines = text.split("\n")
    ends = np.cumsum([len(l) + 1 for l in lines])
    ln = int(np.searchsorted(ends, char_start, side="right"))
    ln = min(ln, len(lines) - 1)
    return ln + 1, lines[ln]


FRAGMENT_CONTEXT = 60


def make_fragment(text: str, spans, context: int = FRAGMENT_CONTEXT) -> str:
    """Ellipsized highlight fragment for a hit (reference Fragment
    semantics: search_pdfs.go:50,189-192 NewHighlight): the best-scoring
    span (earliest on ties) expanded ~context chars each side, snapped to
    word boundaries, with '…' marking clipped edges."""
    if not spans:
        return ""
    cs, ce, _ = max(spans, key=lambda s: (s[2], -s[0]))
    lo = max(0, cs - context)
    hi = min(len(text), ce + context)
    if lo > 0:
        sp = text.find(" ", lo, cs)
        if sp != -1:
            lo = sp + 1
    if hi < len(text):
        sp = text.rfind(" ", ce, hi)
        if sp != -1:
            hi = sp
    frag = text[lo:hi]
    if lo > 0:
        frag = "…" + frag
    if hi < len(text):
        frag = frag + "…"
    return frag
