"""Seeded input generators for the benchmark.

Everything the engine workload gives pysearch comes from here: webtext
parquet tables (Zipfian text over a fixed pseudo-word vocabulary) and query
logs drawn from a table's vocabulary by document-frequency class.  The
same seed and parameters always give byte-identical files; outputs are
cached under the work directory keyed by both, since they are inputs and
not code under test.  (The operator workload reads the registry's own
fixed tables under ``data/`` instead.)

    python3 perfbench/gen.py --selftest     # determinism self-test
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 4
VOCAB_SIZE = 50_000
ZIPF_S = 1.0
ZIPF_Q = 2.7          # Zipf-Mandelbrot offset: p(r) ∝ 1 / (r + q)^s
MEAN_DOC_TOKENS = 240
DOC_SIGMA = 0.6       # lognormal shape of doc lengths
HTML_FRAC = 0.05      # rows that carry only html
DE_FRAC = 0.2         # rows in German
EPOCH = dt.datetime(2024, 1, 1)

_CONS = "bdfghjklmnprstvz"
_VOWELS = "aeiou"


def vocabulary() -> np.ndarray:
    """VOCAB_SIZE distinct three-syllable pseudo-words, independent of the
    seed; rank r (0 = most frequent) is word r."""
    syl = [c + v for c in _CONS for v in _VOWELS]
    n = len(syl) ** 3
    # a fixed affine walk over the syllable space spreads neighbouring ranks
    # across unrelated spellings
    idx = (np.arange(VOCAB_SIZE, dtype=np.int64) * 7919 + 104729) % n
    b = len(syl)
    return np.array([syl[i // (b * b)] + syl[(i // b) % b] + syl[i % b]
                     for i in idx.tolist()], dtype=object)


def _zipf_p() -> np.ndarray:
    p = 1.0 / (np.arange(VOCAB_SIZE) + ZIPF_Q) ** ZIPF_S
    return p / p.sum()


def _lang_ranks() -> np.ndarray:
    """Rank -> word-id map for ``de`` docs: a fixed permutation, so the two
    languages share a vocabulary but not their head terms."""
    return np.random.default_rng(7).permutation(VOCAB_SIZE)


def _escape_html(text: str) -> str:
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def make_webtext(seed: int, n_docs: int, tag: str = "base",
                 dup_frac: float = 0.05, dup_pool=None):
    """One webtext table as (pyarrow.Table, token ids per doc).

    Rows: url, warc_ts, html, text, lang.  About ``dup_frac`` of the rows
    repeat earlier content (half exact copies under a new url, half near
    copies with one token changed); ``dup_pool`` (a list of texts) makes the
    exact copies come from outside this table, as for a micro-batch that
    re-sends already-indexed pages.  HTML_FRAC of the rows carry only
    ``html`` (text null), so the build's extraction UDF has real work."""
    rng = np.random.default_rng([seed, _tag_key(tag)])
    words = vocabulary()
    p = _zipf_p()
    de_map = _lang_ranks()
    lens = np.clip(np.rint(rng.lognormal(
        np.log(MEAN_DOC_TOKENS) - DOC_SIGMA ** 2 / 2, DOC_SIGMA, n_docs)),
        8, 4000).astype(np.int64)
    ranks = rng.choice(VOCAB_SIZE, size=int(lens.sum()), p=p)
    is_de = rng.random(n_docs) < DE_FRAC
    offs = np.concatenate([[0], np.cumsum(lens)])
    ids = []
    for i in range(n_docs):
        r = ranks[offs[i]:offs[i + 1]]
        ids.append(de_map[r] if is_de[i] else r)
    texts = [" ".join(words[t]) for t in ids]
    # duplicates: overwrite a seeded slice of rows with earlier content
    n_dup = int(round(dup_frac * n_docs))
    dup_rows = rng.choice(np.arange(1, n_docs), size=n_dup, replace=False)
    for j, row in enumerate(sorted(dup_rows.tolist())):
        if dup_pool is not None and j % 2 == 0:
            texts[row] = dup_pool[int(rng.integers(len(dup_pool)))]
            ids[row] = None
            continue
        src = int(rng.integers(row))
        t = np.array(ids[src] if ids[src] is not None
                     else [], dtype=np.int64)
        if j % 2 == 1 and len(t):
            t = t.copy()
            t[int(rng.integers(len(t)))] = int(rng.integers(VOCAB_SIZE))
            texts[row] = " ".join(words[t])
        else:
            texts[row] = texts[src]
        ids[row] = t
        is_de[row] = is_de[src]
    html_only = rng.random(n_docs) < HTML_FRAC
    html = [(f"<html><body><pre>{_escape_html(t)}</pre></body></html>"
             .encode() if h else None) for t, h in zip(texts, html_only)]
    text = [None if h else t for t, h in zip(texts, html_only)]
    urls = [f"https://site{int(h)}.example/{tag}/{seed}/{i:07d}"
            for i, h in enumerate(rng.integers(0, 997, n_docs))]
    ts = [EPOCH + dt.timedelta(seconds=int(s))
          for s in np.sort(rng.integers(0, 30 * 86400, n_docs))]
    table = pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.where(is_de, "de", "en").tolist(), pa.string()),
    })
    return table, ids, texts


def _tag_key(tag: str) -> int:
    return int.from_bytes(hashlib.sha256(tag.encode()).digest()[:4], "little")


def doc_freq(ids) -> np.ndarray:
    """Per-word document frequency over a table's token-id lists."""
    df = np.zeros(VOCAB_SIZE, dtype=np.int64)
    for t in ids:
        if t is not None and len(t):
            df[np.unique(t)] += 1
    return df


# query-log schedule: (mode, df class) of each query, repeating every 20
# queries, so every seed and every prefix of a log has the same mix: any 40%,
# all 15%, phrase 10%, page 2 10%, count 10%, fuzzy 15%; of the non-phrase
# queries 7 rare, 6 mid, 4 head and 1 heavy per 18
SCHEDULE = (
    ("any", "rare"), ("all", "mid"), ("any", "head"), ("phrase", "phrase"),
    ("count", "rare"), ("any", "mid"), ("fuzzy", "rare"), ("page2", "head"),
    ("any", "rare"), ("all", "head"), ("any", "mid"), ("fuzzy", "mid"),
    ("count", "head"), ("any", "rare"), ("phrase", "phrase"), ("page2", "mid"),
    ("all", "rare"), ("any", "heavy"), ("fuzzy", "rare"), ("any", "mid"),
)
# heavy queries take the HEAVY_TERMS words of highest df, the same words
# on every seed (only their order varies): drawn from a wider pool, the
# heavy call's latency moved with the seed's pick
HEAVY_TERMS = 7


def df_classes(df: np.ndarray, n_docs: int) -> dict:
    """Word ids by df class: rare (3-30 docs), mid (1%-5% of docs), head
    (>= 25% of docs) and heavy (the HEAVY_TERMS words of highest df)."""
    return {
        "rare": np.flatnonzero((df >= 3) & (df <= 30)),
        "mid": np.flatnonzero((df >= 0.01 * n_docs) & (df <= 0.05 * n_docs)),
        "head": np.flatnonzero(df >= 0.25 * n_docs),
        "heavy": np.argsort(-df, kind="stable")[:HEAVY_TERMS],
    }


def make_query_log(seed: int, ids, n_docs: int, n_queries: int,
                   tag: str = "q") -> list:
    """A seeded query log over one table's vocabulary: a list of
    ``{"qid", "kind", "cls", "q"}``.  Terms come from the df class the
    query is drawn in; phrase queries copy a 2-3 token run of a real doc so
    they have hits; fuzzy queries misspell one term by one edit; heavy
    queries take the HEAVY_TERMS heavy words (df about 0.67-0.81 x n_docs
    each), so their candidate volume is about 5 x n_docs postings or
    more.  Modes and classes follow
    ``SCHEDULE``; the seed picks the terms."""
    rng = np.random.default_rng([seed, _tag_key(tag)])
    words = vocabulary()
    classes = df_classes(doc_freq(ids), n_docs)
    docs_with_ids = [t for t in ids if t is not None and len(t) >= 3]
    out = []
    for i in range(n_queries):
        kind, cls = SCHEDULE[i % len(SCHEDULE)]
        if kind == "phrase":
            t = docs_with_ids[int(rng.integers(len(docs_with_ids)))]
            n = int(rng.integers(2, 4))
            s = int(rng.integers(len(t) - n + 1))
            q = " ".join(words[t[s:s + n]])
        else:
            pool = classes[cls]
            if cls == "heavy":
                terms = [str(w) for w in words[rng.choice(
                    pool, size=HEAVY_TERMS, replace=False)]]
            else:
                n = int(rng.integers(1, 6)) if kind != "fuzzy" else int(
                    rng.integers(1, 3))
                terms = [str(w) for w in words[rng.choice(pool, size=n)]]
            if kind == "fuzzy":
                w = terms[0]
                pos = int(rng.integers(1, len(w)))
                terms[0] = w[:pos] + ("a" if w[pos] != "a" else "e") \
                    + w[pos + 1:] + "~1"
            q = " ".join(terms)
        out.append({"qid": f"q{i:04d}", "kind": kind, "cls": cls, "q": q})
    return out


# ---------------------------------------------------------------------------
# cache
# ---------------------------------------------------------------------------

def _write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(table, tmp, compression="zstd", row_group_size=8192)
    os.replace(tmp, path)


class InputCache:
    """Generated inputs under ``root``, keyed by generator version, kind,
    seed and parameters.  A hit returns the cached files unchanged."""

    def __init__(self, root: str):
        self.root = root

    def _dir(self, kind: str, **params) -> str:
        key = json.dumps({"v": GEN_VERSION, "kind": kind, **params},
                         sort_keys=True)
        h = hashlib.sha256(key.encode()).hexdigest()[:16]
        return os.path.join(self.root, f"{kind}-{h}")

    def webtext(self, seed: int, n_docs: int, tag: str = "base",
                n_queries: int = 0, **kw) -> dict:
        """Cached webtext parquet + its query log + its texts' df summary:
        ``{"path", "queries", "n_docs", "text_bytes"}``."""
        d = self._dir("webtext", seed=seed, n_docs=n_docs, tag=tag,
                      n_queries=n_queries, **{k: v for k, v in kw.items()
                                              if k != "dup_pool"},
                      pool=_pool_key(kw.get("dup_pool")))
        meta_path = os.path.join(d, "meta.json")
        if not os.path.exists(meta_path):
            table, ids, texts = make_webtext(seed, n_docs, tag, **kw)
            _write_parquet(table, os.path.join(d, "webtext.parquet"))
            meta = {
                "n_docs": n_docs,
                "text_bytes": sum(len(t.encode()) for t in texts),
                "queries": (make_query_log(seed, ids, n_docs, n_queries,
                                           tag=f"{tag}-q")
                            if n_queries else []),
                "texts_sample": texts[: max(1, n_docs // 10)],
            }
            _write_json(meta_path, meta)
        with open(meta_path) as f:
            meta = json.load(f)
        meta["path"] = os.path.join(d, "webtext.parquet")
        return meta


def _pool_key(pool) -> str | None:
    if not pool:
        return None
    h = hashlib.sha256()
    for t in pool:
        h.update(t.encode())
        h.update(b"\0")
    return h.hexdigest()[:16]


def _write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, sort_keys=True)
    os.replace(path + ".tmp", path)


def _digest_dir(d: str) -> dict:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def selftest(root: str, seed: int = 11) -> None:
    """Generate every input kind twice into fresh directories and require
    byte-identical files; a different seed must change them.  Raises
    AssertionError on failure."""
    import shutil

    digests = []
    for run in ("a", "b", "c"):
        d = os.path.join(root, f"selftest-{run}")
        shutil.rmtree(d, ignore_errors=True)
        c = InputCache(d)
        s = seed if run != "c" else seed + 1
        w = c.webtext(s, 300, tag="selftest", n_queries=40)
        c.webtext(s, 100, tag="selftest-batch", dup_pool=w["texts_sample"])
        digests.append({sub: _digest_dir(os.path.join(d, sub))
                        for sub in sorted(os.listdir(d))})
        shutil.rmtree(d)
    if digests[0] != digests[1]:
        raise AssertionError("generator is not deterministic for one seed")
    if digests[0] == digests[2]:
        raise AssertionError("generator ignores its seed")


if __name__ == "__main__":
    if sys.argv[1:] == ["--selftest"]:
        root = os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".perfbench", "gen-selftest")
        selftest(root)
        print("gen selftest ok")
    else:
        print(__doc__)
        sys.exit(2)
