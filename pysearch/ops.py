"""Operator registry for the driver contract (__spark_entry__).

Each op is registered as ``name -> (spark_builder, oracle_sql)`` where the
builder is ``(spark, sf_dir) -> DataFrame`` (idiomatic DataFrame API) and
``oracle_sql`` is the equivalent ANSI/DuckDB SQL over the same parquet tables
(views: region nation customer supplier part orders lineitem events documents
embeddings).  Column names and value semantics are aligned on both sides so
the driver's order-insensitive value-hash comparison passes.

Names key back to SURVEY.md §2's operator inventory (a2 = aggregations row 2,
t1 = top-k, p4 = dedup, j1 = query-term join, ...) plus the training-data
pipeline families: dd_* dedup, ann_* similarity search, tx_* text analysis,
rel_* relational coverage.

Portability notes (both engines must produce bit-identical values):
- tokens = split(text, ' ') with empty strings dropped;
- portable 32-bit term hash = first 8 hex chars of md5, parsed base-16
  (Spark ``conv(...,16,10)`` == DuckDB ``('0x'||...)::bigint``);
- floats rounded via round(x, 4) after identical-op-order arithmetic;
- cosine = explicit dot/(norm*norm) with sequential accumulation, not an
  engine-specific builtin with unknown summation order.
"""

from __future__ import annotations

from typing import Callable, Dict, Optional, Tuple

from pysearch import gate

OPS: Dict[str, Tuple[Callable, Optional[str]]] = {}


def op(name: str, sql: Optional[str]):
    def deco(fn):
        OPS[name] = (fn, sql)
        return fn
    return deco


def _t(spark, sf_dir: str, name: str):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tokens(spark, sf_dir):
    """(doc_id, term) exploded token table — the shared scan for text ops."""
    from pyspark.sql import functions as F

    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' '), x -> x != '')")).alias("term"),
    )


_TOK_CTE = (
    "WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),"
    " x -> x <> '')) AS term FROM documents)"
)

# portable md5-based 32-bit hash (see module docstring)
_HEX_SPARK = "cast(conv(substr(md5({x}), 1, 8), 16, 10) as bigint)"
_HEX_DUCK = "(('0x' || substr(md5({x}), 1, 8))::bigint)"


# ---------------------------------------------------------------------------
# fulltext family (SURVEY §2 inventory)
# ---------------------------------------------------------------------------

@op("a1_corpus_stats", f"""
{_TOK_CTE}, dl AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id)
SELECT count(*) AS n_docs, sum(n_tok)::BIGINT AS total_tokens,
       round(avg(n_tok), 4) AS avgdl_r
FROM dl
""")
def a1_corpus_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _tokens(spark, sf_dir)
        .groupBy("doc_id").agg(F.count("*").alias("n_tok"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.avg("n_tok"), 4).alias("avgdl_r"),
        )
    )


@op("a2_term_df_top50", f"""
{_TOK_CTE}
SELECT term, count(DISTINCT doc_id) AS df FROM tok
GROUP BY term ORDER BY df DESC, term LIMIT 50
""")
def a2_term_df_top50(spark, sf_dir):
    """df per term == docs containing it: dedupe terms WITHIN each doc
    array-natively (array_distinct — map-side, free) so the aggregate is
    a plain partially-aggregated count; the countDistinct form paid a
    second (term, doc_id) exchange for the same integers."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "documents")
        .select(F.explode(F.expr(
            "array_distinct(filter(split(text, ' '), x -> x != ''))"
        )).alias("term"))
        .groupBy("term").agg(F.count("*").alias("df"))
        .orderBy(F.desc("df"), "term").limit(50)
    )


@op("a2_term_cf_top50", f"""
{_TOK_CTE}
SELECT term, count(*) AS cf FROM tok
GROUP BY term ORDER BY cf DESC, term LIMIT 50
""")
def a2_term_cf_top50(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _tokens(spark, sf_dir)
        .groupBy("term").agg(F.count("*").alias("cf"))
        .orderBy(F.desc("cf"), "term").limit(50)
    )


_BM25_TERMS = ("spark", "join", "fast")

@op("t1_bm25_top10", f"""
{_TOK_CTE},
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(term) AS (VALUES {",".join(f"('{t}')" for t in _BM25_TERMS)}),
dfq AS (SELECT tf.term, count(*)::DOUBLE AS df FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN dfq ON tf.term = dfq.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 4) AS score_r FROM sc ORDER BY s DESC, doc_id LIMIT 10
""")
def t1_bm25_top10(spark, sf_dir):
    """BM25 (k1=1.2, b=0.75) OR-of-terms top-10 — the engine's scoring
    semantics expressed as a pure Catalyst plan, SQL-checkable against
    DuckDB.  The query terms are a compile-time tuple, so the per-term tf
    is PIVOTED into columns of ONE per-doc aggregate: dl, corpus stats,
    df, and the score all derive from that single token-scan (the r5 form
    re-ran the token explode once per consumer — 8 scans / 26 exchanges
    in the executed plan; this is 1 scan / 2 exchanges).  Identical
    values: same float64 op order per contribution, zero-contribution
    terms add exact 0.0, docs with no query term are filtered out as the
    tf⋈q inner join did."""
    from functools import reduce
    from operator import or_

    from pyspark.sql import functions as F

    ts = list(_BM25_TERMS)
    per_doc = _tokens(spark, sf_dir).groupBy("doc_id").agg(
        F.count("*").cast("double").alias("dl"),
        *[F.sum(F.when(F.col("term") == t, 1).otherwise(0))
          .cast("double").alias(f"tf{i}") for i, t in enumerate(ts)],
    )
    st = per_doc.agg(
        F.count("*").cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0))
          .cast("double").alias(f"df{i}") for i in range(len(ts))],
    )
    contribs = [
        F.when(
            F.col(f"tf{i}") > 0,
            F.log(1 + (F.col("n") - F.col(f"df{i}") + 0.5)
                  / (F.col(f"df{i}") + 0.5))
            * (F.col(f"tf{i}") * 2.2)
            / (F.col(f"tf{i}")
               + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / F.col("avgdl"))),
        ).otherwise(F.lit(0.0))
        for i in range(len(ts))
    ]
    return (
        per_doc.crossJoin(F.broadcast(st))
        .filter(reduce(or_, [F.col(f"tf{i}") > 0 for i in range(len(ts))]))
        .select("doc_id", reduce(lambda a, b: a + b, contribs).alias("s"))
        .orderBy(F.desc("s"), "doc_id").limit(10)
        .select("doc_id", F.round("s", 4).alias("score_r"))
    )


_BM25_SQL = f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        x -> x <> '')) AS term FROM dedup),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(term) AS (VALUES {",".join(f"('{t}')" for t in _BM25_TERMS)}),
dfq AS (SELECT tf.term, count(*)::DOUBLE AS df FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN dfq ON tf.term = dfq.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 4) AS score_r FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


# (applicationId, sf_dir) -> source content fingerprint; see _source_fp
_ENGINE_FP_CACHE: dict = {}

# (applicationId, index_dir, at_version) -> Searcher.  The Lucene
# open-IndexReader analog: a Searcher holds only index METADATA (corpus
# stats, term-df cache, table frames) — never query results — and its
# default on_stale="refresh" re-loads whenever the on-disk index changes
# (manifest stat check per search), so reuse is always consistent.
# Re-constructing one per op invocation re-ran the table reads and
# manifest/commit walks every time — pure fixed overhead at bench/driver
# time.  Keyed by applicationId so a new Spark session starts clean.
_SEARCHER_CACHE: dict = {}


def _live_cache(cache: dict, spark) -> str:
    """Drop ``cache``'s entries of other Spark applications (key[0] is the
    applicationId), so a stopped session's Searchers — and the catalog
    arrays they hold — are released; returns the live applicationId."""
    app = spark.sparkContext.applicationId
    for key in [key for key in cache if key[0] != app]:
        del cache[key]
    return app


def _get_searcher(spark, index_dir: str, at_version=None):
    from pysearch.query import Searcher

    key = (_live_cache(_SEARCHER_CACHE, spark), index_dir, at_version)
    s = _SEARCHER_CACHE.get(key)
    if s is None:
        s = Searcher(spark, index_dir, at_version=at_version)
        _SEARCHER_CACHE[key] = s
    return s


def _source_fingerprint(docs) -> str:
    """Content fingerprint of the engine source table: count + an
    order-insensitive row hash.  One full scan — callers cache the result
    per (application, sf_dir)."""
    from pyspark.sql import functions as F

    fp_row = docs.agg(
        F.count("*").alias("n"),
        F.sum(
            F.crc32(F.encode(F.concat_ws("|", F.col("doc_id").cast("string"),
                                         "text"), "utf-8"))
        ).alias("h"),
    ).collect()[0]
    return f"{fp_row['n']}:{fp_row['h']}"


def _source_fp(spark, sf_dir, docs) -> str:
    """``_source_fingerprint(docs)`` cached per (application, sf_dir): the
    fingerprint scan is a full source read, so the engine-backed ops do not
    re-scan the source table once per invocation, while a new SparkSession
    (new app id) re-fingerprints and still detects regenerated data."""
    key = (_live_cache(_ENGINE_FP_CACHE, spark), sf_dir)
    if key not in _ENGINE_FP_CACHE:
        _ENGINE_FP_CACHE[key] = _source_fingerprint(docs)
    return _ENGINE_FP_CACHE[key]


# the engine fixtures' catalog urls carry the source doc_id: _webtext writes
# the prefix plus the id zero-padded to 9 digits, _source_id reads it back
_URL_PREFIX = "doc://docs/"


def _webtext(docs, *cols):
    """``docs`` (the source table) as engine input: the source doc_id
    encoded as the url, plus ``cols``."""
    from pyspark.sql import functions as F

    return docs.select(
        F.format_string(_URL_PREFIX + "%09d", F.col("doc_id")).alias("url"),
        *cols)


def _source_id(url):
    """The source doc_id a ``_webtext`` url column encodes, as a long."""
    from pyspark.sql import functions as F

    return F.substring(url, len(_URL_PREFIX) + 1, 9).cast("long")


def _ensure_index(spark, sf_dir, tag: str, make):
    """The one build-or-reuse rule of the ops' fixture indexes under /tmp.

    The variant ``tag`` ("" for the shared index) names the directory.  A
    fixture is reused iff its manifest carries the stamp
    ``source fingerprint|INDEX_FORMAT_VERSION|tag``, which is written as
    the LAST step — so a regenerated source, a format bump, another
    variant and a build that died half way all fail the check.  Otherwise
    the directory is removed and ``make(index_dir, docs)`` builds it from
    scratch over the source ``docs``, returning any extra manifest fields.
    Returns (index_dir, manifest)."""
    import os
    import shutil

    from pysearch.lineage import IndexLayout
    from pysearch.session import ship_package
    from pysearch.version import INDEX_FORMAT_VERSION

    # the driver may own this session: the build's pandas UDFs need the
    # package on the executors
    ship_package(spark)
    docs = _t(spark, sf_dir, "documents")
    label = os.path.basename(sf_dir.rstrip("/"))
    index_dir = f"/tmp/pysearch_ops_index_{label}" + (f"_{tag}" if tag else "")
    stamp = f"{_source_fp(spark, sf_dir, docs)}|{INDEX_FORMAT_VERSION}|{tag}"
    layout = IndexLayout(index_dir)
    m = layout.read_manifest()
    if m.get("source_fp") != stamp:
        shutil.rmtree(index_dir, ignore_errors=True)
        extra = make(index_dir, docs) or {}
        m = {**layout.read_manifest(), **extra, "source_fp": stamp}
        layout.write_manifest(m)
    return index_dir, m


def _engine_index(spark, sf_dir) -> str:
    """The shared engine index over `documents` (simple analyzer,
    positions stored)."""
    from pysearch.build import build_index

    def make(index_dir, docs):
        build_index(spark, _webtext(docs, "text", "lang"), index_dir,
                    segment_size=128, analyzer="simple",
                    store_positions=True)

    return _ensure_index(spark, sf_dir, "", make)[0]


def _source_catalog(s):
    """The Searcher's cached case-0 catalog with the source ids of its urls
    memoized as ``src_id``, or None above the catalog gate."""
    import numpy as np
    import pandas as pd

    cat = s._catalog("0")
    if cat is not None and "src_id" not in cat:
        cat["src_id"] = pd.Series(cat["url"]).str.slice(
            len(_URL_PREFIX)).astype(np.int64).to_numpy()
    return cat


def _hits_to_source_ids(spark, s, hits):
    """Engine hits ``(doc_id, score)`` of Searcher ``s`` as source
    ``(doc_id, score_r)`` rows: an O(hits) searchsorted over the cached
    catalog map, or a broadcast join with the docs table above the catalog
    gate."""
    from pyspark.sql import functions as F

    from pysearch.query import catalog_take

    schema = "doc_id long, score_r double"
    out = hits.assign(score_r=hits["score"].round(4))
    cat = _source_catalog(s)
    if cat is not None:
        out = out.assign(doc_id=catalog_take(cat, "src_id", hits["doc_id"]))
        return spark.createDataFrame(out[["doc_id", "score_r"]], schema)
    return (
        spark.createDataFrame(out[["doc_id", "score_r"]], schema)
        .join(F.broadcast(s.docs.select("doc_id", "url")), "doc_id")
        .select(_source_id("url").alias("doc_id"), "score_r")
    )


def _search_to_source_ids(spark, index_dir, mode: str, terms=None,
                          at_version=None, window=None, filter_source=None,
                          offset: int = 0, exclude_source_ids=None):
    """Run the query through the engine at ``index_dir`` and map engine
    doc_ids back to the source table's doc_id via the catalog url (robust
    even when content dedupe dropped duplicate texts).  ``at_version``
    pins the search to an archived snapshot (time-travel read);
    ``window`` is the mode="near" proximity window.

    ``filter_source`` is a DataFrame of SOURCE doc_ids to admit (filter
    context), ``exclude_source_ids`` a numpy array of SOURCE ids to drop.
    When the Searcher's catalog is cached (its LOCAL_MAX_CATALOG gate),
    both map to engine ids through it — the filter set is collected in
    one column-pruned scan — and feed the engine's driver-side filter path
    (no distributed job for the whole filtered query); otherwise they
    become a distributed semi-/anti-join of the docs table on url."""
    import numpy as np
    import pandas as pd

    s = _get_searcher(spark, index_dir, at_version=at_version)
    s._check_fresh()  # the catalog below must match the searched load
    cat = _source_catalog(s)
    fd = None
    if exclude_source_ids is not None:
        # allowed = every indexed doc NOT in the (bounded) drop set —
        # exact complement of filter_source over the engine catalog
        drop = np.unique(exclude_source_ids)
        if cat is not None:
            fd = cat["doc_id"][~np.isin(cat["src_id"], drop)]
        else:
            urls = _webtext(spark.createDataFrame(
                pd.DataFrame({"doc_id": drop}), schema="doc_id long"))
            fd = s.docs.join(urls, "url", "left_anti").select("doc_id")
    elif filter_source is not None:
        if cat is not None:
            ids = filter_source.toPandas()["doc_id"].to_numpy(np.int64)
            fd = cat["doc_id"][np.isin(cat["src_id"], np.unique(ids))]
        else:
            fd = s.docs.join(_webtext(filter_source), "url",
                             "left_semi").select("doc_id")
    hits = s.search_ids(" ".join(terms or _BM25_TERMS), k=10, case_id="0",
                        mode=mode, window=window, filter_docs=fd,
                        offset=offset)
    return _hits_to_source_ids(spark, s, hits)


def _engine_search(spark, sf_dir, mode: str, terms=None, window=None):
    """The REAL engine end-to-end over `documents`: ensure the shared index,
    search, map back to source doc_ids."""
    return _search_to_source_ids(spark, _engine_index(spark, sf_dir), mode,
                                 terms, window=window)


@op("t1_engine_bm25_top10", _BM25_SQL)
def t1_engine_bm25_top10(spark, sf_dir):
    """The REAL distributed engine (segments, packed blocks, pruning) built
    with the SQL-expressible 'simple' analyzer, value-checked against an
    independent DuckDB BM25 — end-to-end engine correctness, not just a
    re-derivation in Spark SQL."""
    return _engine_search(spark, sf_dir, mode="any")


# conjunctive oracle: identical BM25 chain, but only docs containing ALL
# query terms survive (tf has one row per distinct (doc, term), so
# count(*) == |q| is the intersection test)
_BM25_CONJ_SQL = _BM25_SQL.replace(
    "  GROUP BY tf.doc_id)",
    f"  GROUP BY tf.doc_id HAVING count(*) = {len(_BM25_TERMS)})",
)


@op("t1_engine_conj_top10", _BM25_CONJ_SQL)
def t1_engine_conj_top10(spark, sf_dir):
    """mode="all": BM25-scored posting-list INTERSECTION through the real
    engine (north-rule: "posting-list intersection"), value-checked against
    a conjunctive DuckDB BM25."""
    return _engine_search(spark, sf_dir, mode="all")


_PHRASE_TERMS = ("spark", "join")

# exact-phrase oracle: the full BM25 chain over the phrase's terms,
# conjunctive (both terms present), restricted to docs whose text contains
# the terms CONSECUTIVELY — expressible in SQL because the simple analyzer
# is split-by-single-space and the synthetic texts are single-spaced with
# no leading/trailing spaces (so ' '||text||' ' LIKE '% spark join %' is an
# exact token-phrase test)
_BM25_PHRASE_SQL = f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        x -> x <> '')) AS term FROM dedup),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(term) AS (VALUES {",".join(f"('{t}')" for t in _PHRASE_TERMS)}),
dfq AS (SELECT tf.term, count(*)::DOUBLE AS df FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN dfq ON tf.term = dfq.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id HAVING count(*) = {len(_PHRASE_TERMS)})
SELECT sc.doc_id, round(sc.s, 4) AS score_r
FROM sc JOIN dedup ON sc.doc_id = dedup.doc_id
WHERE contains(' ' || dedup.text || ' ', ' {" ".join(_PHRASE_TERMS)} ')
ORDER BY sc.s DESC, sc.doc_id LIMIT 10
"""


@op("t1_engine_phrase_top10", _BM25_PHRASE_SQL)
def t1_engine_phrase_top10(spark, sf_dir):
    """mode="phrase": exact-phrase top-10 through the REAL engine —
    posting-list intersection + position adjacency from the index-side term
    positions (pos_bin), value-checked against an independent DuckDB BM25
    restricted to docs containing the phrase consecutively."""
    return _engine_search(spark, sf_dir, mode="phrase", terms=_PHRASE_TERMS)


_NEAR_WINDOW = 3

# proximity oracle: the conjunctive BM25 chain over the two terms, but only
# docs where SOME occurrence pair sits within _NEAR_WINDOW token positions
# (any order) survive — token positions are SQL-expressible for the simple
# analyzer via generate_subscripts over the split list (1-based, but only
# position DIFFERENCES enter the window test, matching the engine's 0-based
# token indices)
_BM25_NEAR_SQL = f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tokl AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
         FROM dedup),
tokp AS (SELECT doc_id, unnest(l) AS term, generate_subscripts(l, 1) AS pos
         FROM tokl),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tokp GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tokp GROUP BY doc_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(term) AS (VALUES {",".join(f"('{t}')" for t in _PHRASE_TERMS)}),
dfq AS (SELECT tf.term, count(*)::DOUBLE AS df FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term),
near AS (
  SELECT DISTINCT a.doc_id
  FROM tokp a JOIN tokp b ON a.doc_id = b.doc_id
  WHERE a.term = '{_PHRASE_TERMS[0]}' AND b.term = '{_PHRASE_TERMS[1]}'
    AND abs(a.pos - b.pos) <= {_NEAR_WINDOW}),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN dfq ON tf.term = dfq.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id HAVING count(*) = {len(_PHRASE_TERMS)})
SELECT sc.doc_id, round(sc.s, 4) AS score_r
FROM sc JOIN near ON sc.doc_id = near.doc_id
ORDER BY sc.s DESC, sc.doc_id LIMIT 10
"""


@op("t1_engine_near_top10", _BM25_NEAR_SQL)
def t1_engine_near_top10(spark, sf_dir):
    """mode="near": unordered PROXIMITY retrieval through the REAL engine —
    posting-list intersection plus a minimal-window sweep over the
    index-side term positions (pos_bin; score._near_matched_docs), the
    Lucene-span capability the phrase machinery generalizes to.
    Value-checked against an independent DuckDB BM25 restricted to docs
    whose terms co-occur within the window."""
    return _engine_search(spark, sf_dir, mode="near", terms=_PHRASE_TERMS,
                          window=_NEAR_WINDOW)


# per-term query boosts (the reference's commented-out aspiration,
# search_pdfs.go:176-186): the boost multiplies the term's idf weight, so
# the oracle is the OR-of-terms BM25 with a per-term w factor
_BOOST_W = {"spark": 2.0, "join": 1.0, "fast": 0.5}
_BM25_BOOST_SQL = (
    _BM25_SQL
    .replace(
        "q(term) AS (VALUES "
        + ",".join(f"('{t}')" for t in _BM25_TERMS) + ")",
        "q(term, w) AS (VALUES "
        + ",".join(f"('{t}', {w})" for t, w in _BOOST_W.items()) + ")",
    )
    .replace(
        "dfq AS (SELECT tf.term, count(*)::DOUBLE AS df",
        "dfq AS (SELECT tf.term, any_value(q.w) AS w, count(*)::DOUBLE AS df",
    )
    .replace("sum(ln(", "sum(dfq.w * ln(")
)
assert "q.w" in _BM25_BOOST_SQL and "dfq.w * ln(" in _BM25_BOOST_SQL


@op("t1_engine_boost_top10", _BM25_BOOST_SQL)
def t1_engine_boost_top10(spark, sf_dir):
    """Query-time per-term BOOSTS through the REAL engine (``spark^2.0
    join fast^0.5`` — Lucene caret syntax; query.parse_boosts): each boost
    multiplies its term's idf weight, the one weight that feeds scoring AND
    the WAND/block-max pruning bounds, so boosted queries stay lossless
    under pruning.  Value-checked against a DuckDB BM25 with a per-term
    weight factor."""
    return _engine_search(
        spark, sf_dir, mode="any",
        terms=tuple(f"{t}^{w}" for t, w in _BOOST_W.items()))


# boolean-occurs oracle (Lucene BooleanQuery: MUST 'spark', MUST_NOT
# 'join', SHOULD 'fast'): scoring terms are must+should; the must gate is
# an IN over the tf postings, the must_not gate a NOT IN — both over the
# SAME deduped corpus the engine indexes
_BOOL_MUST, _BOOL_NOT, _BOOL_SHOULD = "spark", "join", "fast"
_BM25_BOOL_SQL = (
    _BM25_SQL
    .replace(
        "q(term) AS (VALUES "
        + ",".join(f"('{t}')" for t in _BM25_TERMS) + ")",
        f"q(term) AS (VALUES ('{_BOOL_MUST}'),('{_BOOL_SHOULD}'))",
    )
    .replace(
        "  GROUP BY tf.doc_id)",
        f"  WHERE tf.doc_id IN (SELECT doc_id FROM tf"
        f" WHERE term = '{_BOOL_MUST}')\n"
        f"    AND tf.doc_id NOT IN (SELECT doc_id FROM tf"
        f" WHERE term = '{_BOOL_NOT}')\n"
        "  GROUP BY tf.doc_id)",
    )
)
assert "NOT IN" in _BM25_BOOL_SQL and f"('{_BOOL_SHOULD}')" in _BM25_BOOL_SQL


@op("t1_engine_bool_top10", _BM25_BOOL_SQL)
def t1_engine_bool_top10(spark, sf_dir):
    """Lucene-BooleanQuery occurs through the REAL engine (``+spark -join
    fast`` — classic +/− syntax; query.parse_boolean →
    Searcher.search_ids_boolean): the doc must contain every MUST term and
    no MUST_NOT term, and scores over the must+should terms it contains.
    Both gates are segment-local posting-list set ops (intersection /
    union-into-excludes) around the shared top-k funnel, so boolean scores
    are bit-identical to the equivalent any/all queries by construction.
    Value-checked against a DuckDB BM25 with IN / NOT IN gates.  (No
    reference analog: the reference exposes only the OR match query,
    search_pdfs.go:187-194.)"""
    return _engine_search(
        spark, sf_dir, mode="boolean",
        terms=(f"+{_BOOL_MUST}", f"-{_BOOL_NOT}", _BOOL_SHOULD))


# facet oracle (Lucene facets analog): aggregate the engine's top-10 by a
# catalog field — hit count and best score per source lang
_BM25_FACET_SQL = _BM25_SQL.replace(
    "SELECT doc_id, round(s, 4) AS score_r FROM sc "
    "ORDER BY s DESC, doc_id LIMIT 10",
    """hits AS (SELECT doc_id, round(s, 4) AS score_r FROM sc
         ORDER BY s DESC, doc_id LIMIT 10)
SELECT d.lang, count(*) AS n_hits, max(h.score_r) AS top_score_r
FROM hits h JOIN documents d ON h.doc_id = d.doc_id
GROUP BY d.lang ORDER BY d.lang""",
).replace("GROUP BY tf.doc_id)", "GROUP BY tf.doc_id),", 1)
assert "hits AS" in _BM25_FACET_SQL and _BM25_FACET_SQL.count("LIMIT 10") == 1


@op("t1_engine_facet_lang", _BM25_FACET_SQL)
def t1_engine_facet_lang(spark, sf_dir):
    """Result FACETING over the engine's ranked hits (the Lucene facets
    model): the real engine's BM25 top-10 joins back to the source
    catalog and aggregates per lang — hit count + best score.  At scale
    this is a broadcast of the k hit rows against the docs table
    (partition-pruned on doc_id at real layouts) and a tiny aggregate;
    the engine ranking itself is unchanged, so the facet values are
    pinned by the same determinism that pins the top-10.  Value-checked
    against the DuckDB BM25 top-10 aggregated the same way."""
    from pyspark.sql import functions as F

    # hits are at most k=10 rows by construction: push them into the docs
    # scan as a literal IN predicate (row-group skipping; at real layouts
    # doc_id partition pruning) and run the k-row facet aggregate driver-
    # side — one pruned scan job instead of scan + broadcast join +
    # aggregate + sort.  Both framings aggregate the SAME joined rows, so
    # the values are unchanged (oracle-checked).
    hits_pdf = _engine_search(spark, sf_dir, mode="any").toPandas()
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    lang_pdf = docs.filter(F.col("doc_id").isin(
        [int(x) for x in hits_pdf["doc_id"]])).toPandas()
    # NULL lang is a group of its own, as in Spark and SQL GROUP BY
    agg = (
        hits_pdf.merge(lang_pdf, on="doc_id")
        .groupby("lang", dropna=False)
        .agg(n_hits=("doc_id", "size"), top_score_r=("score_r", "max"))
        .reset_index()
        .sort_values("lang", kind="stable")
    )
    agg["lang"] = agg["lang"].astype(object).where(agg["lang"].notna(), None)
    return spark.createDataFrame(
        agg, schema="lang string, n_hits long, top_score_r double")


# pagination oracle: the SAME deterministic total order, ranks 11..20
_BM25_PAGE2_SQL = _BM25_SQL.replace(
    "ORDER BY s DESC, doc_id LIMIT 10",
    "ORDER BY s DESC, doc_id LIMIT 10 OFFSET 10")


@op("t1_engine_page2_top10", _BM25_PAGE2_SQL)
def t1_engine_page2_top10(spark, sf_dir):
    """PAGINATION through the real engine (Lucene searchAfter shape):
    ranks 11..20 of the deterministic (score desc, doc_id asc) total
    order via ``search_ids(offset=10)`` — the funnel fetches offset+k and
    slices, so page N costs O(offset+k) (the standard deep-pagination
    tradeoff) and pruning θ is the (offset+k)th score, keeping block-max
    pruning lossless for any page.  Value-checked against the DuckDB BM25
    with LIMIT 10 OFFSET 10."""
    return _search_to_source_ids(spark, _engine_index(spark, sf_dir),
                                 mode="any", offset=10)


# total-hits oracle: match count under mode="any" over the content-deduped
# corpus (the engine's build-time dedupe), no ranking involved
_COUNT_SQL = f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        x -> x <> '')) AS term FROM dedup)
SELECT count(DISTINCT doc_id)::BIGINT AS n_hits FROM tok
WHERE term IN ({",".join(f"'{t}'" for t in _BM25_TERMS)})
"""


@op("t1_engine_count", _COUNT_SQL)
def t1_engine_count(spark, sf_dir):
    """TOTAL-HITS count through the real engine (Lucene
    IndexSearcher.count): how many docs match ANY query term, computed
    per segment from one bucket-pruned block scan — per-segment counts
    are disjoint under doc-range partitioning, so only O(segments) longs
    reach the driver (and a single-term unfiltered count short-circuits
    to term_stats df metadata with no decode at all).  Value-checked
    against a DuckDB COUNT(DISTINCT) over the same deduped corpus."""
    s = _get_searcher(spark, _engine_index(spark, sf_dir))
    n = s.count(" ".join(_BM25_TERMS), case_id="0", mode="any")
    return spark.createDataFrame([(n,)], "n_hits long")


# filter-context oracle (Lucene filtered query): BM25 stats (idf, avgdl,
# n) stay CORPUS-wide — computed over all dedup docs exactly as in
# _BM25_SQL — and the filter only restricts which docs may appear in the
# top-k, so a filtered hit's score is bit-identical to its unfiltered score
_BM25_FILTER_LANG_SQL = _BM25_SQL.replace(
    "SELECT doc_id, round(s, 4) AS score_r FROM sc "
    "ORDER BY s DESC, doc_id LIMIT 10",
    "SELECT sc.doc_id, round(s, 4) AS score_r FROM sc\n"
    "JOIN documents d ON sc.doc_id = d.doc_id WHERE d.lang = 'en'\n"
    "ORDER BY s DESC, sc.doc_id LIMIT 10")


@op("t1_engine_filter_lang_top10", _BM25_FILTER_LANG_SQL)
def t1_engine_filter_lang_top10(spark, sf_dir):
    """FILTERED search through the real engine (the Lucene filter-context
    model): BM25 top-10 restricted to lang='en' source docs, passed as a
    DataFrame of source ids.  Under the Searcher's catalog gate the ids are
    collected in one column-pruned scan and the whole filtered query runs
    on the engine's driver-side filter path; above it the set gates the
    search distributively — no driver collect, no broadcast: it shuffles
    once on segment_id and cogroups with the posting blocks, and
    WAND/block-max pruning stays lossless because phase-1 θ is
    established from FILTERED scores.  idf/avgdl stay corpus-wide per
    Lucene filter semantics, so filtered scores are bit-identical to
    unfiltered ones — value-checked against a DuckDB BM25 with the same
    corpus-wide stats and a lang gate on the final candidates."""
    from pyspark.sql import functions as F

    en = _t(spark, sf_dir, "documents").filter(
        F.col("lang") == "en").select("doc_id")
    return _search_to_source_ids(spark, _engine_index(spark, sf_dir),
                                 mode="any", filter_source=en)


# fuzzy oracle (Lucene FuzzyQuery: 'sparh~1 fast~1'): each query term
# expands to the corpus terms within its edit distance, capped at the top
# 50 per query term by (weight desc, df desc, term asc); each expanded
# term scores as an OR clause with weight 1 - dist/min(len) folded into
# its idf.  DuckDB's levenshtein is classic (no transpositions), same as
# Spark's F.levenshtein, so both sides derive the SAME expansion from the
# deduped corpus
_FUZZY_Q = (("sparh", 1), ("fast", 1))
_BM25_FUZZY_SQL = _BM25_SQL.split("q(term) AS")[0] + f"""q(term, d) AS (VALUES {",".join(f"('{t}', {d})" for t, d in _FUZZY_Q)}),
vocab AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
qe AS (
  SELECT term, w, df FROM (
    SELECT v.term, v.df,
           (1 - levenshtein(v.term, q.term)::DOUBLE
                / least(length(v.term), length(q.term))) AS w,
           row_number() OVER (
             PARTITION BY q.term
             ORDER BY (1 - levenshtein(v.term, q.term)::DOUBLE
                       / least(length(v.term), length(q.term))) DESC,
                      v.df DESC, v.term ASC) AS rn
    FROM vocab v JOIN q
      ON abs(length(v.term) - length(q.term)) <= q.d
     AND levenshtein(v.term, q.term) <= q.d
    WHERE levenshtein(v.term, q.term)
          < least(length(v.term), length(q.term))
  ) WHERE rn <= 50),
qex AS (SELECT term, max(w) AS w, any_value(df) AS df FROM qe GROUP BY term),
sc AS (
  SELECT tf.doc_id,
         sum(qex.w * ln(1 + (st.n - qex.df + 0.5) / (qex.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN qex ON tf.term = qex.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 4) AS score_r FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


@op("t1_engine_fuzzy_top10", _BM25_FUZZY_SQL)
def t1_engine_fuzzy_top10(spark, sf_dir):
    """Lucene-FuzzyQuery retrieval through the REAL engine (``sparh~1
    fast~1`` — edit-distance suffixes; query.parse_fuzzy →
    Searcher.search_ids_fuzzy): each term expands over the term_stats
    vocabulary with native F.levenshtein inside ONE distributed job
    (length-band prefilter pushed to the scan, Lucene's top-50-per-term
    cap applied in Spark), and every expanded term scores as an OR clause
    with similarity weight 1 - dist/min(len) folded into its idf — the one
    weight feeding scoring and the pruning bounds.  Value-checked against
    a DuckDB BM25 whose expansion is derived with the SAME classic
    levenshtein over the same deduped corpus.  (The reference sketched
    fuzzy search but never shipped it, search_pdfs.go:176-186.)"""
    return _engine_search(
        spark, sf_dir, mode="fuzzy",
        terms=tuple(f"{t}~{d}" for t, d in _FUZZY_Q))


# prefix (trailing-wildcard) oracle (Lucene PrefixQuery: 's* fast'): the
# prefix clause expands to every corpus term starting with 's' (capped at
# the top 50 by df desc, term asc — Lucene's rewrite cap), the bare term
# stays exact; all expansions weigh 1, so the oracle is the plain
# OR-of-terms BM25 over the expanded set
_PREFIX_P, _PREFIX_EXACT = "s", "fast"
_BM25_PREFIX_SQL = _BM25_SQL.split("q(term) AS")[0] + f"""vocab AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
pe AS (SELECT term, df FROM (
  SELECT term, df, row_number() OVER (ORDER BY df DESC, term ASC) AS rn
  FROM vocab WHERE term LIKE '{_PREFIX_P}%') WHERE rn <= 50),
qex AS (SELECT term, df FROM pe UNION
        SELECT term, df FROM vocab WHERE term = '{_PREFIX_EXACT}'),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - qex.df + 0.5) / (qex.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN qex ON tf.term = qex.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 4) AS score_r FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


@op("t1_engine_prefix_top10", _BM25_PREFIX_SQL)
def t1_engine_prefix_top10(spark, sf_dir):
    """Lucene-PrefixQuery retrieval through the REAL engine (``s* fast``
    — trailing wildcard; query.parse_fuzzy → Searcher.search_ids_fuzzy's
    MultiTermQuery expansion): the prefix expands over the term_stats
    vocabulary with a startswith predicate pushed to the scan, capped at
    the top 50 per clause IN Spark, and every expanded term scores as an
    OR clause at weight 1.  Value-checked against a DuckDB BM25 whose
    expansion is a LIKE over the same deduped corpus with the same cap.
    (Wildcard terms bypass the analyzer — Lucene's rule — so the prefix
    matches what the user typed.)"""
    return _engine_search(
        spark, sf_dir, mode="fuzzy",
        terms=(f"{_PREFIX_P}*", _PREFIX_EXACT))


# regexp oracle (Lucene RegexpQuery: '/s[cp][a-z]+/ fast'): the regexp
# clause expands to every corpus term the WHOLE-TERM-anchored pattern
# matches (capped at the top 50 by df desc, term asc — the same
# MultiTermQuery rewrite cap as prefix), the bare term stays exact; all
# expansions weigh 1 (constant score), so the oracle is the plain
# OR-of-terms BM25 over the expanded set.  The pattern sticks to the
# regex subset Java (Spark rlike) and RE2 (DuckDB regexp_matches) agree
# on: character classes, +, anchors.
_REGEXP_PAT, _REGEXP_EXACT = "s[cp][a-z]+", "fast"
_BM25_REGEXP_SQL = _BM25_PREFIX_SQL.replace(
    f"WHERE term LIKE '{_PREFIX_P}%'",
    f"WHERE regexp_matches(term, '^(?:{_REGEXP_PAT})$')",
).replace(f"term = '{_PREFIX_EXACT}'", f"term = '{_REGEXP_EXACT}'")
assert "regexp_matches" in _BM25_REGEXP_SQL and "LIKE" not in _BM25_REGEXP_SQL


@op("t1_engine_regexp_top10", _BM25_REGEXP_SQL)
def t1_engine_regexp_top10(spark, sf_dir):
    """Lucene-RegexpQuery retrieval through the REAL engine
    (``/s[cp][a-z]+/ fast`` — slash syntax, whole-term match;
    query.parse_fuzzy → Searcher.search_ids_fuzzy's MultiTermQuery
    expansion): the regexp expands over the term_stats vocabulary with an
    rlike predicate pushed to the scan — ONE distributed job over the
    vocabulary-sized metadata table, never the postings — capped at the
    top 50 per clause IN Spark, and every expanded term scores as an OR
    clause at weight 1 folded into its idf, so regexp queries stay
    lossless under block-max pruning.  Value-checked against a DuckDB
    BM25 whose expansion is regexp_matches over the same deduped corpus
    with the same cap.  (Regexp clauses bypass the analyzer — Lucene's
    MultiTermQuery rule.)"""
    return _engine_search(
        spark, sf_dir, mode="fuzzy",
        terms=(f"/{_REGEXP_PAT}/", _REGEXP_EXACT))


# spell-suggest oracle (Lucene DirectSpellChecker): for each misspelled
# input term, the top-3 vocabulary terms within 2 edits by (similarity
# desc, df desc, term asc), similarity = 1 - dist/min(len); the term
# itself (dist 0) is never suggested.  vocab/df come from the SAME
# deduped corpus the engine indexes; DuckDB levenshtein == Spark
# F.levenshtein (classic, no transpositions)
_SUGGEST_TERMS = ("sparh", "quary", "joun")
_SUGGEST_SQL = f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        x -> x <> '')) AS term FROM dedup),
tfd AS (SELECT doc_id, term FROM tok GROUP BY doc_id, term),
vocab AS (SELECT term, count(*)::BIGINT AS df FROM tfd GROUP BY term),
q(qt) AS (VALUES {",".join(f"('{t}')" for t in _SUGGEST_TERMS)}),
sug AS (
  SELECT qt, v.term, levenshtein(v.term, qt) AS dist, v.df,
         row_number() OVER (
           PARTITION BY qt
           ORDER BY (1 - levenshtein(v.term, qt)::DOUBLE
                     / least(length(v.term), length(qt))) DESC,
                    v.df DESC, v.term ASC) AS rn
  FROM vocab v JOIN q
    ON levenshtein(v.term, qt) BETWEEN 1 AND 2
  WHERE levenshtein(v.term, qt) < least(length(v.term), length(qt)))
SELECT qt AS query_term, term AS suggestion, dist::INT AS dist, df
FROM sug WHERE rn <= 3
"""


@op("t1_engine_suggest_top3", _SUGGEST_SQL)
def t1_engine_suggest_top3(spark, sf_dir):
    """Spelling suggestions through the REAL engine
    (Searcher.suggest — the Lucene DirectSpellChecker analog): each
    misspelled term gets the top-3 index-vocabulary terms within 2
    Levenshtein edits, ranked by (similarity desc, df desc, term asc) in
    ONE distributed job over the vocabulary-sized term_stats table with
    the length-band prefilter pushed to the scan and the per-term cap
    applied IN Spark.  Value-checked against a DuckDB levenshtein sweep
    of the same deduped corpus's vocabulary."""
    s = _get_searcher(spark, _engine_index(spark, sf_dir))
    return s.suggest(list(_SUGGEST_TERMS), case_id="0")


# more-like-this oracle (Lucene MoreLikeThis): the source text is doc 7's
# stored text; its top-5 terms by tf_in_text * idf (ties by term asc, idf
# over the deduped corpus the engine indexes) become a plain OR-of-terms
# BM25 query, qtf = 1 per term.  The source doc itself may appear in the
# results (Lucene excludes it only in the like-by-docid form).
_MLT_DOC_ID, _MLT_TERMS_N = 7, 5
_MLT_SQL = f"""
WITH dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
        x -> x <> '')) AS term FROM dedup),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY doc_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
vocab AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
mtok AS (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> ''))
         AS term FROM documents WHERE doc_id = {_MLT_DOC_ID}),
mtf AS (SELECT term, count(*)::DOUBLE AS qtf FROM mtok GROUP BY term),
qsel AS (
  SELECT term, df FROM (
    SELECT m.term, v.df,
           row_number() OVER (
             ORDER BY m.qtf * ln(1 + (st.n - v.df + 0.5) / (v.df + 0.5))
                      DESC, m.term ASC) AS rn
    FROM mtf m JOIN vocab v ON m.term = v.term CROSS JOIN st)
  WHERE rn <= {_MLT_TERMS_N}),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - qsel.df + 0.5) / (qsel.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN qsel ON tf.term = qsel.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT doc_id, round(s, 4) AS score_r FROM sc ORDER BY s DESC, doc_id LIMIT 10
"""


@op("t1_engine_mlt_top10", _MLT_SQL)
def t1_engine_mlt_top10(spark, sf_dir):
    """More-Like-This through the REAL engine
    (Searcher.more_like_this — the Lucene MoreLikeThis analog): doc 7's
    stored text is analyzed, its top-5 most characteristic terms by
    tf_in_text * idf (df from the bucket-pruned term_stats scan) become
    an OR-of-terms BM25 query with qtf=1 per term, scored through the
    regular pruned block funnel.  Value-checked against a DuckDB BM25
    whose term selection is derived with the same tf*idf ranking over the
    same deduped corpus."""
    from pyspark.sql import functions as F

    s = _get_searcher(spark, _engine_index(spark, sf_dir))
    text = (_t(spark, sf_dir, "documents")
            .filter(F.col("doc_id") == _MLT_DOC_ID)
            .select("text").collect()[0]["text"])
    hits = s.more_like_this(text, k=10, case_id="0",
                            max_query_terms=_MLT_TERMS_N)
    return _hits_to_source_ids(spark, s, hits)


# delete oracle: identical BM25 chain, but docs with doc_id % 7 == 0 are
# REMOVED after the dedup step — mirroring the engine side, where those
# docs are tombstoned out of a copy of the index (delete_docs) and
# physically purged (compact_index's exact stats recompute), so n/avgdl/df
# in the SQL are computed over the survivors exactly as the purge does
_DEL_MOD = 7
_BM25_DELETED_SQL = _BM25_SQL.replace(
    "WHERE rn = 1),",
    "WHERE rn = 1),\n"
    f"del AS (SELECT doc_id, text FROM dedup WHERE doc_id % {_DEL_MOD} <> 0),",
    1,
).replace("AS term FROM dedup),", "AS term FROM del),")


def _deleted_index(spark, sf_dir) -> str:
    """A copy of the shared engine index with source doc_id % _DEL_MOD == 0
    docs tombstoned (delete.delete_docs by url predicate) AND physically
    purged (compact.compact_index) — the whole delete pipeline runs inside
    the oracle gate."""
    import shutil

    from pysearch.compact import compact_index
    from pysearch.delete import delete_docs

    def make(index_dir, docs):
        shutil.copytree(_engine_index(spark, sf_dir), index_dir)
        # the SQL form of _source_id
        n = delete_docs(spark, index_dir, predicate=(
            f"CAST(substring(url, {len(_URL_PREFIX) + 1}, 9) AS LONG)"
            f" % {_DEL_MOD} = 0"))
        res = compact_index(spark, index_dir)
        if n == 0 or res.get("purged_docs") != n:
            raise RuntimeError(f"delete oracle setup: deleted {n}, "
                               f"purged {res.get('purged_docs')}")

    return _ensure_index(spark, sf_dir, "del", make)[0]


@op("t1_engine_deleted_top10", _BM25_DELETED_SQL)
def t1_engine_deleted_top10(spark, sf_dir):
    """Tombstoned delete + compaction purge through the REAL engine: docs
    with source doc_id % 7 == 0 are deleted from a copy of the shared index
    and physically purged; top-10 BM25 over the purged index must match an
    independent DuckDB BM25 whose corpus (and therefore n/avgdl/df) is the
    surviving docs only — value-checks the purge's exact stats recompute,
    not just doc suppression.  (No reference analog: doclib has no delete
    API; this is the Lucene deleted-docs model, SURVEY.md §11.)"""
    return _search_to_source_ids(spark, _deleted_index(spark, sf_dir),
                                 mode="any")


@op("st_arrival_bm25_top10", _BM25_SQL)
def st_arrival_bm25_top10(spark, sf_dir):
    """The scored in-memory ARRIVAL index (reference use case 2: short-lived
    index over just-arrived docs, GOPHERCON.md:56) run as a batch: full BM25
    top-10 over the documents table with NO persistent index — same dedupe,
    idf, and summation semantics as the engine, value-checked against the
    same independent DuckDB BM25 oracle as t1_engine_bm25_top10."""
    return _arrival_search(spark, sf_dir, _BM25_TERMS, "any")


def _arrival_search(spark, sf_dir, terms, mode: str):
    """Top-10 of ``terms`` through the arrival scorer over all of
    `documents`, as source (doc_id, score_r) rows."""
    from pyspark.sql import functions as F

    from pysearch.session import ship_package
    from pysearch.streaming import score_arriving_batch

    ship_package(spark)
    res = score_arriving_batch(
        _webtext(_t(spark, sf_dir, "documents"), "text"),
        {"q": " ".join(terms)}, k=10, analyzer="simple", mode=mode)
    return res.select(_source_id("url").alias("doc_id"),
                      F.round("score", 4).alias("score_r"))


_NRT_MOD = 5


# the NRT and time-travel split keys (Spark SQL over the text): both are
# content properties, so exact-duplicate texts never straddle a split and
# append's "existing doc wins" dedup picks the same winners as one build.
# The NRT key is a hash (its oracle covers the whole table); the
# time-travel oracle must filter the same subset in DuckDB, so its key is
# length(text), which both engines compute identically.
_NRT_KEY = f"crc32(encode(text, 'utf-8')) % {_NRT_MOD}"
_TT_KEY = f"length(text) % {_NRT_MOD}"


def _split(docs, key: str):
    """``documents`` as engine webtext, split into (base, arrivals): the
    rows whose ``key`` is 0 (~1/_NRT_MOD) arrive later."""
    from pyspark.sql import functions as F

    present = F.col("text").isNotNull()
    webtext = _webtext(docs, "text")
    return (webtext.filter(present & (F.expr(key) != 0)),
            webtext.filter(present & (F.expr(key) == 0)))


def _nrt_base_index(spark, sf_dir) -> str:
    """The engine index over the base side of the NRT split (same build
    params as the shared engine index, no positions)."""
    from pysearch.build import build_index

    def make(index_dir, docs):
        build_index(spark, _split(docs, _NRT_KEY)[0], index_dir,
                    segment_size=128, analyzer="simple")

    return _ensure_index(spark, sf_dir, "nrtbase", make)[0]


@op("st_nrt_bm25_top10", _BM25_SQL)
def st_nrt_bm25_top10(spark, sf_dir):
    """NRT HYBRID search (streaming.search_with_arrivals): BM25 top-10 over
    a persistent index of ~4/5 of `documents` PLUS the remaining ~1/5 as a
    not-yet-flushed arrival batch, scored under the combined corpus stats —
    value-checked against the same full-table DuckDB BM25 oracle as
    t1_engine_bm25_top10, because index ∪ arrivals == the whole table and
    the hybrid is score-identical to flushing the batch first (pinned by
    tests/test_nrt.py)."""
    from pyspark.sql import functions as F

    from pysearch.streaming import search_with_arrivals

    s = _get_searcher(spark, _nrt_base_index(spark, sf_dir))
    arrivals = _split(_t(spark, sf_dir, "documents"), _NRT_KEY)[1]
    res = search_with_arrivals(s, arrivals, {"q": " ".join(_BM25_TERMS)},
                               k=10, case_id="0")
    sdf = spark.createDataFrame(
        res[["url", "score"]], schema="url string, score double")
    return sdf.select(_source_id("url").alias("doc_id"),
                      F.round("score", 4).alias("score_r"))


_BM25_TT_SQL = _BM25_SQL.replace(
    "FROM documents)",
    f"FROM documents WHERE text IS NOT NULL AND {_TT_KEY} <> 0)")


def _tt_index(spark, sf_dir):
    """The time-travel demo index: fresh build over the base split
    (archiving snapshot v_base), then the arrivals APPENDED on top — so
    ``at_version=v_base`` must reproduce the pre-append state.  Returns
    (index_dir, v_base)."""
    from pysearch.build import build_index

    def make(index_dir, docs):
        base, arrivals = _split(docs, _TT_KEY)
        layout = build_index(spark, base, index_dir, segment_size=128,
                             analyzer="simple")
        v_base = layout.snapshots()[-1]
        build_index(spark, arrivals, index_dir, append=True)
        return {"tt_base_version": int(v_base)}

    index_dir, m = _ensure_index(spark, sf_dir, "tt", make)
    return index_dir, int(m["tt_base_version"])


@op("tt_snapshot_bm25_top10", _BM25_TT_SQL)
def tt_snapshot_bm25_top10(spark, sf_dir):
    """TIME-TRAVEL read (Searcher ``at_version``): the engine index is
    built over the ~4/5 length-keyed subset of `documents` (the build
    archives that state as snapshot v_base), then the remaining ~1/5 is
    APPENDED.  The query searches ``at_version=v_base``, so the appended
    docs AND their effect on corpus/term stats must be invisible —
    value-checked against a DuckDB BM25 oracle computed over the subset
    ALONE.  A stale read of the post-append state fails the hash check
    both ways (extra candidate docs, shifted idf/avgdl)."""
    index_dir, v_base = _tt_index(spark, sf_dir)
    return _search_to_source_ids(spark, index_dir, mode="any",
                                 at_version=v_base)


@op("st_arrival_phrase_top10", _BM25_PHRASE_SQL)
def st_arrival_phrase_top10(spark, sf_dir):
    """Exact-phrase top-10 through the scored ARRIVAL index (no persistent
    index): token-stream adjacency checked inside the arrival scorer's
    single tokenize pass, value-checked against the same independent DuckDB
    phrase-restricted BM25 oracle as t1_engine_phrase_top10 — and therefore
    transitively score-identical to the engine's pos_bin phrase path."""
    return _arrival_search(spark, sf_dir, _PHRASE_TERMS, "phrase")


@op("j1_term_doc_join", f"""
{_TOK_CTE},
q(term) AS (VALUES ('spark'),('vector'),('stream'))
SELECT doc_id, count(DISTINCT tok.term) AS n_terms, count(*) AS tf_sum
FROM tok JOIN q ON tok.term = q.term
GROUP BY doc_id ORDER BY doc_id
""")
def j1_term_doc_join(spark, sf_dir):
    from pyspark.sql import functions as F

    q = spark.createDataFrame([("spark",), ("vector",), ("stream",)], "term string")
    return (
        _tokens(spark, sf_dir)
        .join(F.broadcast(q), "term")
        .groupBy("doc_id")
        .agg(F.countDistinct("term").alias("n_terms"), F.count("*").alias("tf_sum"))
        .orderBy("doc_id")
    )


@op("p1_nonempty_truncate", """
SELECT doc_id, n_chars, substr(text, 1, 40) AS head40
FROM documents WHERE length(trim(text)) > 0 ORDER BY doc_id
""")
def p1_nonempty_truncate(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", "n_chars", F.substring("text", 1, 40).alias("head40"))
        .orderBy("doc_id")
    )


@op("p4_dedup_exact", """
SELECT md5(text) AS content_hash, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY md5(text) ORDER BY content_hash
""")
def p4_dedup_exact(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "documents")
        .groupBy(F.md5(F.encode("text", "utf-8")).alias("content_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .orderBy("content_hash")
    )


@op("p5_best_per_source", """
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         max(n_chars) OVER (PARTITION BY source) AS mx
  FROM documents) WHERE n_chars = mx ORDER BY source, doc_id
""")
def p5_best_per_source(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("source")
    return (
        _t(spark, sf_dir, "documents")
        .withColumn("mx", F.max("n_chars").over(w))
        .filter(F.col("n_chars") == F.col("mx"))
        .select("source", "doc_id", "n_chars")
        .orderBy("source", "doc_id")
    )


@op("t2_sort_limit", """
SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 20
""")
def t2_sort_limit(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .orderBy(F.desc("n_chars"), "doc_id")
        .limit(20)
    )


@op("j4_set_ops", f"""
{_TOK_CTE}
SELECT term FROM (
  SELECT DISTINCT term FROM tok JOIN documents USING (doc_id) WHERE source = 'src1'
  INTERSECT
  SELECT DISTINCT term FROM tok JOIN documents USING (doc_id) WHERE source = 'src2'
) ORDER BY term
""")
def j4_set_ops(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    tok = _tokens(spark, sf_dir).join(docs.select("doc_id", "source"), "doc_id")
    a = tok.filter("source = 'src1'").select("term").distinct()
    b = tok.filter("source = 'src2'").select("term").distinct()
    return a.intersect(b).orderBy("term")


@op("f8_fingerprint", """
SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents ORDER BY doc_id
""")
def f8_fingerprint(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", F.md5(F.encode(F.lower(F.trim("text")), "utf-8")).alias("fp"))
        .orderBy("doc_id")
    )


@op("f11_json_props", """
SELECT event_type, sum(CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS k_sum,
       count(*) AS n
FROM events GROUP BY event_type ORDER BY event_type
""")
def f11_json_props(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("k_sum"),
            F.count("*").alias("n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# dedup family (training-data pipeline)
# ---------------------------------------------------------------------------

_N_MINHASH = 8

def _minhash_sigs_map(spark, sf_dir, pred=None):
    """(doc_id, hash_id, min_hash) MinHash signatures computed MAP-ONLY:
    a signature is a pure per-doc function (min over the doc's distinct
    terms of md5('{hash_id}|{term}')), so no (doc, term, hash_id) row
    ever needs to shuffle — the r5 form exploded 16x per distinct term
    and paid a (doc_id, hash_id) groupBy exchange for the same minima.
    ``pred`` pushes a documents filter BELOW the python map (mapInPandas
    blocks predicate pushdown), so bounded consumers (the doc_id < 60
    pairs demo) only hash their slice.  A per-task term -> 16-vector memo
    collapses Zipf-head repeats like _simhash_map's."""
    import numpy as np

    from pyspark.sql import functions as F

    def fold(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        memo: dict = {}

        def vecs(t):
            v = memo.get(t)
            if v is None:
                v = memo[t] = np.array(
                    [int(md5(f"{i}|{t}".encode()).hexdigest()[:8], 16)
                     for i in range(_N_MINHASH)], dtype=np.int64)
            return v

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = {t for t in text.split(" ") if t}
                if not toks:
                    continue
                ids.append(doc_id)
                sigs.append(np.minimum.reduce([vecs(t) for t in toks]))
            if ids:
                n = len(ids)
                yield pd.DataFrame({
                    "doc_id": np.repeat(
                        np.asarray(ids, dtype=np.int64), _N_MINHASH),
                    "hash_id": np.tile(
                        np.arange(_N_MINHASH, dtype=np.int32), n),
                    "min_hash": np.concatenate(sigs),
                })

    d = _t(spark, sf_dir, "documents")
    if pred is not None:
        d = d.filter(pred)
    return d.select("doc_id", "text").mapInPandas(
        fold, schema="doc_id long, hash_id int, min_hash long")


@op("dd_minhash_sigs", f"""
{_TOK_CTE},
terms AS (SELECT DISTINCT doc_id, term FROM tok),
h AS (SELECT doc_id, t.hash_id,
             {_HEX_DUCK.format(x="t.hash_id::VARCHAR || '|' || term")} AS hv
      FROM terms, range({_N_MINHASH}) AS t(hash_id))
SELECT doc_id, hash_id, min(hv) AS min_hash FROM h
GROUP BY doc_id, hash_id ORDER BY doc_id, hash_id
""")
def dd_minhash_sigs(spark, sf_dir):
    """MinHash signatures: portable md5-derived hash family; the LSH
    band-bucket join in dd_minhash_pairs consumes these.  MAP-ONLY — see
    _minhash_sigs_map; only the declared output sort exchanges."""
    return _minhash_sigs_map(spark, sf_dir).orderBy("doc_id", "hash_id")


# shared CTE body: MinHash signatures -> banded candidate pairs (bounded to
# doc_id < 60 so the all-pairs oracle join stays tiny); reused by the
# dd_minhash_pairs oracle and as the edge set of the dd_dup_clusters oracle
_MH_PAIRS_CTES = f"""
{_TOK_CTE},
terms AS (SELECT DISTINCT doc_id, term FROM tok),
h AS (SELECT doc_id, t.hash_id,
             {_HEX_DUCK.format(x="t.hash_id::VARCHAR || '|' || term")} AS hv
      FROM terms, range({_N_MINHASH}) AS t(hash_id)),
sig AS (SELECT doc_id, hash_id, min(hv) AS min_hash FROM h GROUP BY doc_id, hash_id),
pairs AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_match
  FROM sig a JOIN sig b ON a.hash_id = b.hash_id AND a.min_hash = b.min_hash
       AND a.doc_id < b.doc_id
  WHERE a.doc_id < 60 AND b.doc_id < 60
  GROUP BY a.doc_id, b.doc_id)"""


# pairs -> undirected edges -> recursive transitive closure -> per-doc
# min-label cluster_id: the ONE closure block every oracle that consumes
# dedup clusters shares (dd_dedup_survivors, pipeline_pretrain_filter,
# t1_engine_filter_survivors_top10) — a threshold or labeling change edits
# exactly one place
_CLOSURE_CTES = f"""{_MH_PAIRS_CTES.replace("WITH ", "WITH RECURSIVE ", 1)},
edges AS (SELECT a, b FROM pairs WHERE n_match >= 4),
und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
lbl AS (SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src)"""


@op("dd_minhash_pairs", f"""
{_MH_PAIRS_CTES}
SELECT a, b, round(n_match / {_N_MINHASH}.0, 4) AS sim_est
FROM pairs WHERE n_match >= 4 ORDER BY a, b
""")
def dd_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs: band join on (hash_id, min_hash) buckets
    (band size 1), estimated Jaccard = matching-signature fraction.

    The doc_id < 60 demo bound is passed BELOW the signature map
    (mapInPandas blocks predicate pushdown), so only the bounded slice is
    ever hashed — and the sigs op's declared output sort is not paid
    here."""
    from pyspark.sql import functions as F

    sig = _minhash_sigs_map(spark, sf_dir, pred=F.col("doc_id") < 60)
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.hash_id") == F.col("b.hash_id"))
            & (F.col("a.min_hash") == F.col("b.min_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(F.count("*").alias("n_match"))
    )
    return (
        pairs.filter(F.col("n_match") >= 4)
        .select("a", "b", F.round(F.col("n_match") / float(_N_MINHASH), 4).alias("sim_est"))
        .orderBy("a", "b")
    )


def dup_clusters(edges, max_iters: int = 32,
                 local_max_edges: int = gate.DUP_CLUSTERS_LOCAL_MAX_EDGES):
    """Connected components over an undirected near-dup PAIR list — the
    step a dedup pipeline needs after pair generation (minhash/simhash
    band pairs give edges; keep-one-per-cluster needs components).

    ``edges``: DataFrame with long columns (a, b), one row per undirected
    pair.  Returns (doc_id, cluster_id) for every doc appearing in some
    pair, cluster_id = the component's minimum doc_id (deterministic
    canonical representative).

    Execution strategy is size-gated like a join: the edge list is
    materialized once (persist + count); at or under ``local_max_edges``
    it is fetched to the driver (bounded — ~16 bytes/edge, the broadcast-
    build-side class) and solved with path-compressed union-find in one
    pass, which replaces O(log n) Spark rounds of fixed job latency with
    two jobs total.  Above the gate, the distributed path: min-label
    propagation PLUS pointer jumping per round — each round every node
    takes min(own label, neighbor labels), then shortcuts to its label's
    label.  Pointer jumping halves label-tree depth per round, so
    convergence is O(log n) rounds even on adversarial chain components
    (plain propagation is O(diameter)); each round is two key-partitioned
    shuffles of (long, long) rows and the per-round convergence probe is
    a limit(1) existence check, not a full count.  Lineage is truncated
    per round (localCheckpoint) so the plan stays O(1) deep.  This is the
    alternating small-star/large-star recipe of the MapReduce
    connected-components literature, expressed in DataFrame joins.  Both
    paths produce identical labels (pinned by test)."""
    import numpy as np
    from pyspark.sql import functions as F

    e = edges.select("a", "b").persist()
    try:
        n_edges = e.count()
    except Exception:
        e.unpersist()
        raise
    if n_edges <= local_max_edges:
        try:
            pdf = e.toPandas()
        finally:
            e.unpersist()
        spark = edges.sparkSession
        if not len(pdf):
            out = spark.createDataFrame([], "doc_id long, cluster_id long")
            out._pysearch_local = pdf.astype(
                {"a": np.int64, "b": np.int64}).rename(
                columns={"a": "doc_id", "b": "cluster_id"})
            return out
        a = pdf["a"].to_numpy(np.int64)
        b = pdf["b"].to_numpy(np.int64)
        nodes = np.unique(np.concatenate([a, b]))
        idx = {int(n): i for i, n in enumerate(nodes)}
        parent = np.arange(nodes.size, dtype=np.int64)

        def find(i: int) -> int:
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        for x, y in zip(a, b):
            rx, ry = find(idx[int(x)]), find(idx[int(y)])
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)
        roots = np.fromiter((find(i) for i in range(nodes.size)),
                            dtype=np.int64, count=nodes.size)
        # nodes is ascending, so the first node seen per root is the
        # component minimum — the same canonical label the distributed
        # min-label propagation converges to
        min_label: dict = {}
        labels = np.empty(nodes.size, dtype=np.int64)
        for i in range(nodes.size):
            r = int(roots[i])
            if r not in min_label:
                min_label[r] = int(nodes[i])
            labels[i] = min_label[r]
        import pandas as pd

        lpdf = pd.DataFrame({"doc_id": nodes, "cluster_id": labels})
        out = spark.createDataFrame(lpdf, "doc_id long, cluster_id long")
        # the labels are already driver-resident: expose them so _dup_drop
        # can hand its consumers the drop set as an array — an
        # annotation, not a result cache (each invocation recomputes from
        # the edges)
        out._pysearch_local = lpdf
        return out

    und = (
        e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .unionByName(
            e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .repartition("node")
        .persist()
    )
    labels = (
        und.select("node").distinct()
        .select("node", F.col("node").alias("lbl"))
        .localCheckpoint()
    )
    try:
        for _ in range(max_iters):
            nbr_min = (
                und.join(
                    labels.select(F.col("node").alias("nbr"),
                                  F.col("lbl").alias("nbr_lbl")), "nbr")
                .groupBy("node").agg(F.min("nbr_lbl").alias("m"))
            )
            stepped = (
                labels.join(nbr_min, "node", "left")
                .select("node", F.least("lbl", "m").alias("lbl"))
            )
            # pointer jump: follow my label to ITS label (labels are always
            # node ids, so the self-join hits; left+least keeps roots fixed)
            jumped = (
                stepped.join(
                    stepped.select(F.col("node").alias("lbl"),
                                   F.col("lbl").alias("lbl2")), "lbl", "left")
                .select("node", F.least("lbl", "lbl2").alias("lbl"))
                .localCheckpoint()
            )
            changed = (
                jumped.join(labels.select("node",
                                          F.col("lbl").alias("old")), "node")
                .filter(F.col("lbl") != F.col("old"))
                .limit(1).count()
            )
            # release the previous round's checkpoint blocks — otherwise
            # executor storage grows O(rounds)
            try:
                labels.unpersist()
            except Exception:
                pass
            labels = jumped
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"dup_clusters did not converge in {max_iters} rounds")
        return labels.select(F.col("node").alias("doc_id"),
                             F.col("lbl").alias("cluster_id"))
    finally:
        und.unpersist()
        e.unpersist()


@op("dd_dup_clusters", f"""
{_MH_PAIRS_CTES.replace("WITH ", "WITH RECURSIVE ", 1)},
edges AS (SELECT a, b FROM pairs WHERE n_match >= 4),
und AS (SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges),
reach(src, dst) AS (
  SELECT a, b FROM und
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a),
lbl AS (SELECT src AS doc_id, min(dst) AS reach_min FROM reach GROUP BY src)
SELECT doc_id, least(doc_id, reach_min) AS cluster_id
FROM lbl ORDER BY doc_id
""")
def dd_dup_clusters(spark, sf_dir):
    """Near-dup CLUSTERS from the MinHash-LSH pair list: connected
    components with cluster_id = min doc_id per component (dup_clusters'
    pointer-jumping label propagation), value-checked against a DuckDB
    recursive-CTE transitive closure over the identical edge set."""
    from pyspark.sql import functions as F

    edges = dd_minhash_pairs(spark, sf_dir).select("a", "b")
    return dup_clusters(edges).orderBy("doc_id").select(
        "doc_id", F.col("cluster_id").cast("long").alias("cluster_id"))


def _dup_drop(spark, sf_dir):
    """The keep-one-per-cluster DROP set of the near-dup pipeline (minhash
    pairs → dup_clusters): every cluster member but its canonical min
    doc_id.  Returns (ids, drop): ``ids`` is a numpy array of the drop
    doc_ids when union-find solved the clusters on the driver, else None;
    ``drop`` is the same set as a (doc_id) DataFrame."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    clusters = dup_clusters(dd_minhash_pairs(spark, sf_dir).select("a", "b"))
    local = getattr(clusters, "_pysearch_local", None)
    if local is None:
        return None, clusters.filter(
            F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    ids = local["doc_id"][local["doc_id"] != local["cluster_id"]] \
        .to_numpy(np.int64)
    return ids, spark.createDataFrame(pd.DataFrame({"doc_id": ids}),
                                      schema="doc_id long")


@op("dd_dedup_survivors", f"""
{_CLOSURE_CTES}
SELECT d.doc_id, count(*) OVER () AS n_survivors
FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
WHERE lbl.doc_id IS NULL OR lbl.cluster_id = d.doc_id
ORDER BY d.doc_id
""")
def dd_dedup_survivors(spark, sf_dir):
    """The keep-one-per-cluster END of the dedup pipeline: every document
    either outside any near-dup cluster or its cluster's canonical
    representative (min doc_id) — pairs → components → surviving corpus,
    value-checked against the DuckDB recursive-closure oracle.  Scale
    shape: the final keep-filter is a left anti-join on doc_id against the
    non-canonical members — deliberately NOT broadcast-hinted: at real
    webtext dup density the member set is a corpus fraction (CommonCrawl
    near-dup rates run tens of percent), far past any driver/executor
    broadcast budget at 10^12 docs.  AQE picks broadcast when the set IS
    small and a shuffled anti-join on doc_id otherwise, which scales."""
    from pyspark.sql import functions as F

    ids, drop = _dup_drop(spark, sf_dir)
    kept = _t(spark, sf_dir, "documents").select("doc_id").join(
        drop, "doc_id", "left_anti")
    if ids is not None:
        # the drop set is driver-resident: the survivor count is
        # |documents| − |drop| exactly (drop ids are distinct documents
        # doc_ids, which are unique), with |documents| from the parquet
        # footers — the anti-join executes once for the result rows
        # instead of twice (count job + collect)
        import pyarrow.dataset as pads

        n = pads.dataset(f"{sf_dir}/documents.parquet").count_rows() - len(ids)
    else:
        n = kept.count()
    return kept.select("doc_id", F.lit(n).cast("long")
                       .alias("n_survivors")).orderBy("doc_id")


# survivors-filter oracle: the dedup pipeline's keep-one-per-cluster set
# (same recursive closure as the dd_dedup_survivors oracle) gates the same
# corpus-wide-stats BM25 — the composed "search only deduped training
# data" query.  CTE names: the minhash side tokenizes ALL documents
# (_MH_PAIRS_CTES' tok), the BM25 side tokenizes the content-deduped docs
# (btok), matching the engine's build-time content dedupe.
_BM25_FILTER_SURV_SQL = f"""
{_CLOSURE_CTES},
surv AS (
  SELECT d.doc_id FROM documents d LEFT JOIN lbl ON d.doc_id = lbl.doc_id
  WHERE lbl.doc_id IS NULL OR lbl.cluster_id = d.doc_id),
dedup AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM documents) WHERE rn = 1),
btok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
         x -> x <> '')) AS term FROM dedup),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM btok GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM btok GROUP BY doc_id),
st AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
q(term) AS (VALUES {",".join(f"('{t}')" for t in _BM25_TERMS)}),
dfq AS (SELECT tf.term, count(*)::DOUBLE AS df FROM tf JOIN q ON tf.term = q.term GROUP BY tf.term),
sc AS (
  SELECT tf.doc_id,
         sum(ln(1 + (st.n - dfq.df + 0.5) / (dfq.df + 0.5))
             * (tf.tf * 2.2)
             / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / st.avgdl))) AS s
  FROM tf JOIN dfq ON tf.term = dfq.term
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
  GROUP BY tf.doc_id)
SELECT sc.doc_id, round(s, 4) AS score_r
FROM sc JOIN surv ON sc.doc_id = surv.doc_id
ORDER BY s DESC, sc.doc_id LIMIT 10
"""


@op("t1_engine_filter_survivors_top10", _BM25_FILTER_SURV_SQL)
def t1_engine_filter_survivors_top10(spark, sf_dir):
    """The dedup pipeline COMPOSED with the search engine: BM25 top-10
    restricted to the keep-one-per-cluster survivor set (MinHash-LSH pairs
    → connected components → canonical member per cluster), passed to the
    engine as a ``filter_docs`` DataFrame.  This is the "query only the
    deduped corpus without rebuilding the index" capability a training-data
    pipeline needs between dedup iterations; at scale the survivor set is a
    corpus fraction, which is exactly why filter_docs is a distributed
    cogroup rather than a broadcast or driver set.  Value-checked against
    a DuckDB BM25 gated by the same recursive-closure survivor set.
    The set is built directly (pairs → components → anti-join) instead of
    via dd_dedup_survivors, whose n_survivors column costs an extra full
    count() materialization this query would immediately discard."""
    index_dir = _engine_index(spark, sf_dir)
    ids, drop = _dup_drop(spark, sf_dir)
    if ids is not None:
        # the drop set is a bounded driver array: admit "everything but
        # the drop set" (exactly the anti-join's complement)
        return _search_to_source_ids(spark, index_dir, mode="any",
                                     exclude_source_ids=ids)
    surv = _t(spark, sf_dir, "documents").select("doc_id").join(
        drop, "doc_id", "left_anti")
    return _search_to_source_ids(spark, index_dir, mode="any",
                                 filter_source=surv)


_CHUNK_TOKS = 20  # tokens per dedup chunk (RefinedWeb-style "paragraph")

@op("dd_chunk_dedup", f"""
WITH tokl AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
tl AS (SELECT doc_id, l FROM tokl WHERE len(l) > 0),
ch AS (
  SELECT doc_id, x AS cidx,
         array_to_string(l[x*{_CHUNK_TOKS}+1 : x*{_CHUNK_TOKS}+{_CHUNK_TOKS}],
                         ' ') AS chunk
  FROM tl, unnest(range(0, cast(ceil(len(l)/{_CHUNK_TOKS}.0) AS INT)))
       AS t(x)),
keep AS (
  SELECT doc_id, cidx, chunk FROM (
    SELECT doc_id, cidx, chunk,
           row_number() OVER (PARTITION BY chunk
                              ORDER BY doc_id, cidx) AS rn
    FROM ch) WHERE rn = 1),
tot AS (SELECT doc_id, count(*)::INT AS n_chunks FROM ch GROUP BY doc_id)
SELECT k.doc_id, tot.n_chunks, count(*)::INT AS n_kept,
       string_agg(k.chunk, ' ' ORDER BY k.cidx) AS text_dedup
FROM keep k JOIN tot ON k.doc_id = tot.doc_id
GROUP BY k.doc_id, tot.n_chunks
ORDER BY k.doc_id
""")
def dd_chunk_dedup(spark, sf_dir):
    """Chunk-level exact dedup with document REASSEMBLY — the
    paragraph-dedup step of a CCNet/RefinedWeb-style pipeline, over
    fixed _CHUNK_TOKS-token windows (this corpus has no newlines; swap
    the chunker for split-on-paragraph and nothing else changes).  The FIRST
    global occurrence of each distinct chunk — by (doc_id, chunk_idx) —
    survives; every later repetition is cut, and each doc's surviving
    chunks re-join in order.  Docs whose every chunk was seen earlier
    (exact dups of earlier docs) vanish entirely.

    Scale shape: chunks are built array-natively per doc (one projection,
    no posexplode-groupBy round trip); first-occurrence selection is a
    groupBy(chunk).min(struct(doc_id, cidx)) — a map-side-combining
    aggregate whose survivors ARE the kept rows, so no join back and no
    per-chunk rank window (a boilerplate chunk shared by a corpus
    fraction folds to one row per partition before the shuffle);
    reassembly sorts only each doc's own <= n_chunks survivors inside a
    per-doc aggregate."""
    from pyspark.sql import functions as F

    C = _CHUNK_TOKS
    tl = (
        _t(spark, sf_dir, "documents")
        .select("doc_id",
                F.expr("filter(split(text, ' '), x -> x != '')").alias("l"))
        .filter(F.size("l") > 0)
    )
    ch = tl.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(l)/{C}.0) as int) - 1),"
                f" i -> concat_ws(' ', slice(l, i*{C}+1, {C})))"
            )
        ).alias("cidx", "chunk"),
    )
    # one row per doc already — n_chunks is a map-only projection, not an
    # aggregate over the exploded chunks (saves a chunk-count-row shuffle)
    tot = tl.select(
        "doc_id",
        F.ceil(F.size("l") / F.lit(C)).cast("int").alias("n_chunks"))
    keep = (
        ch.groupBy("chunk")
        .agg(F.min(F.struct("doc_id", "cidx")).alias("k"))
        .select(F.col("k.doc_id").alias("doc_id"),
                F.col("k.cidx").alias("cidx"), "chunk")
    )
    return (
        keep.groupBy("doc_id")
        .agg(
            F.count("*").cast("int").alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("cidx", "chunk"))),
                    lambda s: s["chunk"]),
                " ").alias("text_dedup"),
        )
        .join(tot, "doc_id")
        .select("doc_id", "n_chunks", "n_kept", "text_dedup")
        .orderBy("doc_id")
    )


def gram_pair_counts(grams, n_salts: int = 8, hot_df: int = 64):
    """|grams(a) ∩ grams(b)| for all doc pairs sharing >= 1 gram, as a
    self-join on the gram key with Zipf-head skew handled explicitly.

    Grams are split by document frequency: cold grams (df < ``hot_df``)
    self-join plainly; hot grams go through a salted 2D-blocked join — the
    right side carries salt = hash(doc_id) % S, the left side is replicated
    once per target salt, so one hot gram's pair generation spreads over S
    distinct join keys instead of landing on a single reducer.  Output is
    value-identical for any (n_salts, hot_df); a property test pins that.

    Expects a deduplicated (doc_id, g) DataFrame.
    """
    from pyspark.sql import functions as F

    gdf = grams.groupBy("g").agg(F.count("*").alias("gdf"))
    hot_keys = gdf.filter(F.col("gdf") >= hot_df).select("g")
    tagged = grams.join(
        F.broadcast(hot_keys.withColumn("_hot", F.lit(True))), "g", "left"
    )
    cold = tagged.filter(F.col("_hot").isNull()).select("doc_id", "g")
    hot = tagged.filter(F.col("_hot").isNotNull()).select("doc_id", "g")

    def pairs_of(left, right, extra_keys):
        return left.alias("ga").join(
            right.alias("gb"),
            [F.col(f"ga.{k}") == F.col(f"gb.{k}") for k in ["g", *extra_keys]]
            + [F.col("ga.doc_id") < F.col("gb.doc_id")],
        ).select(F.col("ga.doc_id").alias("a"), F.col("gb.doc_id").alias("b"))

    cold_pairs = pairs_of(cold, cold, [])
    hot_r = hot.withColumn("salt", F.pmod(F.hash("doc_id"), F.lit(n_salts)))
    hot_l = hot.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    hot_pairs = pairs_of(hot_l, hot_r, ["salt"])
    return (
        cold_pairs.unionByName(hot_pairs)
        .groupBy("a", "b").agg(F.count("*").alias("i"))
    )


@op("dd_bigram_jaccard", f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents WHERE doc_id < 40),
grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i+1])) AS g
  FROM toks WHERE len(l) >= 2),
sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT a, b, round(i / (sa.n + sb.n - i)::DOUBLE, 4) AS jac_r
FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
WHERE i / (sa.n + sb.n - i)::DOUBLE >= 0.05 ORDER BY a, b
""")
def dd_bigram_jaccard(spark, sf_dir):
    """n-gram (word bigram) Jaccard near-dup pairs over a bounded doc slice.

    The gram self-join runs through gram_pair_counts (hot/cold salted split)
    so Zipf-skewed head grams cannot concentrate on one reducer at scale."""
    from pyspark.sql import functions as F

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    toks = docs.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("l")
    ).filter(F.size("l") >= 2)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(l) - 1),"
                " i -> concat(element_at(l, i), ' ', element_at(l, i + 1)))"
            )
        ).alias("g"),
    ).distinct()
    sizes = grams.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = gram_pair_counts(grams)
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n", "nb"), "b")
        .withColumn("jac", F.col("i") / (F.col("na") + F.col("nb") - F.col("i")).cast("double"))
    )
    return (
        j.filter(F.col("jac") >= 0.05)
        .select("a", "b", F.round("jac", 4).alias("jac_r"))
        .orderBy("a", "b")
    )


def _simhash_map(nbits: int, nhex: int, dedup_hv: bool, out_col: str):
    """mapInPandas fold computing the n-bit SimHash PER DOC from the raw
    text — simhash is a pure per-doc function (distinct terms -> md5 bit
    source -> ±1 bit sums -> sign word), so no (doc, term) row ever needs
    to exist, let alone shuffle.  ``dedup_hv`` mirrors the two oracles'
    distinct placement: dd_simhash dedups TERMS then hashes (a within-doc
    32-bit hv collision counts twice), dd_simhash_band_pairs dedups the
    60-bit hv values themselves.  Arithmetic is the same numpy fold the
    r5 shuffle form ran (±1 bit matrix, add.reduceat per doc segment)."""
    import numpy as np

    def fold(batches):
        import hashlib

        import pandas as pd

        md5 = hashlib.md5
        # per-task term -> hv memo: Zipf-head terms repeat across the
        # task's docs, so ~#tokens md5 calls collapse to ~#distinct-terms
        # (bounded by the task's input, which is already in memory)
        memo: dict = {}

        def hv_of(t):
            h = memo.get(t)
            if h is None:
                h = memo[t] = int(md5(t.encode()).hexdigest()[:nhex], 16)
            return h

        for pdf in batches:
            ids, hvs, bounds = [], [], [0]
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = {t for t in text.split(" ") if t}
                if not toks:
                    continue
                h = (hv_of(t) for t in toks)
                hvs.extend(set(h) if dedup_hv else h)
                ids.append(doc_id)
                bounds.append(len(hvs))
            if not ids:
                continue
            hv = np.asarray(hvs, dtype=np.uint64)
            bits = ((hv[:, None] >> np.arange(nbits, dtype=np.uint64)) & 1
                    ).astype(np.int64) * 2 - 1
            sums = np.add.reduceat(bits, bounds[:-1], axis=0)
            sh = ((sums > 0).astype(np.int64)
                  * (1 << np.arange(nbits, dtype=np.int64))).sum(axis=1)
            yield pd.DataFrame({"doc_id": np.asarray(ids, dtype=np.int64),
                                out_col: sh})

    return fold


@op("dd_simhash", f"""
{_TOK_CTE},
terms AS (SELECT DISTINCT doc_id, term FROM tok),
th AS (SELECT doc_id, {_HEX_DUCK.format(x="term")} AS hv FROM terms),
bits AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, range(32) AS b(bit) GROUP BY doc_id, b.bit)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
""")
def dd_simhash(spark, sf_dir):
    """32-bit SimHash per doc over distinct terms (portable md5 bit source).

    Spark plan: MAP-ONLY — one documents scan through a mapInPandas fold
    (_simhash_map); simhash is per-doc, so the r5 plan's (doc_id, term)
    distinct exchange + repartition("doc_id") moved data for nothing.
    Measured 1.2 s -> 0.06 s at sf0.1 with byte-identical output (this
    round's A/B; earlier same-session A/Bs at sf0.1 rejected the
    32-conditional-sum codegen aggregate, the 32x explode+sum form, and a
    groupBy(doc).collect_set form)."""
    return (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .mapInPandas(_simhash_map(32, 8, False, "simhash"),
                     schema="doc_id long, simhash long")
        .orderBy("doc_id")
    )


@op("dd_simhash_band_pairs", f"""
WITH {_TOK_CTE.split("WITH ", 1)[1]},
th AS (SELECT DISTINCT doc_id,
              (('0x' || substr(md5(term), 1, 15))::BIGINT) AS hv
       FROM tok),
bits AS (
  SELECT doc_id, b.bit,
         sum(CASE WHEN (hv >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, range(60) AS b(bit) GROUP BY doc_id, b.bit),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS h
  FROM bits GROUP BY doc_id),
bands AS (
  SELECT doc_id, h, b.band, (h >> (15 * b.band)) & 32767 AS key
  FROM sh, range(4) AS b(band)),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h AS ha, b.h AS hb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b, bit_count(xor(ha, hb)) AS hamming
FROM cand ORDER BY hamming, doc_a, doc_b LIMIT 50
""")
def dd_simhash_band_pairs(spark, sf_dir):
    """SimHash near-dup candidate pairs via banded LSH — the scale path for
    simhash dedup (the all-pairs hamming join is quadratic; banding is how
    production near-dup pipelines bound it): 60-bit portable simhash
    (15 md5 hex chars, signed-BIGINT-safe in both engines) split into
    4 x 15-bit bands; docs sharing any band become candidates; candidates
    are verified with an exact popcount hamming distance and the 50 closest
    pairs returned (deterministic: both engines enumerate the identical
    banded candidate set).  The simhash stage is MAP-ONLY (_simhash_map —
    simhash is per-doc, so the r5 (doc_id, hv) distinct exchange moved
    data for nothing; within-doc dedup is by the 60-bit hv, mirroring the
    oracle's DISTINCT placement).  The band self-join then groups by a
    (band, 15-bit key) — ~131k buckets — so candidate volume is
    sum-of-squares over buckets, never n^2."""
    from pyspark.sql import functions as F

    sh = (
        _t(spark, sf_dir, "documents").select("doc_id", "text")
        .mapInPandas(_simhash_map(60, 15, True, "h"),
                     schema="doc_id long, h long")
    )
    bands = sh.select(
        "doc_id", "h", F.explode(F.expr("sequence(0, 3)")).alias("band")
    ).withColumn("key", F.expr("(h >> (15 * band)) & 32767"))
    a = bands.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("ha"),
                     "band", "key")
    b = bands.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"),
                     "band", "key")
    scored = (
        a.join(b, ["band", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", F.bit_count(F.expr("ha ^ hb")))
        .select("doc_a", "doc_b", "hamming")
    )
    # top-50 BEFORE cross-band dedup: a pair can match in at most 4 bands,
    # so the 50 closest DISTINCT pairs are contained in the 4*50 smallest
    # rows of the (hamming, doc_a, doc_b) order — TakeOrdered is a
    # per-partition top-k with no shuffle, replacing a full dedup shuffle
    # of the candidate set (2.3M rows at sf0.1; arbitrarily large at 100 TB
    # when the corpus is near-dup-dense).  Lossless by the <=4 multiplicity
    # bound; value-identity A/B-checked at sf0.1 (r4).
    top = scored.orderBy("hamming", "doc_a", "doc_b").limit(200)
    return top.distinct().orderBy("hamming", "doc_a", "doc_b").limit(50)


# ---------------------------------------------------------------------------
# similarity search (embeddings)
# ---------------------------------------------------------------------------

_COS_DUCK = """
list_dot_product(qa.v, nb.v)
 / (sqrt(list_dot_product(qa.v, qa.v)) * sqrt(list_dot_product(nb.v, nb.v)))
"""

@op("ann_cosine_top5", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
qa AS (SELECT * FROM e WHERE vec_id < 10),
nb AS (SELECT * FROM e WHERE vec_id >= 10),
cs AS (SELECT qa.vec_id AS q, nb.vec_id AS nn, {_COS_DUCK} AS cos FROM qa, nb),
rk AS (SELECT q, nn, cos, row_number() OVER (PARTITION BY q ORDER BY cos DESC, nn) AS rnk FROM cs)
SELECT q, nn, round(cos, 4) AS cos_r, rnk FROM rk WHERE rnk <= 5 ORDER BY q, rnk
""")
def ann_cosine_top5(spark, sf_dir):
    """Brute-force cosine top-k (the exact ANN baseline): explicit
    sequential dot products so both engines accumulate in the same order."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    qa = e.filter("vec_id < 10").select(F.col("vec_id").alias("q"), F.col("v").alias("qv"))
    nb = e.filter("vec_id >= 10").select(F.col("vec_id").alias("nn"), F.col("v").alias("nv"))
    cs = qa.crossJoin(nb).withColumn(
        "cos",
        F.expr(
            f"{dot.format(a='qv', b='nv')} / "
            f"(sqrt({dot.format(a='qv', b='qv')}) * sqrt({dot.format(a='nv', b='nv')}))"
        ),
    )
    w = Window.partitionBy("q").orderBy(F.desc("cos"), "nn")
    return (
        cs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select("q", "nn", F.round("cos", 4).alias("cos_r"), "rnk")
        .orderBy("q", "rnk")
    )


@op("dd_embed_cosine_pairs", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 120),
cs AS (SELECT qa.vec_id AS a, nb.vec_id AS b, {_COS_DUCK} AS cos
       FROM e qa JOIN e nb ON qa.vec_id < nb.vec_id)
SELECT a, b, round(cos, 4) AS cos_r FROM cs WHERE cos >= 0.3 ORDER BY a, b
""")
def dd_embed_cosine_pairs(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (threshold join).

    ORACLE-ONLY: this is the exhaustive all-pairs theta join, bounded to 120
    vectors so the ground truth is cheap to verify.  The production-scale
    embedding near-dup path is ``dd_embed_lsh_verify`` (LSH bucket
    candidates -> exact-cosine verification), which avoids the O(N^2)
    comparison entirely."""
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    qa = e.select(F.col("vec_id").alias("a"), F.col("v").alias("qv"))
    nb = e.select(F.col("vec_id").alias("b"), F.col("v").alias("nv"))
    cs = qa.join(nb, F.col("a") < F.col("b")).withColumn(
        "cos",
        F.expr(
            f"{dot.format(a='qv', b='nv')} / "
            f"(sqrt({dot.format(a='qv', b='qv')}) * sqrt({dot.format(a='nv', b='nv')}))"
        ),
    )
    return (
        cs.filter(F.col("cos") >= 0.3)
        .select("a", "b", F.round("cos", 4).alias("cos_r"))
        .orderBy("a", "b")
    )


@op("ann_lsh_bucket_pairs", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 120),
sig AS (
  SELECT vec_id,
         (CASE WHEN v[1] - v[33] > 0 THEN 4 ELSE 0 END
        + CASE WHEN v[9] - v[41] > 0 THEN 2 ELSE 0 END
        + CASE WHEN v[17] - v[49] > 0 THEN 1 ELSE 0 END) AS bucket
  FROM e),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b, a.bucket
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT a, b, bucket FROM pairs ORDER BY a, b
""")
def ann_lsh_bucket_pairs(spark, sf_dir):
    """LSH-style bucketing (fixed sparse hyperplanes = coordinate
    differences) -> candidate pairs; the scale path for ann search."""
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    sig = e.select(
        "vec_id",
        (
            F.when(F.expr("v[0] - v[32]") > 0, 4).otherwise(0)
            + F.when(F.expr("v[8] - v[40]") > 0, 2).otherwise(0)
            + F.when(F.expr("v[16] - v[48]") > 0, 1).otherwise(0)
        ).alias("bucket"),
    )
    a = sig.alias("sa")
    b = sig.alias("sb")
    return (
        a.join(b, (F.col("sa.bucket") == F.col("sb.bucket"))
               & (F.col("sa.vec_id") < F.col("sb.vec_id")))
        .select(F.col("sa.vec_id").alias("a"), F.col("sb.vec_id").alias("b"),
                F.col("sa.bucket").alias("bucket"))
        .orderBy("a", "b")
    )


@op("dd_embed_lsh_verify", f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 120),
sig AS (
  SELECT vec_id,
         (CASE WHEN v[1] - v[33] > 0 THEN 4 ELSE 0 END
        + CASE WHEN v[9] - v[41] > 0 THEN 2 ELSE 0 END
        + CASE WHEN v[17] - v[49] > 0 THEN 1 ELSE 0 END) AS bucket
  FROM e),
pairs AS (
  SELECT a.vec_id AS a, b.vec_id AS b
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
cs AS (
  SELECT p.a, p.b,
         list_dot_product(ea.v, eb.v)
           / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
  FROM pairs p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b)
SELECT a, b, round(cos, 4) AS cos_r FROM cs WHERE cos >= 0.3 ORDER BY a, b
""")
def dd_embed_lsh_verify(spark, sf_dir):
    """Scalable embedding near-dup: LSH bucket candidates (the
    ann_lsh_bucket_pairs join shape) -> exact-cosine verification on the
    candidate pairs only.  At scale the candidate set is ~N * bucket_load
    instead of N^2; each verified pair costs one dot product.  Recall is
    bounded by the LSH family (pairs split across all buckets are missed) —
    the exhaustive ground truth for that bound is dd_embed_cosine_pairs."""
    from pyspark.sql import functions as F

    e = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 120).select(
        "vec_id", F.expr("transform(embedding, x -> cast(x as double))").alias("v")
    )
    cand = ann_lsh_bucket_pairs(spark, sf_dir).select("a", "b")
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    cs = (
        cand.join(e.select(F.col("vec_id").alias("a"), F.col("v").alias("qv")), "a")
        .join(e.select(F.col("vec_id").alias("b"), F.col("v").alias("nv")), "b")
        .withColumn(
            "cos",
            F.expr(
                f"{dot.format(a='qv', b='nv')} / "
                f"(sqrt({dot.format(a='qv', b='qv')}) * sqrt({dot.format(a='nv', b='nv')}))"
            ),
        )
    )
    return (
        cs.filter(F.col("cos") >= 0.3)
        .select("a", "b", F.round("cos", 4).alias("cos_r"))
        .orderBy("a", "b")
    )


# ---------------------------------------------------------------------------
# text analysis family
# ---------------------------------------------------------------------------

_STOPS_SQL = "('the'),('a'),('of'),('and'),('in'),('to'),('is'),('on'),('for'),('with')"

@op("tx_langid_en", f"""
{_TOK_CTE},
s(term) AS (VALUES {_STOPS_SQL}),
agg AS (
  SELECT tok.doc_id,
         count(*) AS n_tok,
         sum(CASE WHEN s.term IS NOT NULL THEN 1 ELSE 0 END) AS n_stop
  FROM tok LEFT JOIN s ON tok.term = s.term GROUP BY tok.doc_id)
SELECT doc_id, round(n_stop / n_tok::DOUBLE, 4) AS en_score_r,
       CASE WHEN n_stop / n_tok::DOUBLE >= 0.03 THEN 'en' ELSE 'unk' END AS lang_guess
FROM agg ORDER BY doc_id
""")
def tx_langid_en(spark, sf_dir):
    """Language-ID heuristic: stopword-hit ratio -> en score + guess.

    MAP-ONLY over the token array (size + a stopword filter) — the r5
    form paid an explode + per-doc groupBy exchange for the same two
    integers; zero data shuffles beyond the declared output sort."""
    from pyspark.sql import functions as F

    stops = [s.strip("(')") for s in _STOPS_SQL.split("),(")]
    stops_in = ", ".join(f"'{s}'" for s in stops)
    agg = (
        _t(spark, sf_dir, "documents")
        .select("doc_id",
                F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tok"),
            F.expr(f"size(filter(toks, x -> x in ({stops_in})))")
            .cast("long").alias("n_stop"),
        )
    )
    score = F.col("n_stop") / F.col("n_tok").cast("double")
    return agg.select(
        "doc_id",
        F.round(score, 4).alias("en_score_r"),
        F.when(score >= 0.03, "en").otherwise("unk").alias("lang_guess"),
    ).orderBy("doc_id")


@op("tx_quality", f"""
{_TOK_CTE},
agg AS (
  SELECT doc_id, count(*) AS n_tok, count(DISTINCT term) AS n_uniq,
         sum(length(term)) AS chars
  FROM tok GROUP BY doc_id)
SELECT d.doc_id, d.n_chars, agg.n_tok,
       round(agg.chars / agg.n_tok::DOUBLE, 4) AS avg_tok_len_r,
       round(agg.n_uniq / agg.n_tok::DOUBLE, 4) AS uniq_ratio_r
FROM documents d JOIN agg ON d.doc_id = agg.doc_id ORDER BY d.doc_id
""")
def tx_quality(spark, sf_dir):
    """Quality-scoring features: length, token count, mean token length,
    type/token ratio.

    Scale shape: MAP-ONLY over the token array — n_tok/chars/n_uniq are
    array-native (size / aggregate / array_distinct on the already-split
    tokens), so the op is a projection with zero data shuffles (the r5
    form paid an explode + two-phase distinct groupBy + a doc_id join —
    4 scans / 8 exchanges).  The size >= 1 filter reproduces the old
    inner join against the exploded aggregate (token-less docs had no
    tok rows)."""
    from pyspark.sql import functions as F

    n_tok = F.size("toks")
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "n_chars",
                F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"))
        .filter(n_tok >= 1)
        .select(
            "doc_id", "n_chars",
            n_tok.cast("long").alias("n_tok"),
            F.round(
                F.expr("aggregate(toks, cast(0 as bigint),"
                       " (a, x) -> a + length(x))")
                / n_tok.cast("double"), 4).alias("avg_tok_len_r"),
            F.round(F.size(F.array_distinct("toks"))
                    / n_tok.cast("double"), 4).alias("uniq_ratio_r"),
        )
        .orderBy("doc_id")
    )


@op("tx_repetition", """
WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '),
                                      x -> x <> '') AS toks FROM documents),
tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
agg AS (SELECT doc_id, count(*) AS n_tok, count(DISTINCT term) AS n_uniq
        FROM tok GROUP BY doc_id),
bg AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           i -> toks[i] || ' ' || toks[i + 1])) AS bigram
       FROM t WHERE len(toks) >= 2),
bgc AS (SELECT doc_id, max(c) AS top2g FROM (
          SELECT doc_id, bigram, count(*) AS c FROM bg
          GROUP BY doc_id, bigram) GROUP BY doc_id)
SELECT a.doc_id,
       round(1 - a.n_uniq / a.n_tok::DOUBLE, 4) AS dup_tok_frac_r,
       round(coalesce(b.top2g, 0) * 2 / a.n_tok::DOUBLE, 4) AS top2g_frac_r,
       CASE WHEN round(1 - a.n_uniq / a.n_tok::DOUBLE, 4) <= 0.6
             AND round(coalesce(b.top2g, 0) * 2
                       / a.n_tok::DOUBLE, 4) <= 0.15
            THEN 1 ELSE 0 END AS keep_i
FROM agg a LEFT JOIN bgc b USING (doc_id) ORDER BY a.doc_id
""")
def tx_repetition(spark, sf_dir):
    """Gopher-style repetition filter (Rae et al. 2021 §A1.1, token-level
    analogs): per doc, the duplicate-token fraction (1 - types/tokens) and
    the fraction of tokens covered by the single most frequent bigram;
    keep_i = 1 when both sit under the pipeline thresholds (<= 0.6 /
    <= 0.15 — the rounded values are compared so the Spark and DuckDB
    sides agree at the boundary).

    Scale shape: MAP-ONLY over the token array — everything is computed
    per doc from the already-split tokens with zero data shuffles:
    n_uniq via array_distinct, and the top-bigram count by sorting the
    doc's bigram array and taking the longest equal run (array_sort +
    a higher-order aggregate; O(L log L) per doc on ~hundreds-token
    webtext docs).  The r5 form paid two full-corpus shuffles — a
    (doc_id, bigram) groupBy and a per-doc groupBy + join (4 scans /
    12 exchanges in the executed plan); at 10^12 docs those exchanges
    are the entire cost, so per-doc array work strictly wins."""
    from pyspark.sql import functions as F

    n_tok = F.size("toks")
    # longest equal run in the sorted per-doc bigram array == the count
    # of the most frequent bigram (equal bigrams sort adjacent)
    top2g = F.when(
        n_tok >= 2,
        F.expr(
            "aggregate("
            "  array_sort(transform(slice(toks, 1, size(toks) - 1),"
            "    (x, i) -> concat(x, ' ', toks[i + 1]))),"
            "  named_struct('prev', cast(null as string),"
            "               'run', cast(0 as bigint),"
            "               'best', cast(0 as bigint)),"
            "  (acc, x) -> named_struct("
            "    'prev', x,"
            "    'run', CASE WHEN x = acc.prev THEN acc.run + 1"
            "           ELSE cast(1 as bigint) END,"
            "    'best', greatest(acc.best,"
            "      CASE WHEN x = acc.prev THEN acc.run + 1"
            "      ELSE cast(1 as bigint) END)),"
            "  acc -> acc.best)"
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    dup = F.round(1 - F.size(F.array_distinct("toks"))
                  / n_tok.cast("double"), 4)
    t2g = F.round(top2g * 2 / n_tok.cast("double"), 4)
    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id",
                F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"))
        .filter(n_tok >= 1)
        .select("doc_id", dup.alias("dup_tok_frac_r"),
                t2g.alias("top2g_frac_r"))
        .withColumn("keep_i",
                    ((F.col("dup_tok_frac_r") <= 0.6)
                     & (F.col("top2g_frac_r") <= 0.15)).cast("int"))
        .orderBy("doc_id")
    )


@op("tx_token_counts", f"""
WITH ws AS (SELECT doc_id,
        len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_ws,
        len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re
    FROM documents)
SELECT count(*) AS n_docs, sum(n_ws)::BIGINT AS ws_tokens,
       sum(n_re)::BIGINT AS re_tokens FROM ws
""")
def tx_token_counts(spark, sf_dir):
    """Token counting two ways: whitespace split vs regex word extraction."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "documents")
        .select(
            F.expr("size(filter(split(text, ' '), x -> x != ''))").alias("n_ws"),
            F.expr("size(regexp_extract_all(text, '[a-z0-9]+', 0))").alias("n_re"),
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_ws").alias("ws_tokens"),
            F.sum("n_re").alias("re_tokens"),
        )
    )


_FP_K = 3   # words per k-gram
_FP_W = 4   # grams per sampling window

@op("tx_fingerprints", f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
pos AS (
  SELECT doc_id, l, unnest(range(1, len(l) - {_FP_K} + 2)) AS i
  FROM toks WHERE len(l) >= {_FP_K}),
grams AS (
  SELECT doc_id, (i - 1) // {_FP_W} AS win,
         {_HEX_DUCK.format(x=f"array_to_string(l[i:i+{_FP_K - 1}], ' ')")} AS hv
  FROM pos)
SELECT doc_id, win, min(hv) AS fp
FROM grams GROUP BY doc_id, win ORDER BY doc_id, win
""")
def tx_fingerprints(spark, sf_dir):
    """Document fingerprinting: k-gram rolling hashes, min-sampled per
    window (winnowing-style, tumbling windows) — robust-to-local-edit doc
    signatures for near-dup detection, vs f8's whole-doc hash.  One
    explode + one groupBy; the gram hash is the portable md5 family."""
    return _winnow(_t(spark, sf_dir, "documents")).orderBy("doc_id", "win")


def _winnow(docs):
    """(doc_id, text) rows -> (doc_id, win, fp): the whitespace k-gram
    hashes of each doc, min-sampled per tumbling window of _FP_W grams."""
    from pyspark.sql import functions as F

    toks = docs.select(
        "doc_id", F.expr("filter(split(text, ' '), x -> x != '')").alias("l")
    ).filter(F.size("l") >= _FP_K)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, size(l) - {_FP_K} + 1),"
                f" i -> concat_ws(' ', slice(l, i, {_FP_K})))"
            )
        ).alias("pos", "g"),
    ).select(
        "doc_id",
        F.floor(F.col("pos") / _FP_W).alias("win"),
        F.expr(_HEX_SPARK.format(x="g")).alias("hv"),
    )
    return grams.groupBy("doc_id", "win").agg(F.min("hv").alias("fp"))


@op("tx_decontaminate_top50", f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
  FROM documents),
pos AS (
  SELECT doc_id, l, unnest(range(1, len(l) - {_FP_K} + 2)) AS i
  FROM toks WHERE len(l) >= {_FP_K}),
grams AS (
  SELECT doc_id, (i - 1) // {_FP_W} AS win,
         {_HEX_DUCK.format(x=f"array_to_string(l[i:i+{_FP_K - 1}], ' ')")} AS hv
  FROM pos),
fps AS (SELECT DISTINCT doc_id, min(hv) AS fp
        FROM grams GROUP BY doc_id, win),
evalf AS (SELECT DISTINCT fp FROM fps WHERE doc_id % 97 = 0)
SELECT f.doc_id, count(DISTINCT f.fp) AS n_shared
FROM fps f JOIN evalf e ON f.fp = e.fp
WHERE f.doc_id % 97 <> 0
GROUP BY f.doc_id ORDER BY n_shared DESC, doc_id LIMIT 50
""")
def tx_decontaminate_top50(spark, sf_dir):
    """Benchmark DECONTAMINATION — the pretrain-pipeline step that drops
    training docs overlapping an evaluation set: the eval set here is the
    deterministic ~1% slice doc_id % 97 == 0, overlap = shared winnowing
    fingerprints (same k-gram/window scheme as tx_fingerprints, so a near-
    verbatim excerpt is caught even with local edits, unlike whole-doc
    hashes).  Returns the 50 most-contaminated train docs with their
    shared-fingerprint counts.

    Scale shape: one fingerprint scan of the corpus; the eval fingerprint
    set is corpus_size/97-small and BROADCAST, so the contamination check
    is a map-side semi-join — no all-pairs, no corpus-sized shuffle beyond
    the per-doc fingerprint groupBy that tx_fingerprints already pays.
    The doc_id % 97 split is pushed BELOW the fingerprinting into the
    parquet scans (fingerprints are per-doc, so filtering first is
    value-identical): the r5 plan fingerprinted the FULL corpus twice —
    once per branch; now the eval branch tokenizes only its ~1% slice, so
    total fingerprint work is ~1x the corpus instead of 2x."""
    from pyspark.sql import functions as F

    def fps_of(pred):
        return (_winnow(_t(spark, sf_dir, "documents").filter(pred))
                .select("doc_id", "fp").distinct())

    evalf = fps_of(F.col("doc_id") % 97 == 0).select("fp").distinct()
    return (
        fps_of(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(evalf), "fp")
        .groupBy("doc_id")
        .agg(F.countDistinct("fp").alias("n_shared"))
        .orderBy(F.desc("n_shared"), "doc_id").limit(50)
    )


_SAMP_BUDGET = 2000  # tokens per lang — bites at every sf level

@op("samp_token_budget", f"""
WITH ws AS (
  SELECT lang, doc_id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
  FROM documents WHERE text IS NOT NULL),
c AS (
  SELECT lang, doc_id, n_tok,
         sum(n_tok) OVER (PARTITION BY lang
                          ORDER BY n_tok DESC, doc_id) AS cum
  FROM ws WHERE n_tok > 0)
SELECT lang, doc_id, n_tok FROM c WHERE cum <= {_SAMP_BUDGET}
ORDER BY lang, doc_id
""")
def samp_token_budget(spark, sf_dir):
    """Token-BUDGETED mixture sampling — pick, per language, the docs a
    fixed training-token budget admits (longest-first, doc_id tiebreak):
    the data-mixture construction step of a pretrain pipeline ("X tokens
    of each language").

    Semantics match the oracle's per-lang cumulative-sum window, but the
    plan is the 100 TB shape, NOT a per-lang global sort: token counts are
    aggregated per (lang, n_tok) — a map-side-combining shuffle of (long,
    long) rows — the budget cutoff length and mid-tie remainder are
    derived on that TINY aggregate via a window over distinct lengths.
    Fully-admitted lengths (k == cnt) pass through as a semi-join with NO
    per-doc rank; ONLY the cutoff lengths (k < cnt — at most one per lang)
    pay a row_number window to break doc_id ties, so a corpus with one
    dominant exact length never sorts that group in a single task.  A
    naive `sum() OVER (PARTITION BY lang ORDER BY ...)` would sort every
    doc of a language in one task — billions of rows per partition at
    corpus scale."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    B = _SAMP_BUDGET
    ws = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "lang", "doc_id",
            F.expr("size(filter(split(text, ' '), x -> x != ''))")
            .alias("n_tok"),
        )
        .filter(F.col("n_tok") > 0)
    )
    per_n = ws.groupBy("lang", "n_tok").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_tok"))
    fits = (
        per_n.withColumn(
            "prefix",
            F.coalesce(
                F.sum(F.col("n_tok") * F.col("cnt")).over(w)
                - F.col("n_tok") * F.col("cnt"), F.lit(0)),
        )
        # docs of this length with rank k (1-based, doc_id order) are in
        # the budget iff prefix + k*n_tok <= B
        .withColumn("k_fit",
                    F.floor((F.lit(B) - F.col("prefix")) / F.col("n_tok")))
        .filter(F.col("k_fit") > 0)
        .select("lang", "n_tok", F.least("cnt", "k_fit").alias("k"),
                F.col("cnt"))
    )
    # fully-admitted lengths: every doc of (lang, n_tok) is in budget —
    # a semi-join, no per-doc window
    full = ws.join(
        F.broadcast(fits.filter(F.col("k") >= F.col("cnt"))
                    .select("lang", "n_tok")),
        ["lang", "n_tok"], "left_semi")
    # cutoff lengths (k < cnt): only these ties need a per-doc rank, and
    # there is at most one such length per lang
    cut = fits.filter(F.col("k") < F.col("cnt")).select("lang", "n_tok", "k")
    wt = Window.partitionBy("lang", "n_tok").orderBy("doc_id")
    partial = (
        ws.join(F.broadcast(cut), ["lang", "n_tok"])
        .withColumn("_r", F.row_number().over(wt))
        .filter(F.col("_r") <= F.col("k"))
        .drop("_r", "k")
    )
    return (
        full.unionByName(partial)
        .select("lang", "doc_id", "n_tok")
        .orderBy("lang", "doc_id")
    )


@op("samp_balance_lang", """
WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY lang),
m AS (SELECT min(cnt)::BIGINT AS m FROM c),
r AS (SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      FROM documents)
SELECT lang, doc_id FROM r CROSS JOIN m WHERE rn <= m.m
ORDER BY lang, doc_id
""")
def samp_balance_lang(spark, sf_dir):
    """Language-BALANCED sampling — downsample every language to the
    smallest language's doc count (the domain-mixing step of a pretrain
    pipeline: equalize a skewed source distribution).  Per language,
    keep the m docs with the smallest (md5(doc_id), doc_id) key — a
    deterministic uniform-without-replacement sample that is stable
    across runs, partitionings, and engines (md5 hex is lexicographically
    portable; f8's oracle pins the Spark==DuckDB parity).

    Scale shape: the per-lang doc counts are a map-side-combining
    aggregate of (lang) keys; the m smallest keys per lang are taken with
    a two-stage rank — stage 1 ranks within (lang, salt) partitions (S
    parallel sorts of count/S rows, nothing ranks a whole language in one
    task), stage 2 ranks only the <= S*m stage-1 survivors per lang.
    Exact: a doc in a language's global smallest-m is in its salted
    subgroup's smallest-m.  When m itself is a corpus fraction (balancing
    to a near-median language), swap stage 2 for a hash-threshold cut at
    m/count quantile — approximate but fully map-side; the exact
    two-stage form is right while S*m rows fit one task's sort."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id")
    m_df = (docs.groupBy("lang").agg(F.count("*").alias("cnt"))
            .agg(F.min("cnt").alias("m")))
    nsalt = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    keyed = docs.select(
        "lang", "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.pmod(F.xxhash64("doc_id"), F.lit(nsalt)).alias("salt"),
    ).crossJoin(F.broadcast(m_df))
    w1 = Window.partitionBy("lang", "salt").orderBy("h", "doc_id")
    w2 = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        keyed.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= F.col("m"))
        .withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") <= F.col("m"))
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


# pretrain-filter gates (see pipeline_pretrain_filter): all three bite on
# the synthetic corpus without zeroing it (sf0.01: 394/408/401 of 500 pass
# individually, 246 conjunctively)
_PF_MIN_TOK = 30
_PF_MIN_UNIQ = 0.35
_PF_MIN_EN = 0.03


@op("pipeline_pretrain_filter", f"""
{_CLOSURE_CTES},
s(term) AS (VALUES {_STOPS_SQL}),
agg AS (SELECT tok.doc_id, count(*) AS n_tok,
               count(DISTINCT tok.term) AS n_uniq,
               sum(CASE WHEN s.term IS NOT NULL THEN 1 ELSE 0 END) AS n_stop
        FROM tok LEFT JOIN s ON tok.term = s.term GROUP BY tok.doc_id)
SELECT agg.doc_id, agg.n_tok,
       round(agg.n_uniq / agg.n_tok::DOUBLE, 4) AS uniq_ratio_r,
       round(agg.n_stop / agg.n_tok::DOUBLE, 4) AS en_score_r
FROM agg LEFT JOIN lbl ON agg.doc_id = lbl.doc_id
WHERE (lbl.doc_id IS NULL OR lbl.cluster_id = agg.doc_id)
  AND agg.n_tok >= {_PF_MIN_TOK}
  AND agg.n_uniq / agg.n_tok::DOUBLE >= {_PF_MIN_UNIQ}
  AND agg.n_stop / agg.n_tok::DOUBLE >= {_PF_MIN_EN}
ORDER BY agg.doc_id
""")
def pipeline_pretrain_filter(spark, sf_dir):
    """The COMPOSED training-data prep flow, end to end in one query:
    near-dup dedup (minhash pairs → connected components →
    keep-one-per-cluster) ∩ language gate (stopword-ratio en score) ∩
    quality gates (token count, type/token ratio) — what a pretraining
    pipeline actually runs over raw webtext, value-checked as a whole
    against one DuckDB oracle (recursive-CTE closure + the same gates).

    Scale shape: the per-doc metrics are MAP-ONLY over the token array
    (size / array_distinct / a stopword filter on the already-split
    tokens — the r5 form paid an explode + two-phase-distinct groupBy
    exchange for the same integers); the non-canonical-member drop set is
    applied as a plain left anti-join on doc_id (no broadcast hint — at
    real webtext dup density that set is a corpus fraction, so AQE must
    be free to choose a shuffled anti-join); gates are row-local filters
    — no corpus-sized shuffle anywhere on the metrics side."""
    from pyspark.sql import functions as F

    stops = [s.strip("(')") for s in _STOPS_SQL.split("),(")]
    stops_in = ", ".join(f"'{s}'" for s in stops)
    agg = (
        _t(spark, sf_dir, "documents")
        .select("doc_id",
                F.expr("filter(split(text, ' '), x -> x != '')").alias("toks"))
        .filter(F.size("toks") >= 1)
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tok"),
            F.size(F.array_distinct("toks")).cast("long").alias("n_uniq"),
            F.expr(f"size(filter(toks, x -> x in ({stops_in})))")
            .cast("long").alias("n_stop"),
        )
    )
    _ids, drop = _dup_drop(spark, sf_dir)
    uniq = F.col("n_uniq") / F.col("n_tok").cast("double")
    en = F.col("n_stop") / F.col("n_tok").cast("double")
    return (
        agg.join(drop, "doc_id", "left_anti")
        .filter((F.col("n_tok") >= _PF_MIN_TOK)
                & (uniq >= _PF_MIN_UNIQ) & (en >= _PF_MIN_EN))
        .select("doc_id", "n_tok",
                F.round(uniq, 4).alias("uniq_ratio_r"),
                F.round(en, 4).alias("en_score_r"))
        .orderBy("doc_id")
    )

# ---------------------------------------------------------------------------
# relational coverage (scan/filter/join/agg/window/sort on the star schema)
# ---------------------------------------------------------------------------


@op("rel_q1_pricing", """
SELECT l_returnflag, l_linestatus,
       sum(l_quantity) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS n
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
""")
def rel_q1_pricing(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("n"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@op("rel_nation_revenue", """
SELECT n.n_name AS nation, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY revenue DESC, nation
""")
def rel_nation_revenue(spark, sf_dir):
    from pyspark.sql import functions as F

    l = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation")
    )


@op("rel_top_order_per_cust", """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk
  FROM orders) WHERE rnk = 1 AND o_custkey < 100 ORDER BY o_custkey
""")
def rel_top_order_per_cust(spark, sf_dir):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rnk", F.row_number().over(w))
        .filter((F.col("rnk") == 1) & (F.col("o_custkey") < 100))
        .select("o_custkey", "o_orderkey", "o_totalprice")
        .orderBy("o_custkey")
    )


@op("rel_event_hourly", """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour_s, event_type,
       count(*) AS n, round(sum(value), 2) AS value_sum
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""")
def rel_event_hourly(spark, sf_dir):
    """Tumbling event-time window aggregation (batch form of the streaming
    windowed agg in pysearch.streaming)."""
    from pyspark.sql import functions as F

    return (
        _t(spark, sf_dir, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias("hour_s"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
        .orderBy("hour_s", "event_type")
    )
