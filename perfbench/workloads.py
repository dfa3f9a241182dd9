"""The benchmark's workloads.

Each workload starts Spark as ``local[nproc]`` in this process, builds what
it needs in set-up, then drives pysearch's public entry points from one
closed-loop client (the next call is sent only after the previous one
returned) and checks every answer.  Module functions are always called
through their module (``build.build_index``), so the traced run's wrappers
see every call.
"""

from __future__ import annotations

import os
import random
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict

import gen
import layers
import spans as tracing

NPROC = len(os.sched_getaffinity(0))

HERE = os.path.dirname(os.path.abspath(__file__))

# query_ingest: a warm Searcher over a base index built in set-up, then one
# micro-batch written beside the reads
BASE_DOCS = 1000
QUERY_LOG = 80
PERIOD = 20        # the query log's mode/class schedule repeats every 20
MIN_PASSES = 2     # serving passes over the log's first period, at least
BATCH_SIZE = 32
BATCH_DOCS = 300
# driver-local gate, in postings per doc of the index after the batch.  The
# default gate (500k postings) keeps every query of a 1,300-doc index
# driver-local, so the benchmark scales it to the index: at 3 x n every
# rare and mid query stays local, and so does nearly every head query
# (head terms average about 0.45 x n postings each), while each heavy
# query (seven of the nine highest-df terms, about 5 x n postings or more
# before the batch) takes the distributed path.  The prune gate is set to
# the same volume, so every distributed any-query runs the block-max
# pruned path, as a query above the default prune gate does.  The
# measured split per class is in the report (local_ratio_by_class).
GATE_POSTINGS_PER_DOC = 3.0
# small segments, so an index holds more than PRUNE_FIRST_SEGMENTS (8)
# segments and pruning reaches its second phase
SEGMENT_SIZE = 100
NRT_QUERIES = 1
DELETE_URLS = 20
# the serving calls call_ms averages, one of each per run
SPARK_BACKED = ("heavy", "unpruned", "search", "batch")

# ops_analytics: the three carried ROADMAP ops (dedup, text, streaming
# arrival) over the registry's own sf0.01 tables (fixed; the seed sets only
# the op order)
OPS_DIR = os.path.join(HERE, "data", "sf0.01")
OPS_MIN_PASSES = 3
OPS = (
    "dd_simhash_band_pairs", "tx_decontaminate_top50",
    "st_arrival_bm25_top10",
)


class Ctx:
    """Per-run state: Spark, tracer, samples, call and failure counts."""

    def __init__(self, workload, seed, seconds, trace, work):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace = trace
        self.work = work
        self.cache = gen.InputCache(os.path.join(work, "cache"))
        self.run_dir = os.path.join(work, "runs", f"{workload}-s{seed}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.event_dir = os.path.join(self.run_dir, "eventlog")
        self.spark = None
        self.tr = tracing.NullTracer()
        self.restore = None
        self.attempted = 0
        self.failed = 0
        self.problems: list = []
        self.samples = defaultdict(list)   # call kind -> seconds
        self.named: dict = {}              # workload-specific numbers
        self.setup_s = None
        self.commit_dirs: list = []

    # -- calls and checks ---------------------------------------------------
    def call(self, kind, fn, *a, **kw):
        """Run one public call, timed; a raise counts as a failed call."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception as e:  # noqa: BLE001 - every failure is reported
            self.failed += 1
            self.problems.append(f"{kind}: {type(e).__name__}: {e}")
            traceback.print_exc()
            return None
        self.samples[kind].append(time.perf_counter() - t0)
        return out

    def call_jobs(self, kind, fn, *a, **kw):
        """``call`` in a job group of its own, outside the timed part;
        returns (result, number of Spark jobs the call ran)."""
        sc = self.spark.sparkContext
        group = f"perfbench-{self.attempted}"
        sc.setJobGroup(group, kind)
        try:
            out = self.call(kind, fn, *a, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    def expect(self, ok: bool, what: str) -> None:
        """A wrong answer: the call that produced it counts as failed."""
        if not ok:
            self.failed += 1
            self.problems.append(f"mismatch: {what}")
            print(f"perfbench: mismatch: {what}", file=sys.stderr)

    # -- Spark ----------------------------------------------------------------
    def start_spark(self):
        from pysearch import session

        tmp = os.environ["TMPDIR"]
        extra = {
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.event_dir)
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
            self.tr = tracing.Tracer()
        with self.tr.span("session.start", jobs=False):
            self.spark = session.build_spark(
                master=f"local[{NPROC}]", app_name=f"perfbench-{self.workload}",
                shuffle_partitions=NPROC, extra=extra)
        if self.trace:
            self.tr.spark = self.spark
            self.restore = tracing.instrument(self.tr)
        return self.spark

    def stop_spark(self):
        """Stop Spark and wait for its JVM to exit."""
        if self.restore is not None:
            self.restore()
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None

    def record_commit_dirs(self, ix):
        from pysearch import lineage

        lay = lineage.IndexLayout(ix)
        self.commit_dirs.append(sum(len(lay.list_commits(d)) for d in
                                    (lay.docs, lay.postings, lay.term_stats)))


# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

def pct(samples, q):
    s = sorted(samples)
    if not s:
        return None
    i = (len(s) - 1) * q
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def latency(samples) -> dict:
    """Median and the highest of p90/p95/p99 with ten or more samples
    beyond it, in ms, with the sample count."""
    out = {"n": len(samples)}
    if not samples:
        return out
    out["p50_ms"] = 1000 * statistics.median(samples)
    for q in (0.90, 0.95, 0.99):
        if len(samples) * (1 - q) >= 10:
            out[f"p{round(q * 100)}_ms"] = 1000 * pct(samples, q)
    return out


def hits(df) -> tuple:
    """search_ids result as a hashable (doc_id, score) tuple."""
    return tuple(zip(df["doc_id"].tolist(), df["score"].tolist()))


def du(path) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


def check_index(ctx, ix):
    from pysearch import verify

    problems = ctx.call("verify", verify.verify_index, ctx.spark, ix)
    ctx.expect(problems == [], f"verify_index({os.path.basename(ix)}): "
                               f"{problems}")


# ---------------------------------------------------------------------------
# query_ingest
# ---------------------------------------------------------------------------

def _query_call(s, q):
    kind = q["kind"]
    if kind == "count":
        return s.count(q["q"])
    if kind == "page2":
        return s.search_ids(q["q"], offset=10)
    return s.search_ids(q["q"], mode=kind)


def _answer(out):
    return out if isinstance(out, int) else hits(out)


def query_inputs(cache, seed):
    """The base table with its query log, and the micro-batch."""
    inp = cache.webtext(seed, BASE_DOCS, tag="query", n_queries=QUERY_LOG)
    batch = cache.webtext(seed, BATCH_DOCS, tag="query-batch0",
                          dup_frac=0.10, dup_pool=inp["texts_sample"])
    return inp, batch


def wl_query_ingest(ctx):
    """Set-up builds the base index and loads a Searcher; then a serving
    loop for ``seconds``, one ingest cycle (NRT search, append, first
    visible search, compaction, delete) and a final query pass."""
    from pysearch import build, query

    inp, batch_inp = query_inputs(ctx.cache, ctx.seed)
    gate = int(GATE_POSTINGS_PER_DOC * (BASE_DOCS + BATCH_DOCS))
    os.environ["PYSEARCH_LOCAL_MAX_POSTINGS"] = str(gate)
    t0 = time.perf_counter()
    spark = ctx.start_spark()
    ix = os.path.join(ctx.run_dir, "index")
    ctx.call("build", build.build_index, spark,
             spark.read.parquet(inp["path"]), ix, store_positions=True,
             segment_size=SEGMENT_SIZE)
    s = ctx.call("load", query.Searcher, spark, ix)
    ctx.setup_s = time.perf_counter() - t0
    if s is None:
        return {}
    s.prune_min_postings = gate
    log = inp["queries"]
    batch = {q["qid"]: q["q"] for q in log if q["kind"] == "any"}
    batch = dict(list(batch.items())[:BATCH_SIZE])
    ctx.named["build_docs_per_s"] = BASE_DOCS / ctx.samples["build"][0]
    ctx.named["index_bytes_per_text_byte"] = du(ix) / inp["text_bytes"]
    ctx.record_commit_dirs(ix)

    _serve(ctx, s, log, batch)
    _ingest(ctx, spark, s, ix, batch_inp, log)
    check_index(ctx, ix)

    ingest_kinds = ("nrt", "append", "search_ids_ingest", "compact", "delete")
    ctx.named.update({
        "query": latency(ctx.samples["search_ids"]),
        "heavy_query": latency(ctx.samples["heavy"]),
        "query_after_compaction": latency(ctx.samples["search_ids_final"]),
        "spans": latency(ctx.samples["search"]),
        "batch_qps": _rate(BATCH_SIZE, ctx.samples["batch"]),
        "append_docs_per_s": _rate(BATCH_DOCS, ctx.samples["append"]),
        "visible": latency(ctx.samples["visible"]),
        "nrt": latency(ctx.samples["nrt"]),
        "query_after_writes": latency(ctx.samples["search_ids_ingest"]),
        "compact_s": sum(ctx.samples["compact"]),
        "commit_dirs_after_build_and_append": ctx.commit_dirs,
        "sizes": {"base_docs": BASE_DOCS, "batch_docs": BATCH_DOCS,
                  "base_text_bytes": inp["text_bytes"],
                  "query_log": QUERY_LOG, "segment_size": SEGMENT_SIZE,
                  "local_gate_postings": gate, "prune_gate_postings": gate},
    })
    # mean latency of the Spark-backed serving calls.  Over ten seeds on a
    # shared 4-vCPU host these spread 10-15% each (interquartile range over
    # median), against 22% for the median driver-local call taken at each
    # query's fastest of three passes and 52% for its plain median: a local
    # call's ~40 ms is mostly py4j round trips, which a loaded host slows
    # the most
    spark_backed = [ctx.samples[k] for k in SPARK_BACKED]
    call_ms = (1000 * sum(sum(v) for v in spark_backed) / len(SPARK_BACKED)
               if all(spark_backed) else None)
    return {"call_ms": call_ms,
            "cycle_s": sum(sum(ctx.samples[k]) for k in ingest_kinds)}


def _serve(ctx, s, log, batch):
    """Closed-loop driver-local search_ids: whole passes over the log's
    first period, the heavy query left out, for ``seconds`` and at least
    MIN_PASSES passes, so every run serves the same mix and every answer
    is checked against the first pass.  Then the Spark-backed serving
    calls: the heavy query (distributed, pruned), the same query
    unpruned, one search() with spans and one search_ids_many batch."""
    local = [q for q in log[:PERIOD] if q["cls"] != "heavy"]
    heavy = next(q for q in log[:PERIOD] if q["cls"] == "heavy")
    answers, calls = {}, []   # calls: (query, seconds, Spark jobs)
    deadline = time.perf_counter() + ctx.seconds
    passes = 0
    while passes < MIN_PASSES or time.perf_counter() < deadline:
        for q in local:
            out, n_jobs = ctx.call_jobs("search_ids", _query_call, s, q)
            if out is None:
                continue
            calls.append((q, ctx.samples["search_ids"][-1], n_jobs))
            a = _answer(out)
            ctx.expect(answers.setdefault(q["qid"], a) == a,
                       f"top-k of {q['qid']} changed between passes")
        passes += 1
    ctx.named["serving_passes"] = passes

    # prune=True is the default; the same query unpruned must give the
    # same top-k
    out, n_on = ctx.call_jobs("heavy", _query_call, s, heavy)
    if out is not None:
        calls.append((heavy, ctx.samples["heavy"][-1], n_on))
        answers[heavy["qid"]] = hits(out)
        off, n_off = ctx.call_jobs("unpruned", s.search_ids, heavy["q"],
                                   prune=False)
        ctx.named["prune_check_jobs"] = {heavy["qid"]: {"on": n_on,
                                                        "off": n_off}}
        if off is not None:
            ctx.expect(hits(off) == answers[heavy["qid"]],
                       f"prune on/off for {heavy['qid']}")
    _record_split(ctx, "", calls)

    # search() joins the same top-k back to spans
    sq = next(q for q in local if q["kind"] == "any")
    rows = ctx.call("search", lambda: s.search(sq["q"]).collect())
    if rows is not None and sq["qid"] in answers:
        ctx.expect(tuple((r["doc_id"], r["score"]) for r in rows)
                   == answers[sq["qid"]],
                   f"search() vs search_ids for {sq['qid']}")
        ctx.expect(all(r["spans"] is not None for r in rows),
                   f"search() of {sq['qid']} returned no spans")
    # batch members equal their single search_ids answers
    out = ctx.call("batch", s.search_ids_many, batch)
    if out is not None:
        per_q = defaultdict(list)
        for qid, d, sc in zip(out["qid"], out["doc_id"], out["score"]):
            per_q[qid].append((d, sc))
        for qid in batch:
            if qid in answers:
                ctx.expect(tuple(per_q.get(qid, [])) == answers[qid],
                           f"search_ids_many vs search_ids for {qid}")


def _ingest(ctx, spark, s, ix, batch_inp, log):
    """One micro-batch in ``foreach_batch_nrt`` order: NRT answer over
    index + batch, append, the search that must now see the batch,
    compaction, a delete of seeded urls, and a final pass that must not
    see them."""
    from pysearch import build, compact, delete, streaming

    # head queries: local, with enough hits that batch docs enter them
    nrt_q = {q["qid"]: q["q"] for q in log
             if q["kind"] == "any" and q["cls"] == "head"}
    nrt_q = dict(list(nrt_q.items())[:NRT_QUERIES])
    bdf = spark.read.parquet(batch_inp["path"])
    nrt = ctx.call("nrt", streaming.search_with_arrivals, s, bdf, nrt_q)
    t_append = time.perf_counter()
    ctx.call("append", build.build_index, spark, bdf, ix, append=True)
    after = {}
    for qid, q in nrt_q.items():
        after[qid] = ctx.call("search_ids_ingest", s.search_ids, q)
        if len(after) == 1:
            ctx.samples["visible"].append(time.perf_counter() - t_append)
    ctx.record_commit_dirs(ix)
    url_of = _url_map(s)
    if nrt is not None and all(v is not None for v in after.values()):
        _check_nrt(ctx, url_of, nrt, after)

    ctx.call("compact", compact.compact_index, spark, ix)

    # the deleted urls include each query's top hit, so the final pass
    # sees deletes that change answers.  They are left pending: a
    # compaction that purges them took twice as long as one that merges
    # commits only, more than the run's time budget allows
    rng = random.Random(ctx.seed)
    urls = {url_of.get(int(df["doc_id"].iloc[0])) for df in after.values()
            if df is not None and len(df)}
    urls |= set(rng.sample(sorted(set(url_of.values()) - urls),
                           DELETE_URLS - len(urls)))
    ctx.call("delete", delete.delete_docs, spark, ix, urls=sorted(urls))

    # final pass: the first period's driver-local queries plus the NRT
    # queries, on the compacted index with the deletes pending
    final = [q for q in log[:PERIOD] if q["cls"] != "heavy"]
    final += [q for q in log if q["qid"] in nrt_q and q not in final]
    calls, finals, finals_by_qid = [], [], {}
    for q in final:
        out, n_jobs = ctx.call_jobs("search_ids_final", _query_call, s, q)
        if out is not None:
            calls.append((q, ctx.samples["search_ids_final"][-1], n_jobs))
            if not isinstance(out, int):
                finals.append(out)
                finals_by_qid[q["qid"]] = out
    _record_split(ctx, "_after_compaction", calls)
    # compaction keeps doc ids, so the map taken after the append holds
    deleted = {d for d, u in url_of.items() if u in urls}
    back = {d for out in finals for d in out["doc_id"].tolist()} & deleted
    ctx.expect(not back, f"deleted docs returned: {sorted(back)}")
    # a pending delete leaves the survivors' scores as they were
    for qid, df in after.items():
        if df is None or qid not in finals_by_qid:
            continue
        now = dict(hits(finals_by_qid[qid]))
        ctx.expect(all(now[d] == sc for d, sc in hits(df) if d in now),
                   f"a score moved by compaction or delete for {qid}")


def _record_split(ctx, suffix, calls):
    """Per-class latency and local ratio (share of calls that ran no Spark
    job) of (query, seconds, jobs) calls.  Both sides of the local gate
    must be served: a gate change that sends all traffic one way makes this
    a different workload."""
    by_class, jobs_by_class = defaultdict(list), defaultdict(list)
    for q, t, n in calls:
        by_class[q["cls"]].append(t)
        jobs_by_class[q["cls"]].append(n)
    ctx.named["calls_with_jobs" + suffix] = [
        f"{q['qid']} {q['kind']}/{q['cls']}: {n}" for q, _t, n in calls if n]
    ctx.named["query_by_class" + suffix] = {
        c: latency(v) for c, v in sorted(by_class.items())}
    ctx.named["local_ratio_by_class" + suffix] = {
        c: sum(1 for n in v if n == 0) / len(v)
        for c, v in sorted(jobs_by_class.items())}
    heavy = jobs_by_class["heavy"]
    ctx.expect(all(heavy), f"a heavy query stayed driver-local "
                           f"(jobs {heavy})")
    ctx.expect(0 in jobs_by_class["rare"],
               "no rare query stayed driver-local")


def _rate(per_call, samples):
    return per_call * len(samples) / sum(samples) if samples else None


def _url_map(s) -> dict:
    """doc_id -> url over the Searcher's current docs table."""
    return {r["doc_id"]: r["url"]
            for r in s.docs.select("doc_id", "url").collect()}


def _check_nrt(ctx, url_of, nrt, after):
    """The NRT answer must be bit-identical to the same queries after the
    append: same urls, same order, same scores."""
    want = defaultdict(list)
    for r in nrt.itertuples(index=False):
        want[r.qid].append((r.url, float(r.score)))
    for qid, df in after.items():
        got = [(url_of.get(d), float(sc)) for d, sc in hits(df)]
        ctx.expect(got == want.get(qid, []),
                   f"NRT answer vs post-append search for {qid}")


# ---------------------------------------------------------------------------
# ops_analytics
# ---------------------------------------------------------------------------

class _Collected:
    """A collected result in the shape ``oracle_check.compare`` reads."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def oracle_answers(cache_root):
    """Each op's DuckDB ``oracle_sql`` answer over OPS_DIR, cached as a
    pickled DataFrame keyed by the SQL text (the tables are fixed)."""
    import hashlib

    import pandas as pd

    from pysearch.ops import OPS as REGISTRY
    from tools.oracle_check import TABLES

    sqls = {name: REGISTRY[name][1] for name in OPS}
    key = hashlib.sha256(repr(sorted(sqls.items())).encode()).hexdigest()
    d = os.path.join(cache_root, f"oracle-{key[:16]}")
    paths = {name: os.path.join(d, f"{name}.pkl") for name in OPS}
    if not all(os.path.exists(p) for p in paths.values()):
        import duckdb

        os.makedirs(d, exist_ok=True)
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(OPS_DIR, t + '.parquet')}'")
        for name, sql in sqls.items():
            con.sql(sql).df().to_pickle(paths[name] + ".tmp")
            os.replace(paths[name] + ".tmp", paths[name])
        con.close()
    return {name: pd.read_pickle(p) for name, p in paths.items()}


def wl_ops_analytics(ctx):
    """Set-up starts Spark and runs one pass, which takes the ops' cold
    start; its answers are then checked against the DuckDB oracles.  Timed
    passes follow until ``seconds`` have elapsed, at least
    OPS_MIN_PASSES; each op reports its best time over them, which a burst
    of load from outside the run on one pass does not move."""
    from pysearch.ops import OPS as REGISTRY
    from tools.oracle_check import compare

    rng = random.Random(ctx.seed)
    per_op = defaultdict(list)
    first = {}

    def one_pass(kind):
        order = list(OPS)
        rng.shuffle(order)
        for name in order:
            fn = REGISTRY[name][0]
            # set-up pass spans are kept apart from the timed ones
            span = f"ops.{name}" if kind == "op" else f"setup.ops.{name}"
            with ctx.tr.span(span):
                pdf = ctx.call(kind, lambda: fn(spark, OPS_DIR).toPandas())
            if pdf is None:
                continue
            if name not in first:
                first[name] = pdf
            else:
                per_op[name].append(ctx.samples[kind][-1])
                err = compare(name, _Collected(pdf), first[name])
                ctx.expect(err is None, f"{name} changed between passes: {err}")

    t0 = time.perf_counter()
    spark = ctx.start_spark()
    one_pass("warmup")
    ctx.setup_s = time.perf_counter() - t0

    oracle = oracle_answers(ctx.cache.root)
    for name, pdf in first.items():
        err = compare(name, _Collected(pdf), oracle[name])
        ctx.expect(err is None, f"{name} vs DuckDB oracle: {err}")

    passes = 0
    deadline = time.perf_counter() + ctx.seconds
    while passes < OPS_MIN_PASSES or time.perf_counter() < deadline:
        one_pass("op")
        passes += 1

    op_s = {n: min(v) for n, v in per_op.items()}
    ctx.named.update({
        "ops_pass_s": sum(op_s.values()),
        "passes": passes,
        "op_best_s": op_s,
        "op_samples_s": dict(per_op),
        "tables": os.path.relpath(OPS_DIR, HERE),
    })
    if len(op_s) < len(OPS):
        return {}
    return {"call_ms": 1000 * ctx.named["ops_pass_s"] / len(OPS),
            "cycle_s": ctx.named["ops_pass_s"]}


WORKLOADS = {
    "query_ingest": wl_query_ingest,
    "ops_analytics": wl_ops_analytics,
}


# ---------------------------------------------------------------------------
# one run
# ---------------------------------------------------------------------------

def prepare(workload, seed, work):
    """Generate, or find in the cache, every input of one run and the ops'
    oracle answers.  Runs in a child process, so the measured process's
    peak RSS is pysearch's and a cold cache costs it nothing."""
    sys.path.insert(0, os.path.dirname(HERE))
    marker = os.path.join(work, f"gen-selftest-v{gen.GEN_VERSION}.ok")
    if not os.path.exists(marker):
        gen.selftest(os.path.join(work, "gen-selftest"))
        open(marker, "w").close()
    cache = gen.InputCache(os.path.join(work, "cache"))
    if workload == "query_ingest":
        query_inputs(cache, seed)
    else:
        oracle_answers(cache.root)
    open(_prepared_marker(workload, seed, work), "w").close()


def _prepared_marker(workload, seed, work):
    d = os.path.join(work, "prepared")
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f"{workload}-s{seed}-v{gen.GEN_VERSION}.ok")


def prepare_in_child(workload, seed, work):
    """``prepare`` in a fresh interpreter, waited for, unless an earlier
    run in this checkout already prepared the same inputs.  A plain
    subprocess, not multiprocessing: its spawn start method leaves a
    resource-tracker process behind that outlives the run."""
    import subprocess

    if os.path.exists(_prepared_marker(workload, seed, work)):
        return

    code = (f"import sys; sys.path.insert(0, {HERE!r}); import workloads; "
            f"workloads.prepare({workload!r}, {seed!r}, {work!r})")
    subprocess.run([sys.executable, "-c", code], check=True)


def run(workload, seed, seconds, trace, work, host_calibration):
    """Run one workload; returns (result line, full report)."""
    t0 = time.perf_counter()
    prepare_in_child(workload, seed, work)
    prepare_s = time.perf_counter() - t0
    cal_before = host_calibration(NPROC)
    ctx = Ctx(workload, seed, seconds, trace, work)
    e2e = {}
    try:
        e2e = WORKLOADS[workload](ctx) or {}
    except Exception as e:  # noqa: BLE001 - reported as a failed run
        ctx.failed += 1
        ctx.attempted += 1
        ctx.problems.append(f"{workload}: {type(e).__name__}: {e}")
        traceback.print_exc()
    finally:
        if ctx.trace and ctx.tr.spans:
            ctx.tr.dump(os.path.join(ctx.run_dir, "spans.json"))
        ctx.stop_spark()
    cal_after = host_calibration(NPROC)

    metrics = {
        "setup_s": {"value": ctx.setup_s, "unit": "s"},
        "call_ms": {"value": e2e.get("call_ms"), "unit": "ms"},
        "cycle_s": {"value": e2e.get("cycle_s"), "unit": "s"},
        "driver_rss_mb": {
            "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
            "unit": "MB"},
    }
    correct = ctx.failed == 0 and all(
        m["value"] is not None for m in metrics.values())
    report = {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": int(trace), "nproc": NPROC,
        "host_calibration": {"before": cal_before, "after": cal_after},
        "prepare_s": prepare_s,
        "end_to_end": metrics,
        "named": ctx.named,
        "calls": {k: {"n": len(v), "total_s": sum(v),
                      "median_s": statistics.median(v)}
                  for k, v in ctx.samples.items() if v},
        "attempted": ctx.attempted, "failed": ctx.failed,
        "op_failure_ratio": ctx.failed / max(1, ctx.attempted),
        "problems": ctx.problems,
    }
    if trace:
        per_layer = layers.per_layer(ctx, OPS)
        report["per_layer"] = per_layer
        report.update(layers.compare_runs(work, workload, seed, metrics,
                                          per_layer))
        out_metrics = per_layer
    else:
        out_metrics = metrics
    result = {"correct": correct, "attempted": max(1, ctx.attempted),
              "failed": ctx.failed, "metrics": out_metrics}
    return result, report
