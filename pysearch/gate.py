"""Driver-local vs distributed: the one size policy.

Every gate weighs the same two costs: a Spark job's fixed latency (task
scheduling, shuffle, pandas worker spin-up, result fetch) against the
driver's per-row work.  Under a size bound the driver runs the step from
one bounded read; above it the distributed plan runs unchanged.  Both
sides give bit-identical results (pinned by tests on each side of every
gate).

One knob, ``PYSEARCH_LOCAL_MAX_POSTINGS``, sets the postings gate; 0 turns
every driver-local path of a Searcher off (scoring, batch, vocabulary,
catalog) — the right setting when driver<->storage bandwidth is poor.
The other bounds are fixed: they size index metadata, not query work, so
they do not scale with the knob.
"""

from __future__ import annotations

import os

LOCAL_MAX_POSTINGS = 500_000  # below this candidate volume, the packed
# blocks are read to the driver (one arrow read, no Spark job) and scored
# there with the SAME per-segment kernel — a distributed scoring job's
# fixed latency dominates when the candidate payload is a few MB.  500k
# postings is ~3 MB packed (and bounds driver work at O(query candidate
# volume), the same class as the hit set itself); queries above the gate
# — and every filtered query whose allowed set is distributed — take the
# distributed path.  Also the candidate-row gate of the arrival scorer:
# score_arriving_batch reads this knob, the NRT mem side follows its
# Searcher's local_max_postings like every other Searcher path.

LOCAL_BATCH_FACTOR = 4  # a batch of plans (search_ids_many, the NRT
# hybrid's index side; a single query is a batch of one) may score a whole
# query log driver-side when every plan's own candidate volume clears the
# postings gate AND the summed volume stays under LOCAL_BATCH_FACTOR * the
# postings gate — the measured crossover where single-threaded driver
# scoring overtakes the distributed batch scan's fixed cost (see
# Searcher._use_local, the one scoring gate).

LOCAL_MAX_VOCAB = 200_000  # term_stats rows under which the per-case
# vocabulary (term -> df) is fetched ONCE per Searcher load (a bounded
# driver-side pyarrow read of the load's term_stats commits, ~tens of MB
# at the gate; the row count comes from the parquet footers, so neither
# runs a Spark job) and the MultiTermQuery
# expansions (fuzzy/prefix), spell suggestions, and term-df lookups run
# driver-side — otherwise each pays a full Spark job (scan + window +
# collect) per query over a table that is vocabulary-sized METADATA, the
# textbook case for a broadcast-style strategy switch.  Values are
# identical by construction: the local Levenshtein is the classic DP
# (matching F.levenshtein / DuckDB levenshtein exactly), weights use the
# same float64 arithmetic, ranking the same (w desc, df desc, term asc)
# order (pinned by test).  Regexp clauses are evaluated against the same
# cached vocabulary by the SAME JVM java.util.regex engine rlike runs (one
# py4j stream-filter call — never Python re, whose dialect differs on
# corners like \\w, and no Spark job).  Staleness: the cache lives on the
# Searcher and every refresh/_load drops it.

LOCAL_MAX_CATALOG = 1_000_000  # catalog rows (per case) under which the
# case's (doc_id, url, content_hash) columns are fetched ONCE per Searcher
# load, read on the driver with pyarrow from the load's docs commits (no
# Spark job) — index METADATA in the same class as the term-df cache
# (~tens of MB at the gate).  The NRT hybrid's already-indexed anti-joins build
# their broadcast sides from it (no docs-table scan per hybrid query), and
# the engine-backed ops map engine <-> source ids through it.  Above the
# gate the distributed joins run.

METRICS_LOCAL_MAX_BLOCKS = 5_000_000  # commit batches at or under this
# many block rows get their per-segment lineage metrics aggregated
# driver-side from a pyarrow read of the four narrow metadata columns
# (row count comes from the parquet footers — no job); bigger batches
# keep the distributed aggregate.  The same bound gates the pruner's bound
# table (Searcher._bound_table): at or under this many ESTIMATED block rows
# (candidate postings / BLOCK_SIZE + segments x terms) the scan terms'
# (segment_id, term, max_tf, min_dl) come from one driver arrow read,
# above it from one Spark aggregate collect.  ~40 bytes/row in flight, so
# the bound keeps either driver read to ~200 MB.

DUP_CLUSTERS_LOCAL_MAX_EDGES = 1_000_000  # below this, the edge list is a
# few MB: collect it once and run union-find on the driver (2 jobs total)
# instead of O(log n) pointer-jumping rounds of 2 jobs each — the same
# size-gated strategy choice as a broadcast join, with identical output
# (min-doc_id component labels; pinned by test).

PRUNE_MIN_POSTINGS = 1_000_000  # below this, one-pass scoring beats
# block-max pruning's extra phase-1 scoring pass (the bounds and θ are
# computed on the driver; pruning adds one scoring pass to the one it
# shrinks) on a warm local cluster; real serving deployments with cold
# storage set Searcher.prune_min_postings lower.


def local_max_postings() -> int:
    """The postings gate: ``PYSEARCH_LOCAL_MAX_POSTINGS`` or the default;
    0 disables every driver-local path."""
    return int(os.environ.get("PYSEARCH_LOCAL_MAX_POSTINGS",
                              LOCAL_MAX_POSTINGS))
