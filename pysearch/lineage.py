"""Index manifest, batch commits, and per-partition lineage/metrics.

The reference's durability story is a periodically-flushed JSON catalog plus
CRC-checked sidecar files (/root/reference/internal/doclib/file_desc.go:15-35,
doc_positions.go:138-169,222-226).  Ours is checkpointed, resumable builds
(north_rule): every build stage commits atomically (write to a temp dir,
``os.rename`` into place — the local-parquet stand-in for an Iceberg snapshot
commit), and the postings stage records one lineage row per (case, segment)
so a resumed build constructs only the missing segments.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import re
import shutil
import uuid


_URI_SCHEME = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*://")


def _utcnow():
    return _dt.datetime.now(_dt.timezone.utc)


def _has_parquet(commit_dir: str) -> bool:
    for _root, _dirs, files in os.walk(commit_dir):
        if any(f.endswith(".parquet") for f in files):
            return True
    return False


def footer_rows(path: str) -> int:
    """Row count of the parquet files under ``path``, from their footers
    (no row is read)."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def _table_name(table_dir: str) -> str:
    """Logical table name of a table dir (its basename without ``.gN``)."""
    name = os.path.basename(table_dir)
    return name.rsplit(".g", 1)[0] if ".g" in name else name


def _batch_of(commit_dir: str) -> int:
    return int(os.path.basename(commit_dir).split("-", 1)[1])


def _arrow_schema(schema):
    """The arrow form of a Spark schema, every field nullable (parquet
    written by Spark marks its non-null fields required; pyarrow's are
    optional)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema([f.with_nullable(True)
                      for f in to_arrow_schema(schema)])


def tombstone_frame(spark, by_case: dict):
    """A ``pending_deletes`` map as a (case_id, doc_id) DataFrame.  A
    non-empty pandas frame reaches Spark through Arrow as a local relation;
    a list of tuples (or an empty pandas frame, which falls back to it)
    runs as a Python-worker job — so callers skip the frame when no delete
    is pending."""
    import numpy as np
    import pandas as pd

    from pysearch.schema import TOMBSTONES

    if not any(len(ids) for ids in by_case.values()):
        return spark.createDataFrame([], schema=TOMBSTONES)
    return spark.createDataFrame(pd.DataFrame({
        "case_id": np.repeat(list(by_case),
                             [len(ids) for ids in by_case.values()]),
        "doc_id": np.concatenate(list(by_case.values())).astype(np.int64),
    }), schema=TOMBSTONES)


#: logical table names of an index, in no particular order
TABLES = ("docs", "doc_map", "postings", "term_stats", "lineage",
          "tombstones")


class IndexLayout:
    """Path layout + manifest of one index directory.

    Table paths are **generation-aware**: the manifest's ``generations``
    map records each table's current generation (absent == 0).  Generation
    0 lives at ``<root>/<table>``; generation N>=1 at ``<root>/<table>.gN``.
    Compaction stages consolidated trees as the NEXT generation and commits
    them with a single atomic manifest write (the local-parquet analog of
    an Iceberg snapshot commit) — prior generations stay on disk until
    ``expire_generations``, so readers whose plans resolved files under an
    older generation keep working through a compaction (snapshot
    isolation; see pysearch.compact)."""

    def __init__(self, root: str, at_version: int | None = None):
        """``at_version`` pins this layout READ-ONLY to an archived
        snapshot (``commit_snapshot``): the manifest, generation pointers,
        and per-table commit sets are the ones recorded at that version —
        Iceberg time-travel.  Mutating methods raise.  A pinned snapshot
        stays readable as long as the generations/commits it references
        exist on disk (appends are additive and compaction retains the
        superseded generation, so recent snapshots survive; see
        ``compact.expire_generations``).

        ``root`` must be a local filesystem path: commits, manifests and
        the driver-local reads use os-level renames and listings, so a
        URI root (``s3a://``, ``hdfs://``, ``file://``) is refused rather
        than silently split between a local directory and the scheme."""
        if _URI_SCHEME.match(str(root)):
            raise ValueError(
                f"index root {root!r} is a URI; pysearch indexes live on "
                "a local (or locally mounted) filesystem path — pass a "
                "plain path, e.g. a mount point of the store")
        self.root = root
        self.manifest_path = os.path.join(root, "manifest.json")
        self._manifest_stat = None
        self._gens: dict = {}
        self.at_version = None if at_version is None else int(at_version)
        self._pinned: dict | None = None
        if self.at_version is not None:
            p = f"{self.manifest_path}.v{self.at_version}"
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"no snapshot v{self.at_version} at {self.root} "
                    f"(available: {self.snapshots() or 'none'})"
                )
            with open(p) as f:
                self._pinned = json.load(f)

    def snapshots(self) -> list[int]:
        """Versions with an archived manifest, ascending."""
        prefix = os.path.basename(self.manifest_path) + ".v"
        if not os.path.isdir(self.root):
            return []
        return sorted(
            int(d[len(prefix):]) for d in os.listdir(self.root)
            if d.startswith(prefix) and d[len(prefix):].isdigit()
        )

    def _assert_mutable(self) -> None:
        if self._pinned is not None:
            raise RuntimeError(
                f"layout is pinned read-only to snapshot v{self.at_version} "
                f"of {self.root}; construct without at_version to mutate"
            )

    def commit_snapshot(self, manifest: dict | None = None) -> int:
        """Record the current COMPLETE index state as an immutable numbered
        snapshot (the Iceberg snapshot-log analog): stamps the manifest
        with ``snapshot_version`` and the per-table commit sets it covers,
        writes it (atomic — THE commit point for callers that pass their
        mutated ``manifest``), and archives a copy as
        ``manifest.json.v<N>`` for time-travel reads
        (``IndexLayout(root, at_version=N)``).  Called at every mutation
        commit point: build/append finalize, delete_docs, compact_index."""
        import shutil as _sh

        self._assert_mutable()
        m = self.read_manifest() if manifest is None else manifest
        v = int(m.get("snapshot_version", 0)) + 1
        m["snapshot_version"] = v
        m["snapshot_ts"] = _utcnow().isoformat()
        gens = m.get("generations", {})
        commits = {}
        for name in TABLES:
            g = int(gens.get(name, 0))
            base = os.path.join(self.root, name)
            d = base if g == 0 else f"{base}.g{g}"
            commits[name] = [
                int(c.split("-", 1)[1]) for c in sorted(os.listdir(d))
                if c.startswith("commit-")
            ] if os.path.isdir(d) else []
        m["snapshot_commits"] = commits
        self.write_manifest(m)
        _sh.copyfile(self.manifest_path, f"{self.manifest_path}.v{v}")
        return v

    def _generations(self) -> dict:
        """Current per-table generation map, cached on the manifest stat
        (every index mutation rewrites the manifest via atomic replace)."""
        if self._pinned is not None:
            return self._pinned.get("generations", {})
        try:
            st = os.stat(self.manifest_path)
            sig = (st.st_mtime_ns, st.st_size)
        except FileNotFoundError:
            sig = None
        if sig != self._manifest_stat:
            self._gens = self.read_manifest().get("generations", {})
            self._manifest_stat = sig
        return self._gens

    def table_path(self, name: str, gen: int | None = None) -> str:
        """Path of ``name``'s generation ``gen`` (default: current)."""
        if gen is None:
            gen = int(self._generations().get(name, 0))
        base = os.path.join(self.root, name)
        return base if gen == 0 else f"{base}.g{gen}"

    def generation_paths(self, name: str) -> dict[int, str]:
        """All on-disk generation trees of ``name``, as {gen: path}."""
        out = {}
        base = os.path.join(self.root, name)
        if os.path.isdir(base):
            out[0] = base
        prefix = f"{name}.g"
        if os.path.isdir(self.root):
            for d in os.listdir(self.root):
                if d.startswith(prefix) and d[len(prefix):].isdigit():
                    out[int(d[len(prefix):])] = os.path.join(self.root, d)
        return out

    @property
    def docs(self) -> str:
        return self.table_path("docs")

    @property
    def doc_map(self) -> str:
        return self.table_path("doc_map")

    @property
    def postings(self) -> str:
        return self.table_path("postings")

    @property
    def term_stats(self) -> str:
        return self.table_path("term_stats")

    @property
    def lineage(self) -> str:
        return self.table_path("lineage")

    @property
    def tombstones(self) -> str:
        return self.table_path("tombstones")

    def pending_deletes(self, table_dir: str | None = None,
                        limit: int | None = None):
        """``(n, {case_id: sorted unique doc_id array})`` of the pending
        (case_id, doc_id) deletes under ``table_dir`` (default: the current
        tombstones table).  ``n`` is counted from the parquet footers
        before any row is read; above ``limit`` the ids are not read and
        the map is None."""
        import numpy as np

        table_dir = table_dir or self.tombstones
        n = sum(footer_rows(d) for d in self.list_commits(table_dir)
                if _has_parquet(d))
        if limit is not None and n > limit:
            return n, None
        pdf = self.read_local(table_dir, ["case_id", "doc_id"])
        return n, {str(cid): np.unique(grp["doc_id"].to_numpy(np.int64))
                   for cid, grp in pdf.groupby("case_id")}

    def read_tombstones(self, spark):
        """The pending (case_id, doc_id) delete set as a DataFrame — empty
        when no deletes are outstanding (table absent or emptied by
        compaction)."""
        _n, by_case = self.pending_deletes()
        return tombstone_frame(spark, by_case)

    # -- manifest ---------------------------------------------------------
    def read_manifest(self) -> dict:
        if self._pinned is not None:
            return json.loads(json.dumps(self._pinned))  # callers mutate
        if not os.path.exists(self.manifest_path):
            return {}
        with open(self.manifest_path) as f:
            return json.load(f)

    def write_manifest(self, manifest: dict) -> None:
        self._assert_mutable()
        os.makedirs(self.root, exist_ok=True)
        tmp = self.manifest_path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True, default=str)
        os.replace(tmp, self.manifest_path)

    def mark_stage(self, stage: str, **info) -> None:
        m = self.read_manifest()
        stages = m.setdefault("stages", {})
        stages[stage] = {"done": True, "ts": _utcnow().isoformat(), **info}
        self.write_manifest(m)

    def stage_done(self, stage: str) -> bool:
        return bool(self.read_manifest().get("stages", {}).get(stage, {}).get("done"))

    def clear_stage(self, stage: str) -> None:
        """Unset a stage's done flag (append invalidates postings/finalize
        before committing new docs, so a crashed append resumes cleanly)."""
        m = self.read_manifest()
        if m.get("stages", {}).get(stage):
            m["stages"][stage]["done"] = False
            self.write_manifest(m)

    # -- atomic batch commits --------------------------------------------
    def staging_dir(self, table: str) -> str:
        return os.path.join(self.root, f"_tmp_{table}_{uuid.uuid4().hex}")

    def commit_batch(self, staging: str, table_dir: str, batch: int,
                     replace: bool = False) -> str:
        """Atomically move a written staging dir to <table>/commit-<n>.

        Plain (non key=value) names so Spark partition discovery under each
        commit root sees only the table's real partition columns.
        ``replace=True`` overwrites a stale dir left by a crash between a
        stage's commit and its manifest mark (stage reruns are whole-stage,
        so the stale data is unreferenced)."""
        self._assert_mutable()
        os.makedirs(table_dir, exist_ok=True)
        final = os.path.join(table_dir, f"commit-{batch:05d}")
        if os.path.exists(final):
            if not replace:
                raise RuntimeError(f"commit dir already exists: {final}")
            shutil.rmtree(final)
        os.rename(staging, final)
        return final

    def gc_orphan_commits(self) -> list[str]:
        """Remove docs and postings commit dirs not covered by lineage.

        The lineage append is the commit point of a docs batch and of a
        postings batch: a crash between a commit dir's rename and its
        lineage write leaves an orphan batch, whose docs a resumed build
        or append would index and whose segments it would rebuild and
        double-count.  Docs batch 0 is a fresh build's, which its resume
        rewrites in place.  An orphan docs batch takes its doc_map batch
        with it (doc_map commits between the docs commit and the lineage
        append, so it can never be covered when the docs batch isn't)."""
        removed = []
        for stage, table_dir, first in (("docs", self.docs, 1),
                                        ("postings", self.postings, 0)):
            covered = self.covered_batches(stage)
            for d in self.list_commits(table_dir):
                batch = _batch_of(d)
                if batch < first or batch in covered:
                    continue
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
                dm = os.path.join(self.doc_map, os.path.basename(d))
                if stage == "docs" and os.path.isdir(dm):
                    shutil.rmtree(dm, ignore_errors=True)
                    removed.append(dm)
        return removed

    def next_batch(self, table_dir: str) -> int:
        if not os.path.isdir(table_dir):
            return 0
        existing = [
            int(d.split("-", 1)[1])
            for d in os.listdir(table_dir)
            if d.startswith("commit-")
        ]
        return max(existing) + 1 if existing else 0

    def list_commits(self, table_dir: str) -> list[str]:
        if not os.path.isdir(table_dir):
            return []
        out = sorted(
            os.path.join(table_dir, d)
            for d in os.listdir(table_dir)
            if d.startswith("commit-")
        )
        if self._pinned is not None:
            # time-travel: only the commit batches recorded at snapshot
            # time exist in this view (commits appended SINCE are invisible
            # — they live in the same generation dir)
            allowed = set(self._pinned.get("snapshot_commits", {}).get(
                _table_name(table_dir), []))
            out = [d for d in out if _batch_of(d) in allowed]
        return out

    # -- the two table readers -------------------------------------------
    def read_commits(self, spark, table_dir: str,
                     batches: list[int] | None = None):
        """The Spark reader of the large tables (docs, doc_map, postings,
        term_stats): the union of the committed batches under
        ``table_dir`` (only ``batches`` when given), each read with the
        table's declared schema (``pysearch.schema.table_schema``), so no
        read runs a schema-inference job and case_id is a string and
        term_bucket an int on every path.

        Each commit dir is read as its own single-root parquet tree (so
        partition discovery inside a commit — e.g. term_bucket=K — stays
        consistent), then unioned by name; Spark cannot partition-discover
        across multiple commit roots in one read.  Commit dirs with no part
        files (an empty partitioned write leaves only _SUCCESS) are
        skipped; a table with none reads as an empty DataFrame."""
        from pysearch.schema import table_schema

        schema = table_schema(_table_name(table_dir),
                              bool(self.read_manifest().get("positions")))
        dirs = [d for d in self.list_commits(table_dir)
                if (batches is None or _batch_of(d) in batches)
                and _has_parquet(d)]
        if not dirs:
            return spark.createDataFrame([], schema=schema)
        reader = spark.read.schema(schema)
        out = reader.parquet(dirs[0])
        for d in dirs[1:]:
            out = out.unionByName(reader.parquet(d))
        return out

    def read_local(self, table_dir: str, columns: list[str]):
        """The driver-side reader of the bookkeeping tables (lineage and
        tombstones — O(segments) and O(pending deletes) rows): ``columns``
        of the committed batches under
        ``table_dir``, read with pyarrow into one pandas frame.  No Spark
        job runs.  Each commit is cast to the table's declared types, so
        commits written by Spark and by pyarrow read alike."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysearch.schema import table_schema

        schema = _arrow_schema(table_schema(_table_name(table_dir)))
        schema = pa.schema([schema.field(c) for c in columns])
        parts = [pq.read_table(d, columns=columns).cast(schema)
                 for d in self.list_commits(table_dir) if _has_parquet(d)]
        return (pa.concat_tables(parts) if parts
                else schema.empty_table()).to_pandas()

    def gc_staging(self) -> None:
        if not os.path.isdir(self.root):
            return
        for d in os.listdir(self.root):
            if d.startswith("_tmp_"):
                shutil.rmtree(os.path.join(self.root, d), ignore_errors=True)

    # -- lineage ----------------------------------------------------------
    def write_lineage(self, cols: dict, path: str) -> None:
        """The one lineage writer: ``cols`` (pysearch.schema.LINEAGE column
        name -> values, a dict or a pandas frame) as one parquet file under
        ``path``, written driver-side with pyarrow (lineage rows are a
        small driver-side set — a Spark job per lineage write was pure
        fixed overhead)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pysearch.schema import LINEAGE

        schema = _arrow_schema(LINEAGE)
        os.makedirs(path, exist_ok=True)
        pq.write_table(
            pa.Table.from_arrays(
                [pa.array(cols[f.name], type=f.type, from_pandas=True)
                 for f in schema], schema=schema),
            os.path.join(path, "part-00000.parquet"))

    def append_lineage(self, spark, rows: list[dict]) -> None:
        """Append lineage rows as an atomic batch."""
        self._assert_mutable()
        if not rows:
            return
        cols = {
            "stage": [r["stage"] for r in rows],
            "partition_key": [r["partition_key"] for r in rows],
            "batch": [int(r.get("batch", 0)) for r in rows],
            "status": [r.get("status", "done") for r in rows],
            "n_rows": [r.get("n_rows") for r in rows],
            "n_postings": [r.get("n_postings") for r in rows],
            "bytes": [r.get("bytes") for r in rows],
            "wall_sec": [r.get("wall_sec") for r in rows],
            "ts": [_utcnow()] * len(rows),
        }
        staging = self.staging_dir("lineage")
        self.write_lineage(cols, staging)
        self.commit_batch(staging, self.lineage, self.next_batch(self.lineage))

    def read_lineage(self, columns: list[str] | None = None):
        """The lineage rows (``columns``, default all) as a pandas frame."""
        from pysearch.schema import LINEAGE

        return self.read_local(self.lineage, columns or LINEAGE.names)

    def covered_batches(self, stage: str) -> set[int]:
        """Batches of ``stage`` (docs or postings) that lineage covers."""
        lin = self.read_lineage(["stage", "batch"])
        return set(lin.loc[lin.stage == stage, "batch"].astype(int))

    def done_partitions(self, stage: str) -> set:
        lin = self.read_lineage(["stage", "partition_key", "status"])
        return set(lin.loc[(lin.stage == stage) & (lin.status == "done"),
                           "partition_key"])
