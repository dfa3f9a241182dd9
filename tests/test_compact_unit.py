"""Spark-free unit tests for the compaction snapshot-commit protocol.

``compact_index`` stages consolidated trees as each table's NEXT generation
directory, then commits with ONE atomic manifest write that flips the
per-table ``generations`` pointers and carries all dependent bookkeeping
(see pysearch/compact.py).  The only crash window with disk effects is
during staging: the live index is untouched and authoritative, and the
staged trees are unreferenced until the pointer flip — recovery just
discards generations NEWER than the committed pointer.  Generations OLDER
than the pointer are retained snapshots (readers in flight during a
compaction keep their resolved file paths) removed by
``expire_generations``.  These tests drive the layout resolution, the
recovery sweep, and the retention/expiry semantics on synthetic trees
without a SparkSession; one test runs a real append to pin the finalize's
single manifest write.
"""

import os

from pysearch.compact import expire_generations, recover_compaction
from pysearch.lineage import IndexLayout


def _mk(d, tag):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, tag), "w") as f:
        f.write(tag)


def _has(d, tag):
    return os.path.exists(os.path.join(d, tag))


def _layout(tmp_path, generations=None):
    root = str(tmp_path / "ix")
    lay = IndexLayout(root)
    os.makedirs(root, exist_ok=True)
    if generations is not None:
        lay.write_manifest({"generations": generations})
    return lay


def test_table_paths_resolve_through_generations(tmp_path):
    """Generation 0 is the plain table dir; N>=1 appends ``.gN``; the
    pointer map re-reads when the manifest changes (atomic replace)."""
    lay = _layout(tmp_path)
    assert lay.docs == os.path.join(lay.root, "docs")
    lay.write_manifest({"generations": {"docs": 2, "postings": 1}})
    assert lay.docs == os.path.join(lay.root, "docs.g2")
    assert lay.postings == os.path.join(lay.root, "postings.g1")
    assert lay.lineage == os.path.join(lay.root, "lineage")  # unflipped
    lay.write_manifest({"generations": {"docs": 3}})
    assert lay.docs == os.path.join(lay.root, "docs.g3")


def test_generation_paths_lists_all_trees(tmp_path):
    lay = _layout(tmp_path)
    _mk(os.path.join(lay.root, "docs"), "g0")
    _mk(os.path.join(lay.root, "docs.g1"), "g1")
    _mk(os.path.join(lay.root, "docs.g3"), "g3")
    _mk(os.path.join(lay.root, "docs.gx"), "junk")  # non-numeric: ignored
    got = lay.generation_paths("docs")
    assert sorted(got) == [0, 1, 3]
    assert got[3].endswith("docs.g3")


def test_uncommitted_staging_is_discarded(tmp_path):
    """Staged generations NEWER than the committed pointer are leftovers
    of a crashed (uncommitted) run: recovery drops them, live trees and
    retained older snapshots stay."""
    lay = _layout(tmp_path, generations={"docs": 1})
    _mk(os.path.join(lay.root, "docs"), "g0-retained")
    _mk(os.path.join(lay.root, "docs.g1"), "live")
    _mk(os.path.join(lay.root, "docs.g2"), "staged-stale")
    _mk(os.path.join(lay.root, "postings"), "live")
    _mk(os.path.join(lay.root, "postings.g1"), "staged-stale")
    assert recover_compaction(lay) == "discarded"
    assert _has(lay.docs, "live")
    assert _has(os.path.join(lay.root, "docs"), "g0-retained")
    assert not os.path.isdir(os.path.join(lay.root, "docs.g2"))
    assert _has(lay.postings, "live")
    assert not os.path.isdir(os.path.join(lay.root, "postings.g1"))


def test_recover_noop_on_clean_index(tmp_path):
    lay = _layout(tmp_path, generations={"docs": 1})
    _mk(os.path.join(lay.root, "docs"), "g0-retained")
    _mk(os.path.join(lay.root, "docs.g1"), "live")
    assert recover_compaction(lay) is None
    assert _has(lay.docs, "live")
    assert _has(os.path.join(lay.root, "docs"), "g0-retained")


def test_commit_is_the_manifest_write(tmp_path):
    """Before the pointer flip the staged tree is invisible to every path
    resolution; after it, it IS the table — no intermediate state."""
    lay = _layout(tmp_path)
    _mk(os.path.join(lay.root, "postings"), "old")
    _mk(os.path.join(lay.root, "postings.g1"), "new")
    assert _has(lay.postings, "old")  # uncommitted: resolves to g0
    m = lay.read_manifest()
    m.setdefault("generations", {})["postings"] = 1
    lay.write_manifest(m)  # the commit point
    assert _has(lay.postings, "new")
    # the superseded tree is retained for in-flight readers
    assert _has(os.path.join(lay.root, "postings"), "old")


def test_append_finalize_is_one_manifest_write(spark, recovered_ix,
                                               tmp_path, monkeypatch):
    """An append's finalize commits with ONE manifest write (the snapshot
    commit), and that write carries the new fold set together with the new
    per-case summed doc lengths: no reader can load a fold set whose
    sum_dl lags it, and a crash before the write leaves both unchanged."""
    import copy
    import shutil

    from pyspark.sql import functions as F

    from pysearch import build, corpus

    ix = str(tmp_path / "ix")
    shutil.copytree(recovered_ix[0], ix)
    lay = IndexLayout(ix)
    before = lay.read_manifest()["stages"]["finalize"]

    writes, in_finalize = [], []
    orig_write = IndexLayout.write_manifest
    orig_finalize = build.build_finalize_stage

    def counting(self, manifest):
        if in_finalize:
            writes.append(copy.deepcopy(manifest["stages"]["finalize"]))
        orig_write(self, manifest)

    def finalize(spark_, layout):
        in_finalize.append(True)
        try:
            orig_finalize(spark_, layout)
        finally:
            in_finalize.clear()

    monkeypatch.setattr(IndexLayout, "write_manifest", counting)
    monkeypatch.setattr(build, "build_finalize_stage", finalize)
    build.build_index(spark, corpus.webtext_df(
        spark, cases=[(4, "heavenly intentions", 20, 60)]), ix, append=True)

    assert len(writes) == 1, writes
    (w,) = writes
    assert w["done"]
    new = sorted(set(w["folded"]) - set(before["folded"]))
    assert new == [int(os.path.basename(lay.list_commits(lay.postings)[-1])
                       .split("-", 1)[1])]
    cf = lay.read_commits(spark, lay.term_stats, batches=new).agg(
        F.sum("cf")).collect()[0][0]
    assert w["sum_dl"] == {**before["sum_dl"], "4": cf} and cf > 0
    assert lay.read_manifest()["stages"]["finalize"] == w


def test_prune_snapshots_skips_transient_read_failures(tmp_path):
    """A snapshot archive that cannot be READ (OSError) must be skipped,
    not deleted — only provably-corrupt JSON is auto-removed."""
    from pysearch.compact import prune_dangling_snapshots

    lay = _layout(tmp_path, generations={})
    m = lay.read_manifest()
    m["snapshot_version"] = 2
    lay.write_manifest(m)
    # v1: a directory where the archive file should be -> open() raises
    # IsADirectoryError (an OSError that is not a JSON problem)
    os.makedirs(f"{lay.manifest_path}.v1")
    # v2: corrupt JSON -> removed
    with open(f"{lay.manifest_path}.v2", "w") as f:
        f.write("{not json")
    pruned = prune_dangling_snapshots(lay)
    assert pruned == [2]
    assert os.path.isdir(f"{lay.manifest_path}.v1")  # survived
    assert not os.path.exists(f"{lay.manifest_path}.v2")


def test_expire_generations_removes_older_trees(tmp_path):
    lay = _layout(tmp_path, generations={"docs": 2, "postings": 1})
    _mk(os.path.join(lay.root, "docs"), "g0")
    _mk(os.path.join(lay.root, "docs.g1"), "g1")
    _mk(os.path.join(lay.root, "docs.g2"), "live")
    _mk(os.path.join(lay.root, "postings"), "g0")
    _mk(os.path.join(lay.root, "postings.g1"), "live")
    removed = expire_generations(lay)
    assert len(removed) == 3
    assert _has(lay.docs, "live") and _has(lay.postings, "live")
    assert not os.path.isdir(os.path.join(lay.root, "docs"))
    assert not os.path.isdir(os.path.join(lay.root, "docs.g1"))
    assert not os.path.isdir(os.path.join(lay.root, "postings"))


def test_expire_generations_keep_previous(tmp_path):
    """``keep=N`` retains that one pre-current generation (the just-
    superseded snapshot in-flight readers may still be scanning)."""
    lay = _layout(tmp_path, generations={"docs": 2})
    _mk(os.path.join(lay.root, "docs"), "g0")
    _mk(os.path.join(lay.root, "docs.g1"), "g1")
    _mk(os.path.join(lay.root, "docs.g2"), "live")
    removed = expire_generations(lay, keep=1)
    assert [os.path.basename(p) for p in removed] == ["docs"]
    assert os.path.isdir(os.path.join(lay.root, "docs.g1"))
    assert _has(lay.docs, "live")


def test_expire_noop_when_single_generation(tmp_path):
    lay = _layout(tmp_path)
    _mk(os.path.join(lay.root, "docs"), "live")
    assert expire_generations(lay) == []
    assert _has(lay.docs, "live")
