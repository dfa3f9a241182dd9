"""Query-time verify-before-decode: a posting block whose stored CRC no
longer matches its payload must fail the query, never score silently —
for every query entry point, on the driver-local fetch and on the
distributed one; and ``verify_index`` must flag the same tampering.
Tampering reuses the steps of
test_engine.test_verify_index_flags_tampering: flip a stored CRC in a
postings (or docs) part file and drop the stale Hadoop checksum sidecar."""

import glob
import os
import shutil

import pytest

from pysearch.query import Searcher

PHRASE = "a cornucopia of"  # the corpus case's seeded phrase
TERM = "cornucopia"  # the analyzed term whose blocks get tampered
QUERY = f"{TERM} software"  # two terms: no single-term shortcut


@pytest.fixture(scope="module")
def clean_index(spark, tmp_path_factory):
    from pysearch import corpus
    from pysearch.build import build_index

    d = str(tmp_path_factory.mktemp("crc_ix") / "ix")
    df = corpus.webtext_df(spark, cases=[(7, PHRASE, 300, 200)])
    # 10 segments: more than the pruner's phase 1 takes, so a forced-pruned
    # query reaches phase 2
    build_index(spark, df, d, segment_size=32, store_positions=True)
    return d


def _tampered_copy(src: str, dst: str, column: str) -> str:
    """Copy ``src`` to ``dst`` and flip ``column``: crc32 or pos_crc32 on
    every block of TERM in the postings part files, offs_crc32 on every
    doc in the docs part files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.copytree(src, dst)
    table = "docs" if column == "offs_crc32" else "postings"
    flipped = 0
    for part in sorted(glob.glob(f"{dst}/{table}/commit-*/**/*.parquet",
                                 recursive=True)):
        t = pq.read_table(part)
        pdf = t.to_pandas()
        rows = (pdf["doc_id"] > 0) if table == "docs" else pdf["term"] == TERM
        if not rows.any():
            continue
        pdf.loc[rows, column] = pdf.loc[rows, column].astype("int64") ^ 1
        pq.write_table(pa.Table.from_pandas(pdf, schema=t.schema), part)
        # drop the stale Hadoop checksum sidecar so the tampered file is read
        side = os.path.join(os.path.dirname(part),
                            f".{os.path.basename(part)}.crc")
        if os.path.exists(side):
            os.remove(side)
        flipped += int(rows.sum())
    assert flipped, f"no {table} rows found to tamper"
    return dst


def _pruned(s):
    """search_ids(QUERY) forced through the block-max pruned path."""
    old, s.prune_min_postings = s.prune_min_postings, 0
    try:
        return s.search_ids(QUERY, case_id="7")
    finally:
        s.prune_min_postings = old


def _calls(column: str, distributed: bool):
    """Calls that must read the tampered payload.  A positions CRC is
    checked only by the calls that decode positions: the positional modes
    and search()'s spans; a token-offset CRC only by search()'s spans."""
    if column == "offs_crc32":
        return [lambda s: s.search(QUERY, case_id="7").collect()]
    two = {"a": QUERY, "b": PHRASE}
    phrase = [
        lambda s: s.search_ids(PHRASE, case_id="7", mode="phrase"),
        lambda s: s.count(PHRASE, case_id="7", mode="phrase"),
        lambda s: s.search_ids_many(two, case_id="7", mode="phrase"),
        lambda s: s.search(QUERY, case_id="7").collect(),
    ]
    if column == "pos_crc32":
        return phrase
    return phrase + [
        lambda s: s.search_ids(QUERY, case_id="7"),
        lambda s: s.search_ids(TERM, case_id="7"),  # one-term path
        lambda s: s.search_ids(f"+{TERM} -software of", case_id="7",
                               mode="boolean"),
        lambda s: s.count(QUERY, case_id="7"),
        lambda s: s.search_ids_many(two, case_id="7"),
    ] + ([_pruned] if distributed else [])


@pytest.mark.parametrize("column", ["crc32", "pos_crc32", "offs_crc32"])
@pytest.mark.parametrize("path", ["local", "distributed"])
def test_query_refuses_tampered_blocks(spark, clean_index, tmp_path, column,
                                       path):
    """The driver-local fetch raises IOError itself; the distributed one
    raises it in the executor, where Spark surfaces it wrapped in its
    PythonException — so both are checked by the error message."""
    clean = Searcher(spark, clean_index)
    s = Searcher(spark, _tampered_copy(clean_index, str(tmp_path / "ix"),
                                       column))
    # search()'s spans decode the token-offset sidecar in an executor on
    # both paths
    raises = IOError if column != "offs_crc32" else Exception
    if path == "distributed":
        clean.local_max_postings = s.local_max_postings = 0
        raises = Exception
    for call in _calls(column, distributed=path == "distributed"):
        call(clean)  # the untampered index answers
        with pytest.raises(raises, match="CRC mismatch"):
            call(s)


@pytest.mark.parametrize("column", ["pos_crc32", "offs_crc32"])
def test_verify_index_flags_payload_tampering(spark, clean_index, tmp_path,
                                              column):
    """verify_index checks every stored CRC through the codec: a flipped
    positions CRC and a flipped token-offset sidecar CRC are both flagged
    (test_engine's tampering test flips the block crc32)."""
    from pysearch.verify import verify_index

    assert verify_index(spark, clean_index) == []
    problems = verify_index(spark, _tampered_copy(
        clean_index, str(tmp_path / "ix"), column))
    want = ("posting blocks failed CRC32" if column == "pos_crc32"
            else "docs failed token-offset sidecar")
    assert any(want in p for p in problems), problems
