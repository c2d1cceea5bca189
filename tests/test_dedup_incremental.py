"""Persistent MinHash/LSH index: batch-split equivalence with the
one-shot join, snapshot isolation, crash-safety, idempotence guard."""

import json
import os

import pytest
from pyspark.sql import functions as F

from enhydris_autoprocess_spark.cache import release_caches
from enhydris_autoprocess_spark.textops import MinHashIndex, minhash_dedup_pairs

# Corpus with planted duplicates SPANNING the batch boundaries: the
# cross-batch pairs are exactly what the incremental path must find
# with its batch-vs-corpus join rather than the self-join.
BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm windowsill and the birds sing of morning light"
)
ALT = (
    "completely different content about spark shuffles and partition "
    "pruning strategies during adaptive query execution at scale"
)
DOCS = [
    (0, BASE),
    (1, ALT),
    (2, "der hund und die katze und das haus und ein baum der gross ist"),
    (3, BASE),  # exact dup of 0 (same batch at split=3: no — batch 2)
    (4, BASE.replace("warm", "cold")),  # near dup of 0, cross-batch
    (5, ALT.replace("scale", "depth")),  # near dup of 1, cross-batch
    (6, "unrelated prose about rivers and hydrology stations reporting"),
    (7, BASE.replace("quick", "slow")),  # near dup of 0/3/4, batch 3
    (8, ALT),  # exact dup of 1, batch 3
]
PARAMS = dict(num_hashes=64, bands=16, shingle_k=3, threshold=0.5)


def _docs_df(spark, rows):
    return spark.createDataFrame(
        [(str(i), t) for i, t in rows], "doc_id string, text string"
    )


def _pairs(df):
    rows = df.collect()
    release_caches(df)
    return {(r.id_a, r.id_b): round(r.est_jaccard, 6) for r in rows}


def test_batched_appends_equal_one_shot(spark, tmp_path):
    one_shot = _pairs(minhash_dedup_pairs(_docs_df(spark, DOCS), **PARAMS))
    assert one_shot, "planted duplicates must produce pairs"

    idx = MinHashIndex(spark, str(tmp_path / "idx"), **PARAMS)
    got = {}
    for lo, hi in ((0, 3), (3, 6), (6, 9)):
        got.update(_pairs(idx.append(_docs_df(spark, DOCS[lo:hi]))))
    assert got == one_shot

    # the cross-batch near-dups specifically were found
    assert ("0", "4") in got and ("1", "5") in got and ("1", "8") in got


def test_single_batch_equals_one_shot(spark, tmp_path):
    idx = MinHashIndex(spark, str(tmp_path / "idx1"), **PARAMS)
    got = _pairs(idx.append(_docs_df(spark, DOCS)))
    assert got == _pairs(minhash_dedup_pairs(_docs_df(spark, DOCS), **PARAMS))


def test_returned_frame_is_snapshot_isolated(spark, tmp_path):
    """The pair frame returned by append() must not see the batch it
    committed, even when evaluated AFTER later appends."""
    idx = MinHashIndex(spark, str(tmp_path / "idx2"), **PARAMS)
    first = idx.append(_docs_df(spark, DOCS[0:3]))
    second = idx.append(_docs_df(spark, DOCS[3:6]))
    # evaluate out of order: first's frame after second's commit
    assert _pairs(first) == {}
    got = _pairs(second)
    assert ("0", "3") in got and ("0", "4") in got


def test_crashed_batch_is_invisible(spark, tmp_path):
    """Data files without a manifest line (crash between data write and
    manifest rename) must be ignored by subsequent appends."""
    root = str(tmp_path / "idx3")
    idx = MinHashIndex(spark, root, **PARAMS)
    idx.append(_docs_df(spark, DOCS[0:3])).count()
    # simulate the crash: drop the last manifest line, leaving the
    # batch's data directory orphaned on disk
    mpath = os.path.join(root, "manifest.jsonl")
    with open(mpath) as f:
        lines = f.readlines()
    orphan_dir = json.loads(lines[-1])["data_dir"]
    with open(mpath, "w") as f:
        f.writelines(lines[:-1])
    assert os.path.isdir(orphan_dir)  # data exists but is uncommitted

    got = _pairs(idx.append(_docs_df(spark, DOCS[3:6])))
    # doc 3 is an exact dup of doc 0, but batch 1 was never committed:
    # only intra-batch pairs of batch 2 can appear
    assert all(a in {"3", "4", "5"} and b in {"3", "4", "5"} for a, b in got)


def test_batch_key_idempotence_guard(spark, tmp_path):
    idx = MinHashIndex(spark, str(tmp_path / "idx4"), **PARAMS)
    idx.append(_docs_df(spark, DOCS[0:3]), batch_key="b1").count()
    with pytest.raises(ValueError, match="already committed"):
        idx.append(_docs_df(spark, DOCS[3:6]), batch_key="b1")


def test_batch_vs_corpus_join_broadcasts_the_batch(spark, tmp_path):
    """Scale contract: the historical bucket table is scanned, never
    shuffled — the batch side arrives broadcast."""
    idx = MinHashIndex(spark, str(tmp_path / "idx5"), **PARAMS)
    idx.append(_docs_df(spark, DOCS[0:3])).count()
    out = idx.append(_docs_df(spark, DOCS[3:6]))
    plan = out._jdf.queryExecution().executedPlan().toString()
    release_caches(out)
    assert "BroadcastHashJoin" in plan


def test_long_id_type(spark, tmp_path):
    idx = MinHashIndex(
        spark, str(tmp_path / "idx6"), id_type="long", **PARAMS
    )
    df = spark.createDataFrame(DOCS[0:5], "doc_id long, text string")
    got = _pairs(idx.append(df))
    assert (0, 3) in got and (0, 4) in got


def test_compaction_preserves_results_and_guards(spark, tmp_path):
    """compact() is pure data movement: pairs found by a post-compact
    append equal the no-compaction run; batch_key guard survives."""
    kw = dict(**PARAMS)
    plain = MinHashIndex(spark, str(tmp_path / "plain"), **kw)
    comp = MinHashIndex(spark, str(tmp_path / "comp"), **kw)
    for lo, hi in ((0, 3), (3, 6)):
        b = _docs_df(spark, DOCS[lo:hi])
        _pairs(plain.append(b, batch_key=f"b{lo}"))
        _pairs(comp.append(b, batch_key=f"b{lo}"))

    n = comp.compact()
    assert n == 2
    snaps = comp.snapshots()
    assert len(snaps) == 1
    assert snaps[0].properties["compacted_from"] == [1, 2]
    assert snaps[0].properties["batch_keys"] == ["b0", "b3"]
    # vacuum removed the superseded directories
    data_root = str(tmp_path / "comp" / "data")
    assert len(os.listdir(data_root)) == 1

    last = _docs_df(spark, DOCS[6:9])
    got_plain = _pairs(plain.append(last))
    got_comp = _pairs(comp.append(last))
    assert got_comp == got_plain and got_plain  # non-empty, identical

    with pytest.raises(ValueError, match="already committed"):
        comp.append(_docs_df(spark, DOCS[0:3]), batch_key="b0")

    # below min_snapshots: no-op
    assert comp.compact(min_snapshots=5) == 0

    # second compaction folds the FIRST compaction's batch_keys
    # forward along with later singular keys — the guard must keep
    # rejecting b0/b3 after compact -> append -> compact
    _pairs(comp.append(_docs_df(spark, DOCS[0:3]), batch_key="b9"))
    assert comp.compact() == 3
    keys = comp.snapshots()[0].properties["batch_keys"]
    assert sorted(keys) == ["b0", "b3", "b9"]
    with pytest.raises(ValueError, match="already committed"):
        comp.append(_docs_df(spark, DOCS[0:3]), batch_key="b3")


def test_append_commit_runs_exactly_its_two_writes(spark, tmp_path):
    """The batch commit is the sig and bkt writes and nothing else: the
    row count comes from an observation on the sig write, and the
    returned pair frame stays lazy."""
    from .test_commit import _executions

    idx = MinHashIndex(spark, str(tmp_path / "idx7"), **PARAMS)
    _pairs(idx.append(_docs_df(spark, DOCS[0:3])))
    batch = _docs_df(spark, DOCS[3:6])
    before = _executions(spark)
    out = idx.append(batch)
    assert _executions(spark) - before == 2
    assert idx.snapshots()[-1].row_count == 3
    release_caches(out)
