"""The crash-and-commit kernel both persisted ANN indexes share
(``fsutil.IndexKernel``): behaviour that must hold for each of them
because it lives in one place."""

import os

import pytest
import pyspark.sql.functions as F

from rados_timestore_spark.hnsw import HNSWIndex
from rados_timestore_spark.vector_index import VectorIndex
from tests.conftest import SF_DIR


def _built(spark, tmp_path, cls):
    emb = (spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
           .filter(F.col("vec_id") < 40))
    ix = cls(spark, str(tmp_path / "ix"))
    if cls is VectorIndex:
        ix.build("e", emb, k=4)
    else:
        ix.build("e", emb, shards=2)
    return ix


@pytest.mark.parametrize("cls", [VectorIndex, HNSWIndex])
def test_verb_entry_sweeps_clockprobe_remnant(spark, tmp_path, cls):
    # a flip_lock stale-break probes the FS clock with a
    # `.clockprobe.` file in the namespace dir (fsutil.fs_now_ms); a
    # kill between its create and delete leaves it behind, and the
    # next verb entry must sweep it on either index
    ix = _built(spark, tmp_path, cls)
    probe = f"{ix._ns_dir('e')}/.clockprobe.1.x"
    assert ix.fs.create_exclusive(probe)
    ix.compact("e")
    assert not ix.fs.exists(probe)


def test_swap_dir_cases(spark, tmp_path):
    ix = VectorIndex(spark, str(tmp_path))
    base = str(tmp_path)

    def mk(name, marker):
        os.makedirs(f"{base}/{name}", exist_ok=True)
        open(f"{base}/{name}/{marker}", "w").close()

    # both present: staging replaces live, no .old left
    mk("live", "old-file")
    mk("stage", "new-file")
    ix._swap_dir(f"{base}/live", f"{base}/stage", "t")
    assert os.listdir(f"{base}/live") == ["new-file"]
    assert not os.path.exists(f"{base}/stage")
    assert not os.path.exists(f"{base}/live.old")
    # absent live: staging is promoted
    mk("stage2", "f")
    ix._swap_dir(f"{base}/fresh", f"{base}/stage2", "t")
    assert os.listdir(f"{base}/fresh") == ["f"]
    # absent staging: live vanishes
    ix._swap_dir(f"{base}/fresh", f"{base}/nothing", "t")
    assert not os.path.exists(f"{base}/fresh")
    assert not os.path.exists(f"{base}/fresh.old")


def test_swap_dir_rolls_back_failed_promote(spark, tmp_path):
    ix = VectorIndex(spark, str(tmp_path))
    base = str(tmp_path)
    os.makedirs(f"{base}/live")
    open(f"{base}/live/keep", "w").close()
    os.makedirs(f"{base}/stage")
    real = ix.fs.rename

    def failing(src, dst):
        if src.endswith("/stage"):
            return False
        return real(src, dst)

    ix.fs.rename = failing
    with pytest.raises(IOError, match="cannot promote"):
        ix._swap_dir(f"{base}/live", f"{base}/stage", "t")
    assert os.listdir(f"{base}/live") == ["keep"]
    assert not os.path.exists(f"{base}/live.old")
