"""Artifact-readability memo stamp depth (ADVICE r15, fixed r16).

The r15 session memo keyed artifact verification on (root + immediate
children) mtimes, claiming grandchild changes were caught "because
their parent's mtime moves" — true only for create/delete/rename. An
IN-PLACE overwrite or truncation of a grandchild part file (e.g.
scored-index postings/part-*.parquet) moves neither the root's nor the
child dir's mtime, so a memoized verification would have served a
corrupted artifact the per-call probe it replaced would have caught.
The r16 stamp records (size, mtime) of root, children AND
grandchildren, so that manipulation invalidates the memo. Incremental
index roots nest one level deeper (postings/batch_id=N/part-*.parquet),
so the stamp now walks the whole artifact tree."""

from __future__ import annotations

import glob
import os

from realtimedatapipeline_8_project_spark.operators.text_analysis import (
    build_incremental_index,
    build_scored_index,
)
from realtimedatapipeline_8_project_spark.sources.tables import (
    _artifact_stamp,
    artifact_verified,
)


def test_grandchild_truncation_invalidates_verified_memo(spark, sf_small):
    root = build_scored_index(spark, sf_small)  # marks verified
    assert artifact_verified(spark, root)
    parts = sorted(glob.glob(os.path.join(root, "postings", "part-*")))
    assert parts, "scored index must have grandchild part files"
    child_dir = os.path.dirname(parts[0])
    before = (os.stat(root), os.stat(child_dir))
    # in-place truncation (every part file, so the rebuild-on-doubt
    # probe cannot luck into an intact one), with every PARENT mtime
    # restored afterwards — the exact blind spot ADVICE r15 named (no
    # create/delete/rename, so no parent mtime moves on its own; we
    # pin them anyway)
    for victim in parts:
        with open(victim, "r+b") as fh:
            fh.truncate(4)
    os.utime(child_dir, ns=(before[1].st_atime_ns, before[1].st_mtime_ns))
    os.utime(root, ns=(before[0].st_atime_ns, before[0].st_mtime_ns))
    assert os.stat(root).st_mtime_ns == before[0].st_mtime_ns
    assert os.stat(child_dir).st_mtime_ns == before[1].st_mtime_ns
    # the grandchild's own (size, mtime) entry must change the stamp...
    assert not artifact_verified(spark, root)
    # ...so the next build call re-probes, catches the corruption, and
    # rebuilds a readable artifact
    root2 = build_scored_index(spark, sf_small)
    assert root2 == root
    assert (
        spark.read.parquet(os.path.join(root2, "postings")).count() > 0
    )


def test_stamp_records_grandchild_size_and_mtime(tmp_path):
    root = tmp_path / "art"
    (root / "component" / "batch_id=0").mkdir(parents=True)
    gc = root / "component" / "part-000.parquet"
    ggc = root / "component" / "batch_id=0" / "part-000.parquet"
    for f in (gc, ggc):
        f.write_bytes(b"x" * 100)
    # a size-only change at either depth changes the stamp
    for f in (gc, ggc):
        s1 = _artifact_stamp(str(root))
        st = os.stat(f)
        with open(f, "r+b") as fh:
            fh.truncate(10)
        os.utime(f, ns=(st.st_atime_ns, st.st_mtime_ns))
        s2 = _artifact_stamp(str(root))
        assert s1 != s2


def test_incremental_index_part_truncation_invalidates_verified_memo(
    spark, sf_small
):
    """The incremental index keeps its postings one level deeper than the
    scored index (root/postings/batch_id=N/part-*.parquet): an in-place
    truncation there, with every directory mtime restored, must still
    invalidate the memo so the next build call re-probes and rebuilds."""
    root = build_incremental_index(spark, sf_small)  # marks verified
    assert artifact_verified(spark, root)
    parts = sorted(
        glob.glob(os.path.join(root, "postings", "batch_id=*", "part-*"))
    )
    assert parts, "incremental index must have batch-partition part files"
    dirs = sorted(
        {root, os.path.join(root, "postings")}
        | {os.path.dirname(p) for p in parts}
    )
    before = {d: os.stat(d) for d in dirs}
    for victim in parts:
        with open(victim, "r+b") as fh:
            fh.truncate(4)
    for d, st in before.items():
        os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert all(os.stat(d).st_mtime_ns == st.st_mtime_ns for d, st in before.items())
    assert not artifact_verified(spark, root)
    root2 = build_incremental_index(spark, sf_small)
    assert root2 == root
    assert spark.read.parquet(os.path.join(root2, "postings")).count() > 0
