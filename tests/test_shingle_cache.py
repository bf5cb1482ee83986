"""The catalog's shared shingle cache must not serve stale data when the
underlying documents table is regenerated in-place (r4 ADVICE): the cache
key carries a fingerprint (path, mtime, size) of the parquet files."""

import os
import shutil

from logvision_spark.catalog import (
    _docs_fingerprint,
    _shared_shingles,
    invalidate_caches,
)
from logvision_spark.sources.readers import load_table_cache_clear

SF_DIR = os.environ.get("LOGVISION_TEST_SF_DIR", "/root/testdata/sf0.001")


def _copy_docs(dst: str) -> None:
    src = os.path.join(SF_DIR, "documents.parquet")
    if os.path.isfile(src):
        shutil.copy2(src, os.path.join(dst, "documents.parquet"))
    else:
        shutil.copytree(src, os.path.join(dst, "documents.parquet"))


def test_fingerprint_tracks_mtime_and_size(tmp_path):
    d = str(tmp_path)
    _copy_docs(d)
    fp1 = _docs_fingerprint(d)
    assert fp1, "fingerprint should see the copied parquet"
    fp_again = _docs_fingerprint(d)
    assert fp1 == fp_again
    # touch one underlying file: fingerprint must change
    root = os.path.join(d, "documents.parquet")
    target = root if os.path.isfile(root) else os.path.join(
        root, sorted(os.listdir(root))[0]
    )
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    assert _docs_fingerprint(d) != fp1


def test_fingerprint_sees_nested_layouts_and_absence(tmp_path):
    """Partitioned/nested part-file layouts must fingerprint their leaf
    files (a non-recursive glob would return the same () before and
    after regeneration), and a missing table must not key-collide with
    an empty or other missing one."""
    d = str(tmp_path)
    nested = tmp_path / "documents.parquet" / "source=src0"
    nested.mkdir(parents=True)
    (nested / "part-0.parquet").write_bytes(b"x" * 10)
    fp = _docs_fingerprint(d)
    assert fp and fp[0][0].endswith("part-0.parquet")
    (nested / "part-0.parquet").write_bytes(b"y" * 11)
    assert _docs_fingerprint(d) != fp
    absent = _docs_fingerprint(str(tmp_path / "nowhere"))
    assert absent[0] == "absent"
    assert absent != _docs_fingerprint(str(tmp_path / "elsewhere"))


def test_cache_invalidates_on_regeneration(spark, tmp_path):
    d = str(tmp_path)
    _copy_docs(d)
    invalidate_caches()
    load_table_cache_clear()
    try:
        first = _shared_shingles(spark, d)
        assert _shared_shingles(spark, d) is first  # steady state: cached
        root = os.path.join(d, "documents.parquet")
        target = root if os.path.isfile(root) else os.path.join(
            root, sorted(os.listdir(root))[0]
        )
        # REGENERATE the table in place via a real Spark write: the new
        # part files have different names, so a stale memoized FileIndex
        # would fail with FILE_NOT_EXIST (the review's reproduction).
        # Deliberately NO load_table_cache_clear() here: _shared_shingles
        # must drop the memoized table resolution itself when the
        # fingerprint moves.
        spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta", "src0")],
            "doc_id long, text string, source string",
        ).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
        second = _shared_shingles(spark, d)
        assert second is not first, "stale cache served after regeneration"
        n = second.count()  # must scan the NEW files, not the old index
        assert n == 4, n  # 6 tokens -> 4 distinct 3-shingles
    finally:
        invalidate_caches()
        load_table_cache_clear()
