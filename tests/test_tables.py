"""tables.load plan-handle memo (r13) + filesystem revalidation (r14):
a hit requires the same live session AND an unchanged fingerprint of the
table path — a mutated parquet file/dir must yield a fresh reader whose
scan sees the new bytes (mirrors sources/listing.py's memo contract)."""

import os
import shutil

from snapshot_sender_spark import tables


def _bump_mtime(path):
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))


def test_load_memo_revalidates_on_dir_change(spark, tmp_path):
    sf = str(tmp_path / "sfdir")
    os.makedirs(sf)
    p = os.path.join(sf, "region.parquet")
    spark.range(5).write.parquet(p)  # directory-shaped table

    d1 = tables.load(spark, sf, "region")
    assert tables.load(spark, sf, "region") is d1  # unchanged -> memo hit
    assert d1.count() == 5

    spark.range(2).write.mode("overwrite").parquet(p)  # mutate in place
    d2 = tables.load(spark, sf, "region")
    assert d2 is not d1  # changed fingerprint -> fresh reader
    assert d2.count() == 2


def test_load_memo_revalidates_on_file_change(spark, tmp_path):
    sf = str(tmp_path / "sffile")
    staging = str(tmp_path / "staging")
    os.makedirs(sf)

    def write_single_file(n):
        spark.range(n).coalesce(1).write.mode("overwrite").parquet(staging)
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = os.path.join(sf, "nation.parquet")
        shutil.copyfile(os.path.join(staging, part), dst)
        _bump_mtime(dst)  # defeat mtime-granularity aliasing across writes

    write_single_file(7)
    d1 = tables.load(spark, sf, "nation")
    assert tables.load(spark, sf, "nation") is d1
    assert d1.count() == 7

    write_single_file(3)
    d2 = tables.load(spark, sf, "nation")
    assert d2 is not d1
    assert d2.count() == 3


def test_load_memo_revalidates_on_nested_partition_change(spark, tmp_path):
    """A file inside a partition subdirectory changed in place leaves the
    table directory's own entries as they were; the fingerprint must still
    change."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "sfnested")
    part = os.path.join(sf, "region.parquet", "k=0", "part-0.parquet")
    os.makedirs(os.path.dirname(part))
    pq.write_table(pa.table({"id": list(range(4))}), part)

    d1 = tables.load(spark, sf, "region")
    assert tables.load(spark, sf, "region") is d1
    assert d1.count() == 4

    pq.write_table(pa.table({"id": list(range(9))}), part)  # same name, new bytes
    _bump_mtime(part)
    d2 = tables.load(spark, sf, "region")
    assert d2 is not d1
    assert d2.count() == 9


def test_load_memo_still_hits_readonly_fixtures(spark):
    """The bench-relevant property: over the immutable testdata the memo
    must HIT (the revalidation stat may not defeat it)."""
    sf_dir = "/root/testdata/sf0.001"
    d1 = tables.load(spark, sf_dir, "supplier")
    assert tables.load(spark, sf_dir, "supplier") is d1
