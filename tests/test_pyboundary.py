"""The zipimport invalidate guard (pyboundary.py): semantics-preserving —
unchanged archives skip the directory re-read, changed archives are re-read."""

import importlib
import os
import sys
import time
import zipfile
import zipimport

import snapshot_sender_spark  # noqa: F401 - installs the guard
from snapshot_sender_spark.pyboundary import install_zipimport_guard


def test_guard_installed_and_idempotent():
    assert getattr(zipimport.zipimporter, "_ssp_mtime_guard", False)
    assert install_zipimport_guard() is False  # second install is a no-op


def _make_zip(path, payload):
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("guardmod.py", payload)


def test_unchanged_archive_skips_reread(tmp_path):
    zp = os.path.join(tmp_path, "g1.zip")
    _make_zip(zp, "VALUE = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    files_before = zi._files
    zi.invalidate_caches()  # unchanged -> must keep the cached directory object
    assert zi._files is files_before


def test_changed_archive_is_reread_and_importable(tmp_path):
    zp = os.path.join(tmp_path, "g2.zip")
    _make_zip(zp, "VALUE = 1\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    old_files = zi._files
    # rewrite with different content; bump mtime explicitly in case the
    # filesystem's mtime granularity would otherwise alias the signature
    _make_zip(zp, "VALUE = 2\n")
    st = os.stat(zp)
    os.utime(zp, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    zi.invalidate_caches()
    assert zi._files is not old_files
    sys.path.insert(0, zp)
    try:
        importlib.invalidate_caches()
        mod = importlib.import_module("guardmod")
        assert mod.VALUE == 2
    finally:
        sys.path.remove(zp)
        sys.modules.pop("guardmod", None)


def test_missing_archive_degrades_to_original(tmp_path):
    zp = os.path.join(tmp_path, "g3.zip")
    _make_zip(zp, "VALUE = 3\n")
    zi = zipimport.zipimporter(zp)
    zi.invalidate_caches()
    os.unlink(zp)
    zi.invalidate_caches()  # stat fails -> falls through to the original path
    assert zi._files == {}
