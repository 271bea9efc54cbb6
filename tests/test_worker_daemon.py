"""worker_daemon's zipimporter: an archive's directory is re-read only when
the archive changed since the last read (Spark-free)."""

import importlib
import sys
import zipfile
import zipimport

from adavnceseo_crawler_spark import worker_daemon


def _write_zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


def test_zip_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_probe_a.py": "A = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    try:
        import wd_probe_a

        assert wd_probe_a.A == 1
        del reads[:]
        importlib.invalidate_caches()
        importlib.invalidate_caches()
        assert reads.count(archive) == 1

        _write_zip(archive, {"wd_probe_a.py": "A = 1\n", "wd_probe_b.py": "B = 2\n"})
        importlib.invalidate_caches()
        assert reads.count(archive) == 2
        import wd_probe_b

        assert wd_probe_b.B == 2
    finally:
        for name in ("wd_probe_a", "wd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
