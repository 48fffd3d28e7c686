"""The package's zip-directory hook (ccgp_data_wrangling_spark/_zipcache.py):
``importlib.invalidate_caches()`` must not re-read an unchanged zip, and
must still pick up a changed one."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

import ccgp_data_wrangling_spark  # noqa: F401  (installs the hook)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12),
    reason="CPython 3.12 re-reads zip directories lazily (gh-103200)",
)


def _write_zip(path, module: str, source: str) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{module}.py", source)


def test_invalidate_caches_rereads_only_changed_zip(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, "m_a", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        import m_a

        assert m_a.X == 1
        read = zipimport._read_directory
        reads: list[str] = []

        def counting(path):
            reads.append(path)
            return read(path)

        monkeypatch.setattr(zipimport, "_read_directory", counting)
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads.count(str(archive)) == 0

        # a different size, so the stamp differs even within one mtime tick
        _write_zip(archive, "m_b", "Y = 'from the rewritten archive'\n")
        importlib.invalidate_caches()
        import m_b

        assert m_b.Y == "from the rewritten archive"
    finally:
        sys.modules.pop("m_a", None)
        sys.modules.pop("m_b", None)
