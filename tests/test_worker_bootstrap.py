"""The Python-worker bootstrap (advanced_text_extraction_spark/worker.py):
after it runs, ``importlib.invalidate_caches()`` no longer re-reads the
central directory of an unchanged zip on ``sys.path``, while zips added
to or replaced on the path stay importable."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from advanced_text_extraction_spark import worker


@pytest.fixture
def fresh(monkeypatch):
    """Undo the process-wide patch after each test."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker, "_installed", False)
    return monkeypatch


def _zip_module(path, name: str, value: int) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{name}.py", f"VALUE = {value}\n")
    return str(path)


def _import(monkeypatch, name: str):
    monkeypatch.delitem(sys.modules, name, raising=False)
    mod = importlib.import_module(name)
    monkeypatch.delitem(sys.modules, name)
    return mod


@pytest.fixture
def count_reads(monkeypatch):
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_idempotent(fresh):
    worker.bootstrap_worker()
    patched = zipimport.zipimporter.invalidate_caches
    worker.bootstrap_worker()
    assert zipimport.zipimporter.invalidate_caches is patched
    if sys.version_info < (3, 12):
        assert worker._installed


def test_noop_on_python_312(fresh):
    original = zipimport.zipimporter.invalidate_caches
    fresh.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    worker.bootstrap_worker()
    assert zipimport.zipimporter.invalidate_caches is original
    assert not worker._installed


def test_zip_added_after_bootstrap_is_importable(fresh, tmp_path):
    worker.bootstrap_worker()
    importlib.invalidate_caches()
    fresh.syspath_prepend(_zip_module(tmp_path / "late.zip",
                                      "ate_late_zip_mod", 7))
    assert _import(fresh, "ate_late_zip_mod").VALUE == 7


def test_second_invalidate_skips_unchanged_zip(fresh, tmp_path,
                                               count_reads):
    archive = _zip_module(tmp_path / "early.zip", "ate_early_zip_mod", 1)
    fresh.syspath_prepend(archive)
    assert _import(fresh, "ate_early_zip_mod").VALUE == 1
    worker.bootstrap_worker()
    importlib.invalidate_caches()
    count_reads.clear()
    importlib.invalidate_caches()
    assert archive not in count_reads
    # a zip replaced in place (new size) is re-read and imports anew
    _zip_module(tmp_path / "early.zip", "ate_early_zip_mod", 12345)
    importlib.invalidate_caches()
    assert _import(fresh, "ate_early_zip_mod").VALUE == 12345
