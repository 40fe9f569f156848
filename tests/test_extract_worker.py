"""The extraction UDF's worker-side zip-import fix
(``extract._skip_unchanged_zip_rereads``): an importer re-reads its
archive directory only when the archive changed.

The unit tests patch this (driver) process's ``zipimporter`` and undo
it through ``monkeypatch``; the last test checks, in a fresh local[1]
JVM, that the patch is live in the Python worker after extraction ran.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from lnex_spark.operators.extract import _skip_unchanged_zip_rereads

REPO = Path(__file__).resolve().parent.parent
old_python = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip archives lazily"
)


def _write_zip(path: Path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.fixture
def archive(tmp_path, monkeypatch):
    """A zip on sys.path holding one module, imported once; the stock
    ``invalidate_caches`` is restored after the test. Yields (path,
    module-name prefix, list of archives read by ``_read_directory``)."""
    prefix = f"zw_{tmp_path.name.replace('-', '_')}"
    path = tmp_path / "mods.zip"
    _write_zip(path, {f"{prefix}_a": "X = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches)
    for suffix in ("a", "b"):
        monkeypatch.delitem(sys.modules, f"{prefix}_{suffix}", raising=False)
    importlib.import_module(f"{prefix}_a")

    reads: list[str] = []
    stock_read = zipimport._read_directory

    def counting_read(archive_path):
        reads.append(archive_path)
        return stock_read(archive_path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    yield path, prefix, reads


def _reads_of(reads: list[str], path: Path) -> int:
    return sum(1 for a in reads if a == str(path))


@old_python
def test_unchanged_archive_is_not_reread(archive):
    path, _, reads = archive
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()  # the importer's first call reads, as before
    assert _reads_of(reads, path) == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert _reads_of(reads, path) == 1


@old_python
def test_rewritten_archive_is_reread_and_its_new_module_imports(archive):
    path, prefix, reads = archive
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    _write_zip(path, {f"{prefix}_a": "X = 1\n", f"{prefix}_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 2
    assert importlib.import_module(f"{prefix}_b").Y == 2


@old_python
def test_deleted_archive_takes_the_stock_path(archive):
    path, _, reads = archive
    _skip_unchanged_zip_rereads()
    importlib.invalidate_caches()
    importer = sys.path_importer_cache[str(path)]
    path.unlink()
    importlib.invalidate_caches()  # must not raise
    assert importer._files == {}
    assert str(path) not in zipimport._zip_directory_cache
    assert "_archive_stamp" not in importer.__dict__
    assert _reads_of(reads, path) == 2


@old_python
def test_second_install_does_not_double_wrap(archive):
    path, _, reads = archive
    _skip_unchanged_zip_rereads()
    wrapped = zipimport.zipimporter.invalidate_caches
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is wrapped
    importlib.invalidate_caches()
    _write_zip(path, {"other": "Z = 3\n"})
    importlib.invalidate_caches()
    assert _reads_of(reads, path) == 2


@pytest.mark.skipif(sys.version_info < (3, 13), reason="checks CPython >= 3.13")
def test_new_python_leaves_zipimporter_alone(monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    _skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is stock


_WORKER_PROBE = """
import json
from lnex_spark.data import fixtures as FX
from lnex_spark.operators.extract import extract_mentions_df
from lnex_spark.pipeline import build_gazetteer
from lnex_spark.session import get_spark
from tests.conftest import to_spark_gaz, to_spark_stopwords, to_spark_transcripts, to_spark_wordlist

spark = get_spark(master="local[1]", shuffle_partitions=1)
gaz = FX.gen_gazetteer("chennai")
model = build_gazetteer(
    spark, to_spark_gaz(spark, gaz), to_spark_stopwords(spark, FX.gen_stopwords()),
    to_spark_wordlist(spark, FX.gen_wordlist()),
)
t_df = to_spark_transcripts(spark, FX.gen_transcripts("chennai", n_convs=5, n_turns=100, gazetteer=gaz))
runs = [sorted(tuple(r) for r in extract_mentions_df(t_df, model.bc_struct).collect()) for _ in range(2)]

def probe(batches):
    import zipimport
    import pandas as pd
    f = zipimport.zipimporter.invalidate_caches
    for _ in batches:
        yield pd.DataFrame({"module": [f.__module__], "qualname": [f.__qualname__]})

row = spark.range(1, numPartitions=1).mapInPandas(probe, "module string, qualname string").first()
print(json.dumps({"module": row.module, "qualname": row.qualname, "mentions": len(runs[0]),
                  "same": runs[0] == runs[1]}))
"""


def test_fix_reaches_the_python_worker(tmp_path):
    """After an extraction on a fresh local[1] session, the reused
    Python worker's ``zipimporter.invalidate_caches`` is the helper's
    wrapper, and a second extraction gives identical mentions."""
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_PROBE],
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": str(REPO)},  # the workers import lnex_spark too
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["module"] == "lnex_spark.operators.extract"
    assert got["qualname"] == "_skip_unchanged_zip_rereads.<locals>.invalidate_caches"
    assert got["same"] and got["mentions"] > 0
