"""The crawl round's fixed cost per Python task.

``worker_daemon.patch_zipimporter``: the per-task ``invalidate_caches()`` of
PySpark's worker re-reads an import archive only when it changed. The
engine sizes the stage that runs the parse and normalize UDFs from
``defaultParallelism`` and the frontier count, not from the storage layout,
and runs them once per fetched page.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ant_spark import schemas
from ant_spark.engine import CrawlConfig, Engine
from ant_spark.sources.webgraph import GraphConfig, generate
from ant_spark.worker_daemon import patch_zipimporter

before_313 = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython 3.13 no longer re-reads archives in invalidate_caches",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path, the patched invalidate_caches, and a
    counter of central-directory reads; all undone at teardown."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"ant_zip_mod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for mod in ("ant_zip_mod_a", "ant_zip_mod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    patch_zipimporter()
    yield archive, reads
    sys.path_importer_cache.pop(archive, None)
    zipimport._zip_directory_cache.pop(archive, None)


@before_313
def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    assert importlib.import_module("ant_zip_mod_a").X == 1
    importlib.invalidate_caches()  # the first call stamps the archive
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert archive not in reads


@before_313
@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(zip_on_path, change):
    archive, reads = zip_on_path
    importlib.import_module("ant_zip_mod_a")
    importlib.invalidate_caches()
    st = os.stat(archive)
    if change == "size":
        _write_zip(archive, {"ant_zip_mod_a": "X = 1\n", "ant_zip_mod_b": "X = 2\n"})
        assert os.stat(archive).st_size != st.st_size
        # same mtime: only the size tells the rewrite apart
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns))
    else:
        # same length, new content: only the mtime tells it apart
        _write_zip(archive, {"ant_zip_mod_b": "X = 2\n"})
        assert os.stat(archive).st_size == st.st_size
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    reads.clear()
    importlib.invalidate_caches()
    assert reads.count(archive) == 1
    assert importlib.import_module("ant_zip_mod_b").X == 2


def test_addpyfile_zip_imports_in_udf(spark, tmp_path):
    """A zip shipped mid-session imports inside a UDF: the case the
    worker's per-task invalidate_caches exists for."""
    assert (
        spark.sparkContext.getConf().get("spark.python.daemon.module")
        == "ant_spark.worker_daemon"
    )
    archive = str(tmp_path / "ant_shipped_mods.zip")
    _write_zip(archive, {"ant_shipped_mod": "VALUE = 'shipped'\n"})

    @pandas_udf("string")
    def probe(s):
        import zipimport as zi

        import ant_shipped_mod

        patched = zi.zipimporter.invalidate_caches.__qualname__
        return s.map(lambda _: f"{ant_shipped_mod.VALUE}|{patched}")

    @pandas_udf("long")
    def plus_one(s):
        return s + 1

    # start the workers first, so the zip arrives mid-session
    spark.range(4).select(plus_one("id")).collect()
    spark.sparkContext.addPyFile(archive)
    got = {
        r[0]
        for r in spark.range(0, 8, 1, 4)
        .select(probe(F.col("id").cast("string")))
        .collect()
    }
    assert len(got) == 1
    value, patched = got.pop().split("|")
    assert value == "shipped"
    if sys.version_info < (3, 13):
        assert patched.startswith("patch_zipimporter.")


def _recording_renderer(out_dir: str):
    """Render kernel that returns html unchanged and records the partition
    of the parse stage it runs in."""

    def render(html):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        open(os.path.join(out_dir, str(pid)), "a").close()
        return html

    return render


@pytest.mark.parametrize("pages_table", [False, True])
def test_parse_stage_sized_to_cores(spark, tmp_path, pages_table):
    pages_pdf, _, _ = generate(
        GraphConfig(n_pages=64, n_hosts=4, flaky_every=0, crawl_delay_hosts=0)
    )
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    cfg = dict(max_rounds=1, checkpoint_dir=str(tmp_path / "ck"))
    if pages_table:
        Engine.create_pages_table(
            spark, pages, "pt_sized", str(tmp_path / "pt"), buckets=16
        )
        cfg.update(pages_table="pt_sized", fetch_buckets=16)
    seeds = spark.createDataFrame(pages_pdf[["url"]].iloc[:48])
    rec = tmp_path / "partitions"
    rec.mkdir()
    res = Engine(
        spark, pages, None,
        CrawlConfig(render_fn=_recording_renderer(str(rec)), **cfg),
    ).run(seeds)
    # round 0 writes no state; round 1's frontier is one file
    assert not os.path.exists(res.state_dir + "/round=00000")
    frontier = res.state_dir + "/round=00001/frontier"
    assert len([f for f in os.listdir(frontier) if f.endswith(".parquet")]) == 1
    assert res.pages_fetched == 48
    want = min(spark.sparkContext.defaultParallelism, res.pages_fetched)
    assert len(os.listdir(rec)) == want


def _digest_renderer(out_dir: str):
    """Render kernel that returns html unchanged and records one line, the
    html's digest, per call."""

    def render(html):
        import hashlib

        with open(os.path.join(out_dir, str(os.getpid())), "a") as f:
            f.write(hashlib.sha1(html).hexdigest() + "\n")
        return html

    return render


@pytest.mark.parametrize("bucketed", [False, True])
def test_parse_stage_runs_once_per_fetched_page(spark, tmp_path, bucketed):
    """Each fetched page crosses the parse-stage UDFs exactly once over a
    multi-round crawl: the cached fetch+parse frame is never recomputed by
    the round's counting action, its writes or the next round."""
    import hashlib
    from collections import Counter

    pages_pdf, _, seeds = generate(
        GraphConfig(n_pages=80, n_hosts=4, crawl_delay_hosts=0)
    )
    pages = spark.createDataFrame(pages_pdf, schema=schemas.PAGES)
    cfg = dict(max_rounds=3, checkpoint_dir=str(tmp_path / "ck"))
    if bucketed:
        Engine.create_pages_table(
            spark, pages, "pt_once", str(tmp_path / "pt"), buckets=4
        )
        cfg.update(pages_table="pt_once", fetch_buckets=4,
                   state_backend="bucketed", state_partitions=4)
    rec = tmp_path / "calls"
    rec.mkdir()
    res = Engine(
        spark, pages, None,
        CrawlConfig(render_fn=_digest_renderer(str(rec)), **cfg),
    ).run(seeds)
    calls = Counter(
        line for f in os.listdir(rec) for line in (rec / f).read_text().split()
    )
    html = dict(zip(pages_pdf.url, pages_pdf.html))
    fetched = [r["url"] for r in res.fetched_log.collect()]
    assert res.pages_fetched == len(fetched) > 0
    assert calls == Counter(hashlib.sha1(html[u]).hexdigest() for u in fetched)
