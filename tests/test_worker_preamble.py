"""The worker preamble (operators/grouped._worker_preamble): a
stat-checked zipimporter.invalidate_caches installed in Python workers
only. The zip checks run in a subprocess so this process's importers
stay stock; the Spark test checks that every engine entry point
installs it in its worker and that the driver never has it."""

import os
import subprocess
import sys
import textwrap
import zipimport

import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(body: str, tmp_path) -> None:
    script = textwrap.dedent(
        """
        import importlib, os, sys, zipfile, zipimport
        from pyspark import TaskContext
        from util_gis_spark.operators.grouped import _worker_preamble

        STOCK = zipimport.zipimporter.invalidate_caches
        arc = os.path.join(sys.argv[1], "mods.zip")
        with zipfile.ZipFile(arc, "w") as z:
            z.writestr("mod_a.py", "X = 1\\n")
        sys.path.insert(0, arc)
        import mod_a
        TaskContext._getOrCreate()  # a Python worker sets this before any UDF runs
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda p: reads.append(p) or real(p)
        """
    ) + textwrap.dedent(body)
    out = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr


def test_unchanged_archive_is_not_reread(tmp_path):
    _run(
        """
        _worker_preamble()
        _worker_preamble()
        assert zipimport.zipimporter.invalidate_caches.__wrapped__ is STOCK
        importlib.invalidate_caches()  # first call records the importer's stamp
        assert reads == [arc], reads
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == [arc], reads
        """,
        tmp_path,
    )


def test_rewritten_archive_is_reread(tmp_path):
    _run(
        """
        _worker_preamble()
        importlib.invalidate_caches()
        with zipfile.ZipFile(arc, "a") as z:
            z.writestr("mod_b.py", "Y = 2\\n")
        importlib.invalidate_caches()
        assert reads == [arc, arc], reads
        import mod_b
        assert mod_b.Y == 2
        """,
        tmp_path,
    )


def test_python_313_left_untouched(tmp_path):
    _run(
        """
        sys.version_info = (3, 13, 0, "final", 0)
        _worker_preamble()
        assert zipimport.zipimporter.invalidate_caches is STOCK
        """,
        tmp_path,
    )


def test_no_install_outside_a_task(tmp_path):
    _run(
        """
        TaskContext._setTaskContext(None)
        _worker_preamble()
        assert zipimport.zipimporter.invalidate_caches is STOCK
        """,
        tmp_path,
    )


def test_every_entry_point_installs_it_in_its_worker(spark, tmp_path):
    from util_gis_spark import streaming as S
    from util_gis_spark.operators.dedup import simhash_bands, simhash_docs
    from util_gis_spark.operators.grouped import _worker_preamble, grouped_apply, map_apply

    def _installed_then_reset() -> int:
        """In a worker: 1 if the preamble is installed, then restore
        the stdlib method so the next entry point must install it
        again (a reused worker would otherwise still carry it)."""
        cls = zipimport.zipimporter
        m = cls.invalidate_caches
        if not hasattr(m, "__wrapped__"):
            return 0
        cls.invalidate_caches = m.__wrapped__
        return 1

    def probe(pdf):
        return pd.DataFrame({"ok": [_installed_then_reset()]})

    df = spark.range(0, 8, numPartitions=2).selectExpr("id", "id % 2 AS g")
    assert map_apply(df, lambda pdf: pdf, "id long, g long").count() == 8  # first job
    got = {
        "map_apply": map_apply(df, probe, "ok int"),
        "grouped (pdf)": grouped_apply(df, ["g"], probe, "ok int"),
        "grouped (key, pdf)": grouped_apply(df, ["g"], lambda key, pdf: probe(pdf), "ok int"),
    }
    for name, out in got.items():
        assert [r["ok"] for r in out.collect()] == [1, 1], name

    src = tmp_path / "docs"
    src.mkdir()
    pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d e", "a b c d e"]}).to_parquet(
        src / "00.parquet"
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(str(src))
    matcher = S._bucket_pair_stream(
        simhash_bands(simhash_docs(stream)),
        payload="simhash",
        width=1,
        score=lambda a, b: _installed_then_reset(),
        keep=lambda ok: True,
        score_field="ok int",
        max_bucket=10,
    )
    rows = S.run_stream_to_memory(matcher, "t_preamble_matcher", output_mode="append").collect()
    assert sorted((r["band"], r["ok"]) for r in rows) == [(0, 1), (1, 1)]

    # the driver keeps the stdlib method, even if it calls the preamble
    _worker_preamble()
    assert not hasattr(zipimport.zipimporter.invalidate_caches, "__wrapped__")
