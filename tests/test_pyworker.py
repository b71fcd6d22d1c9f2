"""Python worker start-up: the engine's worker daemon (``pydaemon``) and
the workers' import path.

The daemon gates ``zipimporter.invalidate_caches`` on the archive's stat,
so a task re-reads a zip directory only when the archive changed; the
workers find the package through ``spark.executorEnv.PYTHONPATH``
whatever the driver's cwd.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from reshape_on_flink_spark import pydaemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

needs_gate = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="CPython >= 3.13 re-reads zip directories lazily; no gate",
)


def _write_zip(path: str, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_gate
def test_gate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"_pyd_probe_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    real_read = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return real_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)
    try:
        assert importlib.import_module("_pyd_probe_a").X == 1
        # ungated, every invalidation re-reads the unchanged archive
        importlib.invalidate_caches()
        assert archive in reads

        monkeypatch.setattr(
            zipimport.zipimporter, "invalidate_caches",
            pydaemon.invalidate_if_changed,
        )
        importlib.invalidate_caches()  # first gated call records stats
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"_pyd_probe_a": "X = 1\n", "_pyd_probe_b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads == [archive]
        assert importlib.import_module("_pyd_probe_b").Y == 2
    finally:
        for name in ("_pyd_probe_a", "_pyd_probe_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(archive, None)
        zipimport._zip_directory_cache.pop(archive, None)


@needs_gate
def test_session_workers_run_the_gated_daemon(spark):
    def _report_gate(it):
        # references no engine module: pickled by value, so it runs even
        # where the workers could not import the package
        import importlib
        import os
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        gate = zipimport.zipimporter.invalidate_caches
        reads = [0]
        real_read = zipimport._read_directory

        def counted(path):
            reads[0] += 1
            return real_read(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real_read
        yield pd.DataFrame({
            "gate": [f"{gate.__name__}@{os.path.basename(gate.__code__.co_filename)}"],
            "reads": [reads[0]],
        })

    rows = (
        spark.range(0, 64, 1, 4)
        .mapInPandas(_report_gate, "gate string, reads long")
        .collect()
    )
    assert len(rows) == 4
    assert {r.gate for r in rows} == {"invalidate_if_changed@pydaemon.py"}
    assert {r.reads for r in rows} == {0}


_FOREIGN_CWD_SCRIPT = textwrap.dedent(
    """
    import json, sys
    sys.path.insert(0, sys.argv[1])
    from reshape_on_flink_spark.session import get_spark
    from reshape_on_flink_spark.streaming.changelog import join_changelog

    spark = get_spark(
        "foreign_cwd", cores=1, extra_confs={"spark.driver.memory": "1g"}
    )
    left = spark.createDataFrame(
        [(1, "+I", 10, 0), (2, "+I", 20, 0)],
        "k long, _change_type string, v long, oseq long",
    )
    right = spark.createDataFrame(
        [(1, "+I", 7, 0)], "k long, _change_type string, w long, oseq long"
    )
    joined = join_changelog(left, right, "k", "inner", order_by="oseq")

    def double(it):
        for pdf in it:
            yield pdf.assign(id=pdf["id"] * 2)

    doubled = spark.range(5).mapInPandas(double, "id long")
    print(json.dumps({
        "join": sorted((r.k, r.v, r.w) for r in joined.collect()),
        "map": sorted(r.id for r in doubled.collect()),
    }))
    spark.stop()
    """
)


def test_python_stages_run_from_a_foreign_cwd(tmp_path):
    script = tmp_path / "smoke.py"
    script.write_text(_FOREIGN_CWD_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    proc = subprocess.run(
        [sys.executable, str(script), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out == {"join": [[1, 10, 7]], "map": [0, 2, 4, 6, 8]}
