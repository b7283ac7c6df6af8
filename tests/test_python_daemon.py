"""The package's PySpark daemon (executor/daemon.py): zip archive
directories are re-read only when the archive changed on disk, every
Python task runs under that daemon, and the workers can import the
package whatever the Spark application's cwd is."""

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

from pyanamo_spark import session
from pyanamo_spark.executor import daemon
from pyanamo_spark.registry import ORACLES

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture()
def reads(monkeypatch):
    """Fresh stamps, and a counter of central-directory reads."""
    monkeypatch.setattr(daemon, "_stamps", {})
    calls: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        calls.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return calls


def _write_zip(path: Path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, text in files.items():
            zf.writestr(name, text)


def test_unchanged_archive_is_not_reread(tmp_path, reads):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pkg/__init__.py": "", "pkg/mod.py": "X = 1\n"})
    top = zipimport.zipimporter(str(archive))
    sub = zipimport.zipimporter(str(archive / "pkg"))  # same archive
    reads.clear()
    for _ in range(3):
        daemon.invalidate_caches(top)
        daemon.invalidate_caches(sub)
    # the first call stamps and reads once; everything after, and the
    # second importer of the same archive, reuse that directory
    assert reads == [str(archive)]
    assert sub._files is top._files
    assert sub.find_spec("pkg.mod") is not None
    zipimport._zip_directory_cache.pop(str(archive), None)


@pytest.mark.parametrize("how", ["in_place", "replaced"])
def test_rewritten_archive_is_reread(tmp_path, reads, monkeypatch, how):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_daemon_test.py": "VALUE = 1\n"})
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.delitem(sys.modules, "zmod_daemon_test", raising=False)
    try:
        assert importlib.import_module("zmod_daemon_test").VALUE == 1
        importlib.invalidate_caches()  # stamps the archive
        reads.clear()
        if how == "in_place":
            _write_zip(archive, {"zmod_daemon_test.py": "VALUE = 22\n"})
        else:
            fresh = tmp_path / "fresh.zip"
            _write_zip(fresh, {"zmod_daemon_test.py": "VALUE = 3\n"})
            os.replace(fresh, archive)
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        del sys.modules["zmod_daemon_test"]
        want = 22 if how == "in_place" else 3  # same size, new inode
        assert importlib.import_module("zmod_daemon_test").VALUE == want
    finally:
        sys.modules.pop("zmod_daemon_test", None)
        sys.path_importer_cache.pop(str(archive), None)
        zipimport._zip_directory_cache.pop(str(archive), None)


def test_spark_tasks_run_under_package_daemon(spark):
    def where(batches):
        import zipimport

        import pandas as pd

        code = zipimport.zipimporter.invalidate_caches.__code__
        for pdf in batches:
            yield pd.DataFrame({"f": [code.co_filename] * len(pdf)})

    files = {
        r.f
        for r in spark.range(8, numPartitions=4)
        .mapInPandas(where, "f string")
        .collect()
    }
    assert len(files) == 1
    assert files.pop().endswith(os.path.join("pyanamo_spark", "executor", "daemon.py"))


def test_export_pythonpath_adds_each_root_once(monkeypatch):
    monkeypatch.setenv("PYTHONPATH", f"/elsewhere{os.pathsep}{REPO}/")
    session._export_pythonpath(str(REPO))
    session._export_pythonpath(str(REPO / "vendor"))
    session._export_pythonpath(str(REPO / "vendor"))
    assert os.environ["PYTHONPATH"].split(os.pathsep) == [
        "/elsewhere", f"{REPO}/", str(REPO / "vendor"),
    ]


_FOREIGN_CWD_SCRIPT = """
import json, sys
sys.path.insert(0, {repo!r})
from pyanamo_spark.registry import QUERIES, load_all
from pyanamo_spark.session import get_spark
load_all()
spark = get_spark("foreign-cwd", cpus=2)
doubled = spark.range(6, numPartitions=2).mapInPandas(
    lambda it: (p.assign(id=p.id * 2) for p in it), "id long"
)
pipe = QUERIES["q_pipe_exec"](spark, {sf_dir!r})
print(json.dumps({{
    "doubled": sorted(r.id for r in doubled.collect()),
    "pipe": sorted(list(r) for r in pipe.collect()),
}}))
spark.stop()
"""


def test_workers_import_package_from_foreign_cwd(tmp_path, duck, sf_dir):
    """An application started outside the repo, with the package only
    on its own sys.path (the way __spark_entry__.py puts it there),
    still gets working Python workers: the daemon module must import."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and Path(p).resolve() != REPO and REPO not in Path(p).resolve().parents
    )
    script = _FOREIGN_CWD_SCRIPT.format(repo=str(REPO), sf_dir=sf_dir)
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    got = json.loads(out.stdout.strip().splitlines()[-1])
    assert got["doubled"] == [0, 2, 4, 6, 8, 10]
    res = duck.execute(ORACLES["q_pipe_exec"])
    cols = [d[0] for d in res.description]
    assert cols == ["itemID", "nestID", "exit_code", "stdout", "n_lines"]
    want = sorted(list(r) for r in res.fetchall())
    assert want and got["pipe"] == want
