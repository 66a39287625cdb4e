"""The zip-aware worker daemon: its ``invalidate_caches`` guard re-reads a
changed archive and skips an unchanged one, and the sessions that
``get_spark`` builds run every Python task under it, whatever the
driver's working directory."""
from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from spark_streaming_dis_plugin_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# source of a task that returns the file its invalidate_caches comes from
GUARD_FILE = ("lambda _: __import__('zipimport').zipimporter"
              ".invalidate_caches.__code__.co_filename")


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="zipimporter re-reads lazily from 3.13 on")
def test_guard_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    # monkeypatch restores the stock method and the read stamps afterwards
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    worker_daemon.install()
    archive = str(tmp_path / "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("dis_zip_first.py", "X = 1\n")
    monkeypatch.syspath_prepend(archive)
    for name in ("dis_zip_first", "dis_zip_second"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import dis_zip_first
    assert dis_zip_first.X == 1

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first pass: no stamp yet, one read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1

    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("dis_zip_first.py", "X = 1\n")
        z.writestr("dis_zip_second.py", "Y = 2\n")
    importlib.invalidate_caches()
    assert len(reads) == 2
    import dis_zip_second
    assert dis_zip_second.Y == 2


def test_python_tasks_run_under_the_guard(spark):
    files = (spark.sparkContext.parallelize([0], 1)
             .map(eval(GUARD_FILE)).collect())
    assert len(files) == 1
    assert os.path.samefile(files[0], worker_daemon.__file__)


def test_session_from_outside_the_checkout_runs_python_tasks(tmp_path):
    code = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from pyspark.sql.functions import udf\n"
        "from spark_streaming_dis_plugin_spark.session import get_spark\n"
        "spark = get_spark('outside-checkout', cpus=1)\n"
        f"guard = udf({GUARD_FILE}, 'string')\n"
        "print('GUARD', spark.range(1).select(guard('id')).first()[0])\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    guard = [ln for ln in out.stdout.splitlines() if ln.startswith("GUARD ")]
    assert len(guard) == 1
    assert os.path.samefile(guard[0].split(" ", 1)[1], worker_daemon.__file__)
