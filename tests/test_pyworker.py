"""The Python-worker daemon: stamped zip importers and the session wiring.

``vectordb_retrieval_spark.pyworker`` makes every zip importer re-read
its archive only when the archive's ``(st_mtime_ns, st_size)`` changed.
These tests pin both halves of that rule, and check that the engine's
session really starts its workers from that module, including for a
driver that found the package only through ``sys.path``, and that the
workers talk to the JVM over Unix-domain sockets unless the socket
directory is too long for a socket path.
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import tempfile
import textwrap
import zipfile

import pyarrow as pa

from vectordb_retrieval_spark.pyworker import StampedZipImporter
from vectordb_retrieval_spark.session import worker_socket_conf

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def test_stamped_importer_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"alpha": "X = 1\n"})
    imp = StampedZipImporter(archive)
    monkeypatch.setitem(sys.path_importer_cache, archive, imp)

    importlib.invalidate_caches()
    unchanged = imp._files
    importlib.invalidate_caches()
    assert imp._files is unchanged  # same stamp: the directory is not re-read
    assert imp.find_spec("beta") is None

    _write_zip(archive, {"alpha": "X = 1\n", "beta": "Y = 2\n"})
    importlib.invalidate_caches()
    assert imp._files is not unchanged
    assert imp.find_spec("beta") is not None


def test_session_workers_use_stamped_zip_importers(spark):
    def kernel(batches):
        import sys
        import zipimport

        names = sorted(
            {
                f"{type(f).__module__}.{type(f).__qualname__}"
                for f in (sys.path_importer_cache.get(p) for p in sys.path)
                if isinstance(f, zipimport.zipimporter)
            }
        )
        for _ in batches:
            yield pa.RecordBatch.from_pydict({"importer": names})

    got = [
        r.importer
        for r in spark.range(1, numPartitions=1)
        .mapInArrow(kernel, "importer string")
        .collect()
    ]
    assert got == ["vectordb_retrieval_spark.pyworker.StampedZipImporter"]


def test_socket_dir_rule_keeps_tcp_past_60_chars():
    """Spark refuses a socket directory of 61 chars or more (and a
    socket path of the directory plus ``/.<uuid4>.sock`` must fit
    ``sun_path``), so a directory of up to 60 chars gets Unix-domain
    sockets and a longer one keeps TCP."""
    enabled = "spark.python.unix.domain.socket.enabled"
    fits = "/" + "d" * 59
    assert worker_socket_conf(fits) == {
        enabled: "true",
        "spark.python.unix.domain.socket.dir": fits,
    }
    for longer in (fits + "d", fits + "d" * 5, "/" + "d" * 200):
        assert worker_socket_conf(longer) == {enabled: "false"}


def test_session_workers_use_unix_domain_sockets(spark):
    """The session takes its worker sockets from the rule above for the
    temp directory — Unix-domain sockets under a short ``TMPDIR`` such
    as ``/tmp`` — and the daemon's tasks see the switch the stock daemon
    reads (``PYTHON_UNIX_DOMAIN_ENABLED``)."""
    conf = spark.sparkContext.getConf()
    want = worker_socket_conf(tempfile.gettempdir())
    for key, value in want.items():
        assert conf.get(key) == value

    def kernel(batches):
        import os

        for _ in batches:
            flag = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "")
            yield pa.RecordBatch.from_pydict({"flag": [flag.lower()]})

    got = [
        r.flag
        for r in spark.range(1, numPartitions=1)
        .mapInArrow(kernel, "flag string")
        .collect()
    ]
    assert got == [want["spark.python.unix.domain.socket.enabled"]]


def test_driver_outside_repo_runs_python_udf(tmp_path):
    """A driver started elsewhere, with the package on ``sys.path`` only,
    must still start its workers from the daemon module."""
    script = tmp_path / "driver.py"
    script.write_text(
        textwrap.dedent(
            f"""
            import sys
            sys.path.insert(0, {REPO!r})
            from pyspark.sql import functions as F
            from vectordb_retrieval_spark.session import get_spark

            spark = get_spark("outside-repo", master="local[1]", shuffle_partitions=1)
            plus_one = F.udf(lambda x: x + 1, "long")
            print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
            spark.stop()
            """
        )
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
