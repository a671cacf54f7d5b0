"""The driver JVM's application class-data archive (``session.get_spark``).

Every test that starts a JVM does it in a child process with its own
archive directory (the module constant ``session._CDS_DIR``, set in the
child), so the shared ``spark`` fixture's JVM and the checkout's archive
are untouched.  A child prints one JSON line: the archive its JVM
mapped (``session.class_archive``), the JVM's pid and command line, and
whether ``os.environ`` came back from ``get_spark`` as it went in.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from graphdb_cia_factbook_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# PySpark's SparkContext exports these itself on every start
PYSPARK_OWN_ENV = {"SPARK_AUTH_SOCKET_TIMEOUT", "SPARK_BUFFER_SIZE"}

CHILD = f"""
import json, os, signal, sys
sys.path.insert(0, {ROOT!r})
from graphdb_cia_factbook_spark import session
session._CDS_DIR = sys.argv[1]
def environ():
    return {{k: v for k, v in os.environ.items()
            if k not in {PYSPARK_OWN_ENV!r}}}
before = environ()
spark = session.get_spark("test-session", shuffle_partitions=2)
after = environ()
assert spark.range(10).count() == 10
pid = session._jvm_pid(spark)
with open(f"/proc/{{pid}}/cmdline") as f:
    cmdline = f.read().split("\\0")
print(json.dumps({{"archive": session.class_archive(spark), "pid": pid,
                  "cmdline": cmdline, "environ_kept": after == before}}))
sys.stdout.flush()
if sys.argv[2] == "kill":  # no exit, so no archive written
    os.kill(pid, signal.SIGKILL)
"""


def _start(cds_dir, end: str = "exit", **env) -> dict:
    """Start a session in a child process; ``end="kill"`` kills its JVM
    instead of letting it exit.  Waits for the JVM to be gone."""
    child_env = {**os.environ, "SPARK_DRIVER_MEM": "1g", **env}
    out = subprocess.run([sys.executable, "-c", CHILD, str(cds_dir), end],
                         env=child_env, capture_output=True, text=True,
                         timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    rec = json.loads(out.stdout.strip().splitlines()[-1])
    deadline = time.monotonic() + 180
    while os.path.exists(f"/proc/{rec['pid']}"):
        assert time.monotonic() < deadline, "driver JVM did not exit"
        time.sleep(0.2)
    return rec


def _key() -> str:
    return session._archive_key(session._java_home(),
                                session._find_spark_home())


def _cds_flags(cmdline: list[str]) -> list[str]:
    return [a for a in cmdline if "SharedArchiveFile" in a
            or "ArchiveClassesAtExit" in a]


@pytest.fixture(scope="module")
def archive_dir(tmp_path_factory):
    """An archive directory after two starts: the first writes the
    archive at exit, the second maps it."""
    cds = tmp_path_factory.mktemp("cds")
    first = _start(cds)
    names = sorted(os.listdir(cds))
    second = _start(cds)
    return cds, first, names, second


def test_first_start_writes_archive_that_second_maps(archive_dir):
    cds, first, names_after_first, second = archive_dir
    key = _key()
    assert first["archive"] is None
    assert first["environ_kept"] and second["environ_kept"]
    # the first JVM's archive waits as a part until a later start
    # checks it: nothing is published while its writer may still run
    assert f"{key}.jsa" not in names_after_first
    assert any(n.startswith(key) and n.endswith(".part")
               for n in names_after_first)
    assert second["archive"] == os.path.join(os.path.realpath(cds),
                                             f"{key}.jsa")
    assert sorted(os.listdir(cds)) == ["conf", f"{key}.jsa"]
    assert os.listdir(cds / "conf") == []
    # the template-only Spark conf dir is stood in for by the empty one
    cp = first["cmdline"][first["cmdline"].index("-cp") + 1]
    assert cp.split(os.pathsep)[0].rstrip("/") == str(cds / "conf")


def test_killed_jvm_publishes_no_archive(tmp_path):
    rec = _start(tmp_path, end="kill")
    assert rec["archive"] is None and rec["environ_kept"]
    key = _key()
    assert not (tmp_path / f"{key}.jsa").exists()
    # the next start clears the dead writer's pid file and builds anew
    again = _start(tmp_path, end="kill")
    assert again["archive"] is None
    assert not any(n.endswith(".pid") and (tmp_path / n).read_text()
                   == str(rec["pid"]) for n in os.listdir(tmp_path))


def test_truncated_part_is_deleted_not_published(archive_dir, tmp_path):
    cds, first, _, _ = archive_dir
    key = _key()
    good = (cds / f"{key}.jsa").read_bytes()
    part = tmp_path / f"{key}.0.part"
    part.write_bytes(good[:len(good) // 3])
    # the writer's pid: long exited, and its command line named no part
    (tmp_path / f"{key}.0.part.pid").write_text(str(first["pid"]))
    rec = _start(tmp_path, end="kill")
    assert rec["archive"] is None
    assert not part.exists()
    assert not (tmp_path / f"{key}.jsa").exists()
    assert any("ArchiveClassesAtExit" in a for a in rec["cmdline"])


def test_garbage_archive_starts_without_sharing_and_is_deleted(tmp_path):
    key = _key()
    bad = tmp_path / f"{key}.jsa"
    bad.write_bytes(os.urandom(1 << 20))
    rec = _start(tmp_path, end="kill")
    assert any("SharedArchiveFile" in a for a in rec["cmdline"])
    assert rec["archive"] is None
    assert not bad.exists()


def test_real_conf_dir_turns_archive_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "README").write_text("not a template\n")
    rec = _start(tmp_path / "cds", end="kill", SPARK_CONF_DIR=str(conf))
    assert _cds_flags(rec["cmdline"]) == []
    assert rec["archive"] is None and rec["environ_kept"]
    cp = rec["cmdline"][rec["cmdline"].index("-cp") + 1]
    assert cp.split(os.pathsep)[0].rstrip("/") == str(conf)


def test_conf_dir_rules(tmp_path, monkeypatch):
    """The plan alone, no JVM: an empty ``SPARK_CONF_DIR`` is used as
    it is; a non-empty one, a non-template file in ``$SPARK_HOME/conf``
    or another directory on the launcher's classpath adds no flag; and
    planning never writes ``os.environ``."""
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path / "cds"))
    real = session._find_spark_home()
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").symlink_to(os.path.join(real, "jars"))
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)

    def plan():
        before = dict(os.environ)
        out = session._archive_plan()
        assert dict(os.environ) == before
        return out

    flags, env = plan()
    assert _cds_flags(flags)
    assert env == {"SPARK_CONF_DIR": str(tmp_path / "cds" / "conf")}

    (home / "conf" / "spark-defaults.conf").write_text("")
    assert plan() == ([], {})

    own = tmp_path / "own-conf"
    own.mkdir()
    monkeypatch.setenv("SPARK_CONF_DIR", str(own))
    flags, env = plan()
    assert _cds_flags(flags) and env == {}
    (own / "log4j2.properties").write_text("")
    assert plan() == ([], {})

    monkeypatch.delenv("SPARK_CONF_DIR")
    (home / "conf" / "spark-defaults.conf").unlink()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(own))
    assert plan() == ([], {})
