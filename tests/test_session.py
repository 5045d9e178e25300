"""Driver JVM that ``get_spark`` starts (DESIGN §4.35, §4.36).

A default session is short-lived: its driver JVM stops at C1, keeps
the tiered code-cache size and shares class data through an archive
that the first such process records at exit. ``long_lived=True``
sessions, such as the one this suite shares, keep the tiered JIT and
get no sharing flags. Every test points ``XDG_CACHE_HOME`` at a tmp
dir, so the suite never reads or writes the user's archive cache.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import struct
import subprocess
import sys
import time

import pytest

from stock_indicators_etl_spark.session import (
    _CDS_VERSION,
    _DYNAMIC_MAGIC,
    _KEEP_UNUSED_S,
    _REGION,
    _REGIONS_AT,
    _ClassDataSharing,
    _archive_complete,
    get_spark,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jvm_report(spark) -> dict:
    """JIT flags and input arguments of the session's driver JVM."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {
        "TieredStopAtLevel": hotspot.getVMOption("TieredStopAtLevel").getValue(),
        "ReservedCodeCacheSize": hotspot.getVMOption("ReservedCodeCacheSize").getValue(),
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
    }


PROBE = """
import json, os, sys
sys.path[:0] = [{root!r}, {tests!r}]
from pyspark import SparkContext
from stock_indicators_etl_spark.session import get_spark, _cds_dir
from test_session import jvm_report
spark = get_spark(master="local[1]", shuffle_partitions=1,
                  extra_conf={{"spark.driver.extraJavaOptions": "-Dsie.probe=1"}})
report = jvm_report(spark)
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{{pid}}/maps") as f:
    report["mapped"] = sorted({{ln.split()[-1] for ln in f if ln.rstrip().endswith(".jsa")}})
report["pid"] = pid
report["cds_files"] = sorted(os.listdir(_cds_dir()))
print("REPORT " + json.dumps(report))
spark.stop()
"""


def run_probe(cache: str) -> dict:
    """One default session in a fresh process whose archive cache is ``cache``."""
    code = PROBE.format(root=ROOT, tests=os.path.join(ROOT, "tests"))
    proc = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True, timeout=300,
        env={**os.environ, "XDG_CACHE_HOME": cache},
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-2000:]
    return json.loads(lines[-1][len("REPORT "):])


@pytest.fixture(scope="module")
def recorded(tmp_path_factory):
    """A cache in which one default session has recorded its archive
    (~140 MB, deleted after the module's tests)."""
    cache = str(tmp_path_factory.mktemp("xdg_cache"))
    report = run_probe(cache)
    yield os.path.join(cache, "stock_indicators_etl_spark", "cds"), report
    shutil.rmtree(cache, ignore_errors=True)


def test_first_default_session_records_archive_at_exit(recorded):
    """The first session records to a per-process ``.part`` and leaves
    ``<key>.jsa`` only after its JVM has exited cleanly."""
    cds, report = recorded
    parts = [a.split("=", 1)[1] for a in report["args"]
             if a.startswith("-XX:ArchiveClassesAtExit=")]
    assert len(parts) == 1
    part = parts[0]
    assert os.path.dirname(part) == cds and part.endswith(".part")
    assert "-Xlog:cds=off,cds+dynamic=off" in report["args"]
    assert not any(a.startswith("-XX:SharedArchiveFile") for a in report["args"])
    assert not any(n.endswith(".jsa") for n in report["cds_files"])  # nothing while running
    archive = part.rsplit(".", 2)[0] + ".jsa"
    assert _archive_complete(archive)
    assert not os.path.exists(part)
    assert not os.path.exists(f"/proc/{report['pid']}")  # the JVM is gone


def test_default_session_starts_c1_only_driver(recorded):
    """A later default session runs C1 only with a 240 MB code cache,
    maps the recorded archive, and a caller's extraJavaOptions still
    reach the JVM."""
    cds, _ = recorded
    report = run_probe(os.path.dirname(os.path.dirname(cds)))
    assert report["TieredStopAtLevel"] == "1"
    assert report["ReservedCodeCacheSize"] == str(240 * 1024 * 1024)
    assert "-Dsie.probe=1" in report["args"]
    archives = [n for n in os.listdir(cds) if n.endswith(".jsa")]
    assert len(archives) == 1
    archive = os.path.join(cds, archives[0])
    assert f"-XX:SharedArchiveFile={archive}" in report["args"]
    assert os.path.realpath(archive) in report["mapped"]
    # seen mapped: the key's recording count is cleared
    assert not any(n.endswith(".recordings") for n in os.listdir(cds))


def test_long_lived_session_keeps_tiered_jit(spark):
    """The suite's session is long-lived: full tiered compilation."""
    assert jvm_report(spark)["TieredStopAtLevel"] == "4"


def test_reused_jvm_gets_no_class_data_sharing(spark, tmp_path, monkeypatch):
    """``get_spark()`` while the suite's long-lived session is up reuses
    its JVM: no flags, no exit handler, nothing written."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    args = jvm_report(spark)["args"]
    handlers = atexit._ncallbacks()
    again = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4)
    assert again.sparkContext is spark.sparkContext
    assert jvm_report(again)["args"] == args
    assert atexit._ncallbacks() == handlers
    assert os.listdir(tmp_path) == []


@pytest.fixture
def cache(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    cds = _ClassDataSharing("k")
    os.makedirs(cds.dir)
    return cds


def _copy_head(src: str, dst: str, nbytes: int) -> None:
    with open(src, "rb") as f, open(dst, "wb") as g:
        g.write(f.read(nbytes))


def test_truncated_archive_is_never_passed_to_a_jvm(recorded, cache, capsys):
    """A truncated ``.jsa`` (header intact, regions past the end) is
    deleted and recorded again; a truncated or header-less ``.part`` is
    not promoted even after a clean exit. Mapping a truncated archive
    kills a JDK 17 JVM with SIGBUS."""
    cds, _ = recorded
    good = os.path.join(cds, next(n for n in os.listdir(cds) if n.endswith(".jsa")))
    _copy_head(good, cache.archive, 8 << 20)
    assert not _archive_complete(cache.archive)
    assert cache._choose()
    assert "SharedArchiveFile" not in cache.java_options()
    assert not os.path.exists(cache.archive)
    assert "truncated or unreadable" in capsys.readouterr().err

    waiting = [sys.executable, "-c", "import sys; sys.stdin.read()"]
    for head in (_copy_head, lambda s, d, n: open(d, "wb").write(bytes(n))):
        head(good, cache.part, 8 << 20)
        proc = subprocess.Popen(waiting, stdin=subprocess.PIPE)
        cache._finish_recording(proc)  # closes stdin, the child exits 0
        assert proc.returncode == 0
        assert not os.path.exists(cache.archive) and not os.path.exists(cache.part)
        assert "no archive recorded" in capsys.readouterr().err

    shutil.copyfile(good, cache.part)
    failing = [sys.executable, "-c", "import sys; sys.stdin.read(); sys.exit(3)"]
    cache._finish_recording(subprocess.Popen(failing, stdin=subprocess.PIPE))
    assert not os.path.exists(cache.archive) and not os.path.exists(cache.part)
    shutil.copyfile(good, cache.part)
    cache._finish_recording(subprocess.Popen(waiting, stdin=subprocess.PIPE))
    assert _archive_complete(cache.archive) and not os.path.exists(cache.part)
    os.remove(cache.archive)


def test_failed_recording_gets_one_more_attempt(cache, capsys):
    """A recording that never produced an archive (killed, failed)
    leaves a count; the key is recorded at most twice before an
    archive is seen mapped, then sharing is off with a message."""
    assert cache._choose() and cache.part is not None
    assert cache._choose() and cache.part is not None
    assert not cache._choose()
    assert "2 recordings" in capsys.readouterr().err
    orphan = cache.archive[: -len(".jsa")] + ".999999999.part"  # no such pid
    open(orphan, "wb").close()
    os.remove(cache.marker)
    assert cache._choose()
    assert not os.path.exists(orphan)


def test_conf_dir_with_real_file_gives_no_flags(tmp_path, monkeypatch, capsys):
    """CDS refuses a non-empty classpath directory, so a conf dir with a
    real file turns sharing off (and says so); one of templates only is
    swapped for the package's empty conf dir."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    conf = {"spark.driver.memory": "1g"}
    cds = _ClassDataSharing.plan(conf)
    assert cds is not None and os.listdir(cds.conf_dir) == []

    (conf_dir / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    shutil.rmtree(tmp_path / "cache")
    assert _ClassDataSharing.plan(conf) is None
    assert "spark-defaults.conf" in capsys.readouterr().err
    assert not (tmp_path / "cache").exists()


def _fake_archive(path: str, nbytes: int = 4096) -> None:
    """A file with a JDK 17 dynamic-archive header whose one region
    spans the file: enough for ``_archive_complete``, no JVM needed."""
    head = struct.pack("<IiI", _DYNAMIC_MAGIC, 0, _CDS_VERSION).ljust(_REGIONS_AT, b"\0")
    region = _REGION.pack(0, 0, 0, 0, 0, 0, 0, 0, nbytes, 0, 0, 0)
    with open(path, "wb") as f:
        f.write((head + region).ljust(nbytes, b"\0"))


def test_archives_of_old_keys_are_deleted(cache):
    """Choosing an archive refreshes its mtime; promoting a new archive
    deletes other keys' archives and recording counts that no session
    chose within ``_KEEP_UNUSED_S``, and keeps the rest."""
    day = 24 * 3600
    old = time.time() - _KEEP_UNUSED_S - day
    for name, age in [("stale.jsa", old), ("stale.recordings", old),
                      ("failed.recordings", old), ("recent.jsa", time.time() - day),
                      ("recent.recordings", time.time() - day), ("chosen.jsa", old)]:
        path = os.path.join(cache.dir, name)
        _fake_archive(path)
        os.utime(path, (old, age))

    chosen = _ClassDataSharing("chosen")
    assert chosen._choose() and chosen.part is None
    assert time.time() - os.path.getmtime(chosen.archive) < day

    assert cache._choose() and cache.part is not None
    _fake_archive(cache.part)
    waiting = [sys.executable, "-c", "import sys; sys.stdin.read()"]
    cache._finish_recording(subprocess.Popen(waiting, stdin=subprocess.PIPE))
    assert _archive_complete(cache.archive)
    assert sorted(os.listdir(cache.dir)) == sorted(
        ["k.jsa", "k.recordings", "chosen.jsa", "recent.jsa", "recent.recordings"]
    )
