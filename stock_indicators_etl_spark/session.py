"""SparkSession factory tuned for this engine.

Local-mode defaults mirror the driver environment (``local[32]``,
single JVM) but every knob here is chosen to also make sense on a
1000-executor cluster reading 100 TB:

- AQE on (runtime shuffle-partition coalescing + skew-join splitting);
- Arrow on (the recursive-indicator ``applyInPandas`` path is
  Arrow-batched);
- shuffle partitions sized to cores locally; on a real cluster this is
  overridden by AQE's coalescing from a high initial value;
- UTC session timezone so epoch-ns arithmetic is unambiguous;
- a JIT profile that follows the process's lifetime (DESIGN §4.35).
  A scheduled daily task is a fresh process that lives about 30 s, and
  C2 compilation alone cost 44 CPU-s of one cold ``daily_etl`` process,
  spread thinly over Janino, generated classes, Spark and the JDK. So
  by default the driver JVM stops at C1 (``-XX:TieredStopAtLevel=1``)
  and keeps the 240 MB code cache that tiered mode reserves (C1-only
  mode would reserve 48 MB, which two minutes of warm runs can fill).
  Processes that run for minutes pass ``long_lived=True`` and keep the
  tiered JIT, whose C2 code is faster in steady state. The flags reach
  the driver JVM only (in local mode that JVM runs the tasks too), and
  only when ``get_spark`` launches it: ``getOrCreate`` reuses a running
  JVM as it is.
- class-data sharing for those short-lived JVMs (DESIGN §4.36). Loading
  and verifying ~15.9k Spark/JDK classes is the next largest warm-up
  cost. The first short-lived process records a dynamic CDS archive
  (JDK 17, ``-XX:ArchiveClassesAtExit``) for its JDK, jar set and JVM
  options into ``${XDG_CACHE_HOME:-~/.cache}/stock_indicators_etl_spark/cds/``
  when its JVM exits; later ones map it with ``-XX:SharedArchiveFile``.
  An archive is promoted only after a clean JVM exit and a header check,
  a JVM never gets a file whose regions run past its end, and an
  archive the JVM did not map (``/proc/<pid>/maps``) is reported and
  deleted. A key whose recording failed gets one more attempt. Another
  key's archive that no session chose for 30 days is deleted when a new
  archive is promoted.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys
import time

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_APP_NAME = "stock-indicators-etl-spark"

# Spark puts spark.driver.defaultJavaOptions before
# spark.driver.extraJavaOptions on the JVM command line, so a caller's
# extraJavaOptions still wins flag by flag.
_SHORT_LIVED_JVM = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"

# Writing the archive at JVM exit took 12–16 s on a 4-vCPU VM.
_RECORD_WAIT_S = 120
# Recordings started for a key since its archive was last seen mapped;
# a key that reaches this count is not recorded again.
_MAX_RECORDINGS = 2
# A session that chooses an archive refreshes its mtime; when a new
# archive is promoted, other keys' archives and recording counts older
# than this are deleted (a JDK, jar or JVM-option change leaves the old
# key's 140–174 MB archive behind).
_KEEP_UNUSED_S = 30 * 24 * 3600
# JDK 17's archive header (hotspot/share/include/cds.h, version 11):
# magic, crc, version, then 7 regions of six ints and six 8-byte words,
# of which the 7th and 9th fields are the region's file offset and size.
_DYNAMIC_MAGIC, _CDS_VERSION = 0xF00BABA8, 11
_REGION = struct.Struct("<6i6Q")
_REGIONS_AT, _N_REGIONS = 16, 7


def _say(msg: str) -> None:
    print(f"class-data sharing: {msg}", file=sys.stderr, flush=True)


def _cds_dir() -> str:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "stock_indicators_etl_spark", "cds")


def _archive_complete(path: str) -> bool:
    """True when ``path`` is a JDK 17 dynamic archive whose regions all
    lie inside the file. The JVM writes the header last, so a dump cut
    short has no magic; a truncated copy has regions past its end, and
    mapping one kills the JVM with SIGBUS."""
    try:
        with open(path, "rb") as f:
            head = f.read(_REGIONS_AT + _N_REGIONS * _REGION.size)
            size = os.fstat(f.fileno()).st_size
    except OSError:
        return False
    if len(head) < _REGIONS_AT + _N_REGIONS * _REGION.size:
        return False
    magic, _, version = struct.unpack_from("<IiI", head)
    if (magic, version) != (_DYNAMIC_MAGIC, _CDS_VERSION):
        return False
    regions = [_REGION.unpack_from(head, _REGIONS_AT + i * _REGION.size)
               for i in range(_N_REGIONS)]
    end = max(r[6] + r[8] for r in regions)
    return 0 < end <= size


def _archive_key(conf: dict[str, str]) -> str | None:
    """Hash of what the archive depends on: the java binary, the Spark
    install and its jars, and the driver's classpath additions and JVM
    options. None when no java binary is found."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.isfile(java):
        return None
    spark_home = os.path.realpath(_find_spark_home())
    java = os.path.realpath(java)
    jars_dir = os.path.join(spark_home, "jars")
    jars = []
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        jars.append((name, st.st_size, st.st_mtime_ns))
    st = os.stat(java)
    parts = [
        java, st.st_size, st.st_mtime_ns, spark_home, jars,
        *(conf.get(k, "") for k in ("spark.driver.defaultJavaOptions",
                                    "spark.driver.extraJavaOptions",
                                    "spark.driver.memory",
                                    "spark.driver.extraClassPath")),
        os.environ.get("SPARK_SUBMIT_OPTS", ""),
    ]
    return hashlib.sha256(json.dumps(parts).encode()).hexdigest()[:24]


def _conf_blocker() -> str | None:
    """The first real file in the effective Spark conf dir, or None when
    the dir is missing or holds only ``*.template`` files. CDS refuses a
    non-empty directory on the classpath, and Spark puts the conf dir
    there; Spark never reads a template."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        names = sorted(os.listdir(conf_dir))
    except OSError:
        return None
    real = [n for n in names if not n.endswith(".template")]
    return os.path.join(conf_dir, real[0]) if real else None


class _ClassDataSharing:
    """CDS for one driver JVM that ``get_spark`` is about to launch:
    either map the key's archive or record it at JVM exit."""

    def __init__(self, key: str):
        self.dir = _cds_dir()
        self.archive = os.path.join(self.dir, f"{key}.jsa")
        self.marker = os.path.join(self.dir, f"{key}.recordings")
        # an empty Spark conf dir that the package owns
        self.conf_dir = os.path.join(self.dir, "conf")
        self.part = None

    @classmethod
    def plan(cls, conf: dict[str, str]) -> _ClassDataSharing | None:
        """Decide use or record for a JVM launched with ``conf``; None
        (CDS off) when it cannot work here."""
        blocker = _conf_blocker()
        if blocker is not None:
            _say(f"off: {blocker} is a Spark conf file, and a JVM cannot share "
                 "classes with a non-empty directory on its classpath")
            return None
        try:
            key = _archive_key(conf)
            if key is None:
                return None
            cds = cls(key)
            os.makedirs(cds.conf_dir, exist_ok=True)
            return cds if cds._choose() else None
        except OSError as e:
            _say(f"off: {e}")
            return None

    def _choose(self) -> bool:
        if os.path.exists(self.archive):
            if _archive_complete(self.archive):
                with contextlib.suppress(OSError):
                    os.utime(self.archive)  # in use: kept by _remove_stale_keys
                return True
            _say(f"{self.archive} is truncated or unreadable; deleting it")
            os.remove(self.archive)
        try:
            with open(self.marker) as f:
                tries = int(f.read() or 0)
        except (OSError, ValueError):
            tries = 0
        if tries >= _MAX_RECORDINGS:
            _say(f"off: {tries} recordings of {self.archive} failed; "
                 f"delete {self.marker} to try again")
            return False
        # counted before the JVM starts, so a killed process counts too
        with open(self.marker, "w") as f:
            f.write(str(tries + 1))
        self._remove_orphan_parts()
        self.part = self.archive[: -len(".jsa")] + f".{os.getpid()}.part"
        return True

    def _remove_orphan_parts(self) -> None:
        """Partial archives left by processes that no longer run."""
        for name in os.listdir(self.dir):
            pid = name.rsplit(".", 2)[-2] if name.endswith(".part") else ""
            if not pid.isdigit():
                continue
            try:
                os.kill(int(pid), 0)
            except ProcessLookupError:
                with contextlib.suppress(OSError):  # another process's cleanup
                    os.remove(os.path.join(self.dir, name))
            except OSError:
                pass  # alive, another user's

    def _remove_stale_keys(self) -> None:
        """Other keys' archives and recording counts that no session
        chose (or started recording) within ``_KEEP_UNUSED_S``."""
        cutoff = time.time() - _KEEP_UNUSED_S
        own = os.path.basename(self.archive)[: -len(".jsa")]
        for name in os.listdir(self.dir):
            key, ext = os.path.splitext(name)
            if key == own or ext not in (".jsa", ".recordings"):
                continue
            path = os.path.join(self.dir, name)
            with contextlib.suppress(OSError):  # another process's cleanup
                if os.path.getmtime(path) < cutoff:
                    os.remove(path)

    def java_options(self) -> str:
        if self.part is None:
            return f"-XX:SharedArchiveFile={self.archive}"
        return f"-XX:ArchiveClassesAtExit={self.part} -Xlog:cds=off,cds+dynamic=off"

    def launched(self, proc: subprocess.Popen) -> None:
        """After launch: check that the JVM mapped the archive, or arrange
        for the recording to be promoted when the process exits."""
        if self.part is not None:
            atexit.register(self._finish_recording, proc)
            _say(f"recording {self.archive} as the JVM exits "
                 "(once per JDK, jar set and JVM options)")
            return
        # the gateway Popen is the java process after spark-class's exec
        try:
            with open(f"/proc/{proc.pid}/maps") as f:
                mapped = os.path.realpath(self.archive) in f.read()
        except OSError:
            return  # no /proc here; nothing to check against
        if mapped:
            with contextlib.suppress(OSError):
                os.remove(self.marker)
            return
        _say(f"the JVM did not map {self.archive} (stale or foreign archive); "
             "deleting it so that a later run records it again")
        with contextlib.suppress(OSError):
            os.remove(self.archive)

    def _finish_recording(self, proc: subprocess.Popen) -> None:
        """Exit handler: let the JVM write the archive, then promote it
        only if the JVM exited with code 0 and the file is whole."""
        if proc.poll() is None:
            with contextlib.suppress(OSError):
                proc.stdin.close()  # the gateway exits when its stdin closes
            try:
                proc.wait(timeout=_RECORD_WAIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        if proc.returncode == 0 and _archive_complete(self.part):
            os.replace(self.part, self.archive)
            self._remove_stale_keys()
            return
        with contextlib.suppress(OSError):
            os.remove(self.part)
        why = f"JVM exit code {proc.returncode}" if proc.returncode else "incomplete file"
        _say(f"no archive recorded at {self.archive} ({why})")


def get_spark(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    long_lived: bool = False,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``SPARK_GRAFT_CPUS`` (driver contract) sets local parallelism.

    ``long_lived``: pass True when the process runs for minutes or runs
    many distinct queries (test sessions, ``bench.py``, oracle sweeps,
    backfills); its driver JVM keeps the tiered JIT. The default starts
    a C1-only driver JVM, which costs less CPU to warm up and suits a
    one-shot task such as a daily ``download``/``indicators`` run.

    When the default launches a new JVM, it also shares class data:
    the first such process on a machine records a ~170 MB archive under
    ``${XDG_CACHE_HOME:-~/.cache}/stock_indicators_etl_spark/cds/`` as
    its JVM exits (the process waits for it, up to 120 s), and later
    processes map it. Spark then reads its conf from an empty dir under
    that cache, which is the same as a conf dir of templates only; a
    conf dir holding a real file turns sharing off, with a message.
    ``long_lived=True`` and a reused running JVM get no sharing flags.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # read TIMESTAMP(NANOS) parquet as int64 epoch-ns (our native
        # time representation; Spark has no ns timestamp type)
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # many-query sessions (bench/oracle sweeps) compile hundreds of
        # distinct codegen units; the default 100-entry cache thrashes
        "spark.sql.codegen.cache.maxEntries": "1000",
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "16g"),
    }
    if not long_lived:
        conf["spark.driver.defaultJavaOptions"] = _SHORT_LIVED_JVM
    conf.update(extra_conf or {})

    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    cds = _ClassDataSharing.plan(conf) if launches and not long_lived else None
    saved_conf_dir = os.environ.get("SPARK_CONF_DIR")
    if cds is not None:
        java_opts = f"{conf.get('spark.driver.defaultJavaOptions', '')} {cds.java_options()}"
        conf["spark.driver.defaultJavaOptions"] = java_opts.strip()
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir

    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    try:
        spark = builder.getOrCreate()
    finally:
        if cds is not None:
            if saved_conf_dir is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = saved_conf_dir
    if cds is not None and getattr(SparkContext._gateway, "proc", None) is not None:
        cds.launched(SparkContext._gateway.proc)
    spark.sparkContext.setLogLevel("WARN")
    return spark
