"""Class-data sharing (AppCDS) for the driver JVM.

A fresh driver JVM spends most of its start loading classes: 11,308 are
loaded before ``get_spark`` returns and 12-14k more in the first pass
(``local[2]``, sf0.1, OpenJDK 17). A static CDS archive holds those
classes already parsed and verified, and the JVM maps it at start.

The invariants:

- The archive depends only on the JDK and the Spark install. Its key
  covers the java binary, every Spark jar (name, mtime, size) and the
  bytes of the class list checked into this package
  (``cds_classes.txt.gz``, recorded by ``tools/build_cds.py --record``).
  It lives in ``$XDG_CACHE_HOME/spark-graft/cds/<key>.jsa`` (default
  ``~/.cache``), outside any checkout and any per-run ``TMPDIR``.
- An archive is built once per key: a process builds it under
  ``<key>.lock``, publishes it by atomic rename, and a process that
  finds the lock held starts without sharing rather than waiting or
  building twice. A build that fails, times out or is refused by the
  JVM leaves ``<key>.failed``, so no later process tries again until
  the key changes.
- CDS refuses a non-empty directory on the class path, and Spark's
  launcher puts ``$SPARK_CONF_DIR`` first on it. A session therefore
  shares only while the conf directory holds nothing but
  ``*.template`` files, and then starts with ``SPARK_CONF_DIR`` pointed
  at an empty directory beside the archives (the same path the archive
  was dumped with), restored after the launch.
- Sharing never changes what runs, only how fast classes load. A JVM
  that does not map the archive (``sharing`` missing from
  ``java.vm.info``) runs as it would without it.
"""

from __future__ import annotations

import contextlib
import fcntl
import gzip
import hashlib
import os
import shutil
import subprocess
import time

from pyspark.sql import SparkSession

from . import staging

CLASS_LIST = os.path.join(os.path.dirname(os.path.abspath(__file__)), "cds_classes.txt.gz")

#: A build past this is killed and marked failed. A build of the
#: 18.6k-line class list took 55-61 s on a 4-vCPU host.
BUILD_TIMEOUT_S = 600

#: The session conf a caller may set for itself; when it does, the
#: session starts without sharing.
JAVA_OPTIONS_CONF = "spark.driver.defaultJavaOptions"


def cache_dir() -> str:
    """Where the archives live."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "spark-graft", "cds")


def java_binary() -> str | None:
    """The java binary Spark's launcher runs: ``$JAVA_HOME/bin/java``,
    else ``java`` on the PATH; resolved, None when there is none."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def jars_dir() -> str | None:
    """The Spark install's ``jars`` directory, None when there is none."""
    from pyspark.find_spark_home import _find_spark_home

    jars = os.path.join(_find_spark_home(), "jars")
    return os.path.abspath(jars) if os.path.isdir(jars) else None


def key(java: str, jars: str, class_list: str = CLASS_LIST) -> str:
    """Content key of an archive: the java binary and every jar by
    ``staging.files_key``, plus the class list's bytes (not its mtime,
    which a fresh checkout resets)."""
    h = hashlib.md5(f"{java}\0{jars}".encode())
    for rel, mtime_ns, size in staging.files_key(java, os.path.dirname(java)) + (
        staging.files_key(jars, jars)
    ):
        h.update(f"{rel}:{mtime_ns}:{size}".encode())
    with open(class_list, "rb") as fh:
        h.update(fh.read())
    return h.hexdigest()[:16]


def _templates_only(conf_dir: str) -> bool:
    """Whether ``conf_dir`` holds nothing that Spark would read."""
    return not os.path.isdir(conf_dir) or all(
        n.endswith(".template") for n in os.listdir(conf_dir)
    )


def _launch_flags(java: str, jars: str, conf_dir: str) -> list[str]:
    """The class path and module flags of the driver command that
    Spark's launcher builds with ``conf_dir`` as ``SPARK_CONF_DIR``. A
    dump must see the class path exactly as the JVM that maps it (the
    launcher lists one jar ahead of ``jars/*``) and the same module
    graph."""
    out = subprocess.run(
        # what bin/spark-class runs, printing the command instead of running it
        ["bash", "-c", '. "$SPARK_HOME/bin/load-spark-env.sh" && exec "$@"', "launcher",
         java, "-Xmx128m", "-cp", os.path.join(jars, "*"), "org.apache.spark.launcher.Main",
         "org.apache.spark.deploy.SparkSubmit", "pyspark-shell"],
        env={**os.environ, "SPARK_HOME": os.path.dirname(jars), "SPARK_CONF_DIR": conf_dir},
        check=True,
        capture_output=True,
        timeout=60,
    ).stdout.decode()
    cmd = out.split("\0")
    return ["-cp", cmd[cmd.index("-cp") + 1]] + [a for a in cmd if a.startswith("--add-modules")]


def _dump(java: str, jars: str, conf_dir: str, dest: str) -> None:
    """Write the archive for ``java`` and ``jars`` to ``dest``, checked
    to map under ``-Xshare:on`` before the rename publishes it."""
    tmp = f"{dest}.tmp-{os.getpid()}"
    names = f"{tmp}.classlist"
    jvm = [java, f"-XX:SharedArchiveFile={tmp}"] + _launch_flags(java, jars, conf_dir)
    try:
        with gzip.open(CLASS_LIST, "rb") as src, open(names, "wb") as out:
            shutil.copyfileobj(src, out)
        run = dict(check=True, capture_output=True)
        subprocess.run(
            jvm + ["-Xshare:dump", f"-XX:SharedClassListFile={names}"],
            timeout=BUILD_TIMEOUT_S,
            **run,
        )
        subprocess.run(jvm + ["-Xshare:on", "-version"], timeout=60, **run)
        os.replace(tmp, dest)
    finally:
        for p in (tmp, names):
            with contextlib.suppress(FileNotFoundError):
                os.remove(p)


def _mark_failed(archive: str, why: str) -> None:
    with contextlib.suppress(OSError), open(archive[: -len(".jsa")] + ".failed", "w") as fh:
        fh.write(why + "\n")


def ensure() -> tuple[str, str, str | None]:
    """``(state, detail, archive)`` for this JDK and Spark install:
    ``hit`` or ``built`` with the archive's path, else ``off`` with a
    reason and None. Builds the archive when none exists for the key."""
    java, jars = java_binary(), jars_dir()
    if java is None or jars is None:
        return "off", "no-java" if java is None else "no-jars", None
    root = cache_dir()
    try:
        k = key(java, jars)
        archive = os.path.join(root, f"{k}.jsa")
        if os.path.exists(os.path.join(root, f"{k}.failed")):
            return "off", "failed", None
        os.makedirs(os.path.join(root, "conf"), exist_ok=True)
        if os.path.exists(archive):
            return "hit", k, archive
        with open(os.path.join(root, f"{k}.lock"), "w") as lock:
            try:
                fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                return "off", "busy", None
            if os.path.exists(archive):  # published since the check above
                return "hit", k, archive
            t0 = time.perf_counter()
            try:
                _dump(java, jars, os.path.join(root, "conf"), archive)
            except subprocess.TimeoutExpired:
                _mark_failed(archive, f"timeout after {BUILD_TIMEOUT_S} s")
                return "off", "timeout", None
            except (subprocess.CalledProcessError, ValueError) as e:
                # ValueError: the launcher printed no class path
                err = getattr(e, "stderr", b"").decode(errors="replace")
                _mark_failed(archive, f"{e}\n{err[-4000:]}")
                return "off", "build-failed", None
        ms = (time.perf_counter() - t0) * 1e3
        mb = os.path.getsize(archive) / 2**20
        return "built", f"{k} build={ms:.0f}ms size={mb:.0f}MB", archive
    except OSError as e:
        return "off", f"cache-error:{type(e).__name__}", None


def get_or_create(builder, conf: dict[str, str]) -> SparkSession:
    """``builder.getOrCreate()``, with the driver JVM it launches mapping
    the archive when it can. ``conf`` is the caller's own session conf.
    Each JVM launch logs one stderr line,
    ``cds hit|built|off <detail> <ms> ms``; the time covers the check,
    any build and the JVM start. A call that reuses a running JVM logs
    nothing."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or os.environ.get("PYSPARK_GATEWAY_PORT"):
        return builder.getOrCreate()  # no JVM is launched
    t0 = time.perf_counter()
    spark_conf = os.environ.get("SPARK_CONF_DIR")
    if JAVA_OPTIONS_CONF in conf:
        state, detail, archive = "off", "opts", None
    elif not _templates_only(spark_conf or os.path.join(_find_spark_home(), "conf")):
        state, detail, archive = "off", "conf", None
    else:
        state, detail, archive = ensure()
    if archive is None:
        spark = builder.getOrCreate()
    else:
        builder = builder.config(JAVA_OPTIONS_CONF, f"-XX:SharedArchiveFile={archive} -Xshare:auto")
        os.environ["SPARK_CONF_DIR"] = os.path.join(os.path.dirname(archive), "conf")
        try:
            spark = builder.getOrCreate()
        finally:
            if spark_conf is None:
                os.environ.pop("SPARK_CONF_DIR", None)
            else:
                os.environ["SPARK_CONF_DIR"] = spark_conf
        if "sharing" not in spark._jvm.System.getProperty("java.vm.info"):
            _mark_failed(archive, "refused: java.vm.info lacks sharing")
            state, detail = "off", "refused"
    staging.log.info("cds %s %s %.0f ms", state, detail, (time.perf_counter() - t0) * 1e3)
    return spark
