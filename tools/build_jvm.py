"""Rebuild ``porcupine_spark/jvm/localfs.jar`` from ``LocalFileSystem.java``.

Compiles with ``javac --release 17`` against the ``hadoop-client-api``
jar of the Spark that pyspark launches, and packs the classes with a
fixed entry order and timestamp, so the same source and javac give the
same jar bytes. The manifest records the source's SHA-256
(``Source-SHA-256``), which ``tests/test_localfs.py`` checks against
the ``.java`` file.

Usage: python tools/build_jvm.py [--out JAR]   (default: the committed jar)
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import os
import subprocess
import sys
import tempfile
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "porcupine_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "LocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "localfs.jar")
MANIFEST = "META-INF/MANIFEST.MF"
HASH_KEY = "Source-SHA-256"


def source_sha256(path: str = SOURCE) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def manifest_sha256(jar: str = JAR) -> str:
    with zipfile.ZipFile(jar) as z:
        for line in z.read(MANIFEST).decode().splitlines():
            key, _, value = line.partition(": ")
            if key == HASH_KEY:
                return value.strip()
    raise KeyError(f"{jar} has no {HASH_KEY} manifest entry")


def hadoop_api_jar() -> str:
    """The Hadoop API jar of the Spark that pyspark launches."""
    from pyspark.find_spark_home import _find_spark_home

    jars = glob.glob(os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise FileNotFoundError(f"expected one hadoop-client-api jar, found {jars}")
    return jars[0]


def build(out: str = JAR) -> str:
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", classes, SOURCE],
            check=True,
        )
        entries = sorted(
            os.path.relpath(os.path.join(d, f), classes).replace(os.sep, "/")
            for d, _, files in os.walk(classes)
            for f in files
        )
        manifest = f"Manifest-Version: 1.0\r\n{HASH_KEY}: {source_sha256()}\r\n\r\n"
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as z:
            z.writestr(zipfile.ZipInfo(MANIFEST, (1980, 1, 1, 0, 0, 0)), manifest)
            for name in entries:
                with open(os.path.join(classes, name), "rb") as f:
                    info = zipfile.ZipInfo(name, (1980, 1, 1, 0, 0, 0))
                    info.compress_type = zipfile.ZIP_DEFLATED
                    z.writestr(info, f.read())
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=JAR)
    print(build(ap.parse_args().out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
