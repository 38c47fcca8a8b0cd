#!/usr/bin/env python3
"""Rebuild the engine's JVM jar from its Java source.

    python tools/build_jvm.py

Compiles ``zonal_datacube_spark/jvm/*.java`` with ``javac --release 17``
against the Hadoop client API jar bundled with PySpark and packs the
classes into ``zonal_datacube_spark/jvm/zds-jvm.jar``, the jar
``session.get_spark`` puts on the driver classpath. The jar also holds
``SOURCE_DIGEST_ENTRY``, the sha256 of the sources it was built from. Run
it after editing a ``.java`` file; ``tests/test_local_fs.py`` fails while
the recorded digest and the source differ.
"""

from __future__ import annotations

import glob
import hashlib
import os
import subprocess
import sys
import tempfile

import pyspark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "zonal_datacube_spark", "jvm")
JAR = os.path.join(JVM_DIR, "zds-jvm.jar")
SOURCE_DIGEST_ENTRY = "META-INF/zds-jvm.sources.sha256"
# Fixed entry times, so a rebuild of unchanged source gives the same jar.
JAR_DATE = "2000-01-01T00:00:00Z"


def sources() -> list[str]:
    return sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))


def source_digest() -> str:
    """sha256 over each source's file name and bytes, in name order."""
    h = hashlib.sha256()
    for path in sources():
        with open(path, "rb") as f:
            body = f.read()
        h.update(f"{os.path.basename(path)}\0{len(body)}\0".encode())
        h.update(body)
    return h.hexdigest()


def hadoop_api_jar() -> str:
    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__), "jars", "hadoop-client-api-*.jar"))
    if len(jars) != 1:
        raise SystemExit(f"expected one hadoop-client-api jar in pyspark/jars, found {jars}")
    return jars[0]


def main() -> int:
    with tempfile.TemporaryDirectory(prefix="zds_jvm_") as classes_dir:
        subprocess.run(
            ["javac", "--release", "17", "-cp", hadoop_api_jar(), "-d", classes_dir, *sources()],
            check=True,
        )
        os.makedirs(os.path.join(classes_dir, "META-INF"))
        with open(os.path.join(classes_dir, SOURCE_DIGEST_ENTRY), "w") as f:
            f.write(source_digest() + "\n")
        if os.path.exists(JAR):
            os.remove(JAR)
        subprocess.run(
            ["jar", "--create", "--file", JAR, "--date", JAR_DATE, "-C", classes_dir, "."],
            check=True,
        )
    print(JAR)
    return 0


if __name__ == "__main__":
    sys.exit(main())
