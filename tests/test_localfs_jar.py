"""The committed `localfs.jar` is the build of the committed
`LocalFs.java`: rebuilt with the command in the source's header, each
class file matches the jar's byte for byte."""

from __future__ import annotations

import shutil
import subprocess
import zipfile
from pathlib import Path

import pyspark
import pytest

import bigdata_project_spark

JVM_DIR = Path(bigdata_project_spark.__file__).parent / "jvm"
HADOOP_API = Path(pyspark.__file__).parent / "jars" / "hadoop-client-api-3.4.2.jar"


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac is not on PATH")
def test_jar_holds_the_build_of_the_source(tmp_path):
    subprocess.run(
        ["javac", "--release", "17", "-cp", str(HADOOP_API), "-d", str(tmp_path), str(JVM_DIR / "LocalFs.java")],
        check=True,
    )
    built = {p.relative_to(tmp_path).as_posix(): p.read_bytes() for p in tmp_path.rglob("*.class")}
    with zipfile.ZipFile(JVM_DIR / "localfs.jar") as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
    assert sorted(built) == sorted(committed) == ["sparkgraft/fs/LocalFs$Raw.class", "sparkgraft/fs/LocalFs.class"]
    for name, data in built.items():
        assert data == committed[name], f"{name} differs: rebuild localfs.jar with LocalFs.java's header command"
