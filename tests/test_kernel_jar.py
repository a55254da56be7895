"""The checked-in equi7-kernel.jar must match its sources: the compiled
kernel is the only Spark-side zone resolve / AEQD path, so a stale jar
fails every session at start (kernel_available raises)."""

from __future__ import annotations

import re
import zipfile
from pathlib import Path

import pytest

from equi7grid_spark.operators import kernel

JVM = Path(kernel.__file__).resolve().parents[1] / "jvm"
JAR = JVM / "equi7-kernel.jar"

# top-level declarations start at column 0, nested ones are indented
_CLASS = re.compile(r"^(\s*)(?:(?:public|private|protected|static|final|abstract)\s+)*"
                    r"(?:class|interface|enum)\s+(\w+)", re.M)


def _source_classes() -> set[str]:
    names = set()
    for src in sorted((JVM / "src" / "equi7").glob("*.java")):
        for indent, name in _CLASS.findall(src.read_text()):
            cls = name if not indent else f"{src.stem}${name}"
            names.add(f"equi7/{cls}.class")
    return names


def test_jar_classes_match_sources():
    with zipfile.ZipFile(JAR) as zf:
        in_jar = {n for n in zf.namelist() if n.endswith(".class")}
    declared = _source_classes()
    assert "equi7/ZoneData$Cand.class" in declared
    assert declared - in_jar == set(), "jar is stale: rebuild with scripts/build_jvm_kernel.sh"
    assert in_jar - declared == set(), "jar carries classes with no source"


def test_jar_zonedata_matches_resource():
    with zipfile.ZipFile(JAR) as zf:
        packed = zf.read("equi7/zonedata.bin")
    assert packed == (JVM / "resources" / "equi7" / "zonedata.bin").read_bytes()


def test_kernel_available_raises_without_jar(spark, monkeypatch):
    monkeypatch.setattr(kernel, "_REGISTERED", set())
    monkeypatch.setattr(kernel, "_kernel_jar", lambda: None)
    with pytest.raises(RuntimeError, match="equi7-kernel.jar"):
        kernel.kernel_available(spark)
