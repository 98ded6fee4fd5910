"""The versioned-directory publish primitive (versioned.py) and the
rule that it is the only code publishing on-disk state."""

from __future__ import annotations

import os
import re
import subprocess
import sys
from pathlib import Path

import pytest

from anomaly_detection_toolkit_spark import versioned as V

REPO = Path(__file__).resolve().parent.parent


def test_only_versioned_renames_or_symlinks():
    """Every rename or symlink of on-disk state goes through one
    protocol; a hand-rolled swap elsewhere fails this test."""
    banned = re.compile(r"\bos\.(renames?|replace|symlink)\b|shutil\.move\b")
    pkg = REPO / "anomaly_detection_toolkit_spark"
    offenders = [
        f"{p.relative_to(REPO)}:{i}: {line.strip()}"
        for p in [*pkg.rglob("*.py"), REPO / "validate.py"]
        if p.name != "versioned.py"
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not offenders, offenders


def test_publish_flips_and_keeps_one_superseded_version(tmp_path):
    p = str(tmp_path / "sink")
    for n in (1, 2, 3):
        with V.new_version(p) as ver:
            assert ver == f"{p}.v{n}"
            os.makedirs(ver)
            Path(ver, "data").write_text(str(n))
            if n == 2:  # a writer that dies before publishing
                continue
            V.publish(p, ver)
        assert Path(V.resolve(p), "data").read_text() == str(n)
    # v2 (never published) swept; v1 kept one cycle for in-flight readers
    assert sorted(os.listdir(tmp_path)) == ["sink", "sink.lock", "sink.v1", "sink.v3"]
    with pytest.raises(FileNotFoundError):
        V.resolve(str(tmp_path / "absent"))


def test_appending_publishes_a_new_path_only_on_success(tmp_path):
    p = str(tmp_path / "sink")
    with pytest.raises(RuntimeError):
        with V.appending(p) as d:
            os.makedirs(d)
            raise RuntimeError("append failed")
    assert not V.published(p)
    with V.appending(p) as d:
        os.makedirs(d)
    assert os.readlink(p) == "sink.v2" and not os.path.exists(f"{p}.v1")
    with V.appending(p) as d:  # later appends go in place
        assert d == V.resolve(p)


def test_crashed_writer_lock_is_released_by_the_kernel(tmp_path):
    p = str(tmp_path / "idx")
    holder = subprocess.Popen(
        [
            sys.executable, "-c",
            "import sys; from anomaly_detection_toolkit_spark import versioned as V\n"
            f"with V.lock({p!r}):\n"
            "    print('held', flush=True); sys.stdin.read()",
        ],
        cwd=REPO, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
    )
    try:
        assert holder.stdout.readline().strip() == "held"
        with pytest.raises(V.ConcurrentWriteError):
            with V.lock(p):
                pass
    finally:
        holder.kill()
        holder.wait(30)
    with V.lock(p):  # no stale marker to clean up
        pass
