"""Compat-CLI tests: the reference's -w / -r / -mr lifecycle
(``Client/client_v1.py:62``) against a temp DFS root."""

from __future__ import annotations

import glob
import os

import pytest

from map_reduce_framework_using_python_spark.catalog import FileCatalog
from map_reduce_framework_using_python_spark.cli import cmd_mapreduce, cmd_read, cmd_write

MAPPER = (
    "import sys\n"
    "for line in sys.stdin:\n"
    "    for w in line.strip().lower().split():\n"
    "        if w:\n"
    "            print(f'{w},1')\n"
)
REDUCER = (
    "import sys\n"
    "cur, cnt = None, 0\n"
    "for line in sys.stdin:\n"
    "    line = line.rstrip('\\n')\n"
    "    if not line: continue\n"
    "    k, v = line.split(',', 1)\n"
    "    if k != cur:\n"
    "        if cur is not None: print(f'{cur},{cnt}')\n"
    "        cur, cnt = k, 0\n"
    "    cnt += int(v)\n"
    "if cur is not None: print(f'{cur},{cnt}')\n"
)


def test_write_mapreduce_read_lifecycle(spark, tmp_path):
    root = str(tmp_path / "dfs")
    src = tmp_path / "input.txt"
    src.write_text("the quick brown fox\nthe lazy dog\nthe quick dog\n")
    mp, rp = tmp_path / "mapper.py", tmp_path / "reducer.py"
    mp.write_text(MAPPER)
    rp.write_text(REDUCER)

    name = cmd_write(str(src), root=root, n_partitions=6)
    assert name == "input.txt"
    # Padding invariant: 3 lines, 6 partition files.
    entry = FileCatalog(root).lookup(name)
    assert entry["n_partitions"] == 6
    assert len(glob.glob(os.path.join(entry["path"], "part-*"))) == 6

    out_name = cmd_mapreduce(str(mp), str(rp), name, root=root)
    assert out_name == "input-part-00000.txt"  # worker_v1.py:193 naming

    outdir = str(tmp_path / "out")
    out_path = cmd_read(out_name, outdir, root=root)
    counts = dict(
        line.split(",") for line in open(out_path).read().splitlines() if line
    )
    assert counts == {"the": "3", "quick": "2", "dog": "2", "brown": "1", "fox": "1", "lazy": "1"}


def test_read_missing_file_raises(tmp_path):
    with pytest.raises(KeyError, match="not in catalog"):
        cmd_read("ghost.txt", str(tmp_path), root=str(tmp_path / "dfs2"))


def test_write_read_roundtrip_is_byte_identical(tmp_path, spark):
    """Reference parity (r7 review): WRITE splits contiguously by line
    count and READ merges in part order, so the roundtrip returns the
    file with lines in the ORIGINAL order — the identity contract the
    reference's client keeps (client_v1.py:103-115, 164-176). The old
    repartition/size-packed path permuted lines and only sorted()
    comparisons hid it."""
    from map_reduce_framework_using_python_spark.cli import cmd_read, cmd_write

    src = tmp_path / "ordered.txt"
    lines = [f"line-{i:03d}" for i in range(40)]
    src.write_text("\n".join(lines) + "\n")
    root = str(tmp_path / "dfs")
    cmd_write(str(src), root=root, n_partitions=6)
    out = cmd_read("ordered.txt", str(tmp_path / "out"), root=root)
    assert open(out).read().splitlines() == lines
    # and the contiguous-split layout: part 0 holds the FIRST lines
    import os

    from map_reduce_framework_using_python_spark.catalog import FileCatalog

    path = FileCatalog(root).lookup("ordered.txt")["path"]
    parts = sorted(f for f in os.listdir(path) if f.startswith("part-"))
    assert len(parts) == 6
    first = open(os.path.join(path, parts[0])).read().splitlines()
    assert first == lines[: len(first)]


NON_ASCII_LINES = [
    "straße naïve 東京",
    "😀 Straße ÉTÉ",
    "naïve naïve été",
    "東京 😀 😀",
]


def roundtrip(work: str) -> tuple[bool, dict[str, int]]:
    """WRITE → READ → MAP-REDUCE → READ of :data:`NON_ASCII_LINES`
    under ``work``: (READ returned the file byte for byte, word counts)."""
    data = ("\n".join(NON_ASCII_LINES) + "\n").encode("utf-8")
    src = os.path.join(work, "utf8.txt")
    with open(src, "wb") as fh:
        fh.write(data)
    mp, rp = os.path.join(work, "mapper.py"), os.path.join(work, "reducer.py")
    for path, code in ((mp, MAPPER), (rp, REDUCER)):
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(code)
    root, outdir = os.path.join(work, "dfs"), os.path.join(work, "out")

    name = cmd_write(src, root=root, n_partitions=3)
    with open(cmd_read(name, outdir, root=root), "rb") as fh:
        same_bytes = fh.read() == data
    result = cmd_mapreduce(mp, rp, name, root=root)
    with open(cmd_read(result, outdir, root=root), encoding="utf-8") as fh:
        counts = {k: int(v) for k, v in (l.split(",") for l in fh.read().splitlines())}
    return same_bytes, counts


def test_non_ascii_roundtrip(tmp_path, spark):
    """WRITE → MAP-REDUCE → READ on non-ASCII words: READ returns the
    file byte for byte and the counts equal a Python Counter."""
    from collections import Counter

    same_bytes, got = roundtrip(str(tmp_path))
    assert same_bytes
    assert got == Counter(w.lower() for l in NON_ASCII_LINES for w in l.split())


def test_pipes_stay_utf8_under_a_non_utf8_locale(tmp_path):
    """The same round trip in a fresh process whose JVM default charset
    is ISO-8859-1 and whose locale is C with Python's UTF-8 mode off:
    the pipes must still carry UTF-8 both ways. Pins the explicit JVM
    pipe encoding (the JVM would encode to Latin-1) and
    ``PYTHONIOENCODING`` (the mapper would read ASCII with escapes and
    leave "ÉTÉ" upper-case)."""
    import json
    import subprocess
    import sys
    from collections import Counter
    from pathlib import Path

    script = f"""
import json, sys
sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
from map_reduce_framework_using_python_spark.session import get_spark
get_spark(master="local[1]", driver_memory="512m",
          extra_conf={{"spark.driver.extraJavaOptions": "-Dfile.encoding=ISO-8859-1"}})
from tests.test_cli import roundtrip
print(json.dumps(roundtrip(sys.argv[1])))
"""
    env = {**os.environ, "LC_ALL": "C", "PYTHONUTF8": "0", "PYTHONCOERCECLOCALE": "0"}
    done = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path)],
        env=env, capture_output=True, text=True, encoding="utf-8", timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    same_bytes, got = json.loads(done.stdout.strip().splitlines()[-1])
    assert same_bytes
    assert got == Counter(w.lower() for l in NON_ASCII_LINES for w in l.split())


def test_read_replaces_stale_gather_and_repeats(tmp_path, spark):
    """READ clears a gather dir an interrupted READ left in the outdir,
    and a second READ into the same outdir rewrites the file."""
    src = tmp_path / "again.txt"
    src.write_text("one\ntwo\nthree\n")
    root = str(tmp_path / "dfs")
    outdir = tmp_path / "out"
    stale = outdir / "_again.txt_gather"
    stale.mkdir(parents=True)
    (stale / "part-00000").write_text("stale\n")
    cmd_write(str(src), root=root, n_partitions=2)

    first = cmd_read("again.txt", str(outdir), root=root)
    assert open(first).read() == "one\ntwo\nthree\n"
    second = cmd_read("again.txt", str(outdir), root=root)
    assert second == first
    assert open(second).read() == "one\ntwo\nthree\n"
    assert sorted(os.listdir(outdir)) == ["again.txt"]


def test_write_and_read_rdds_have_no_python_worker(tmp_path, spark):
    """Guard: the RDDs WRITE and READ save are JVM-only — no
    ``PythonRDD`` in their lineage."""
    from map_reduce_framework_using_python_spark.sources.io import (
        contiguous_lines,
        part_lines,
        read_text,
    )

    src = tmp_path / "guard.txt"
    src.write_text("a\nb\nc\n")
    root = str(tmp_path / "dfs")
    cmd_write(str(src), root=root, n_partitions=2)

    written = contiguous_lines(read_text(spark, str(src)), 2).toDebugString()
    stored = FileCatalog(root).lookup("guard.txt")["path"]
    gathered = part_lines(spark, stored)._jrdd.coalesce(1).toDebugString()
    for lineage in (written, gathered):
        assert "PythonRDD[" not in lineage, lineage
