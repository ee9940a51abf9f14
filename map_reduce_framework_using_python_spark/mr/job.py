"""MRJob: Hadoop-streaming-style mapper/reducer jobs with JVM-resident rows.

Capability port of the reference's MAP-REDUCE lifecycle (SURVEY.md §3.3,
``Master/masterhandler.py:59-191``) with bit-compatible Lane-A semantics:

- mapper/reducer are *source strings* shipped to workers — the reference
  POSTs the source and pipes partition bytes through a subprocess
  (``Worker/worker_v1.py:100-122,177-218``); we write them to the
  process's job dir, register via ``SparkContext.addFile``, and run them
  with the JVM ``JavaRDD.pipe``.
- rows stay JVM strings from scan to sink: the mapper reads its input
  partitions as they are (one task per stored part via
  ``sources.io.part_lines``), the shuffle and sort run in Tungsten, and
  the reducer's output is written by the JVM text sink. Python runs only
  inside the user's mapper and reducer processes. Pipes are UTF-8 on
  both sides (explicit JVM encoding, ``PYTHONIOENCODING=utf-8``); the
  JVM splits pipe output on ``\n``, ``\r\n`` and a bare ``\r``, so a
  bare ``\r`` inside mapper output ends a line, as it already does in
  WRITE's text scan.
- shuffle key = substring before the first comma
  (``Worker/worker_v1.py:133``); same key ⇒ same partition. Keys are
  routed with Spark's murmur3 hash (``repartition(n, key)``) — the
  reference's ``myHash`` (``Worker/shuffler.py:6-10``) skews badly
  (SURVEY.md §4) and only its *semantics* (same key → same bucket) are
  part of the contract.
- pre-reduce sort is lexicographic on the RAW LINE
  (``Worker/worker_v1.py:186-187``): ``"10" < "9"``. Spark sorts the
  line's UTF-8 bytes, which is the same order as Python's code-point
  sort.
- partition count is explicit (the reference pins it to worker count,
  ``Master/masterhandler.py:24``; here it's just a parameter) and empty
  partitions are preserved (the WRITE padding invariant,
  ``Client/client_v1.py:102-109``).
- a failing mapper/reducer fails the job (the reference's HTTP-500
  abort contract, ``Worker/worker_v1.py:201-207``): the JVM pipe raises
  ``Subprocess exited with status N``.

At 100 TB this lane still scales — Spark's sort-based shuffle spills,
unlike the reference's in-memory string buffers
(``Worker/worker_v1.py:126-137``) — but the subprocess-per-partition
model is inherently the slow path; Lane B (plans/) is the performance
surface.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
import uuid

from pyspark.rdd import RDD
from pyspark.serializers import UTF8Deserializer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.sources.io import jvm_lines, lines_frame

#: Environment and buffer of every mapper/reducer pipe. The JVM side's
#: encoding is passed explicitly too: JDK 17's default charset follows
#: the locale.
PIPE_ENV = {"PYTHONIOENCODING": "utf-8"}
PIPE_BUFFER = 1 << 16

_job_dir: str | None = None


def job_dir() -> str:
    """The process's one directory for shipped mapper/reducer sources,
    made on first use. It must outlive lazy job execution (local mode
    pipes the absolute path), so it is reclaimed at interpreter exit by
    a single hook rather than per job."""
    global _job_dir
    if _job_dir is None:
        _job_dir = tempfile.mkdtemp(prefix="mrjob_")
        atexit.register(shutil.rmtree, _job_dir, ignore_errors=True)
    return _job_dir


def mr_keyby(line: str) -> str:
    """The reference's shuffle key: text before the first comma
    (``Worker/worker_v1.py:133``). Lines with no comma key as themselves."""
    return line.split(",", 1)[0]


class MRJob:
    """Run ``mapper.py`` / ``reducer.py`` sources over a line dataset.

    Equivalent CLI in the reference:
    ``python client_v1.py -mr mapper.py reducer.py file`` (``Client/
    client_v1.py:184-202``).
    """

    def __init__(
        self,
        spark: SparkSession,
        mapper_src: str,
        reducer_src: str,
        n_partitions: int = 10,
    ) -> None:
        self.spark = spark
        self.n_partitions = n_partitions
        self._job_dir = job_dir()
        # Unique basenames per job: SparkContext.addFile dedups/conflicts
        # on basename, and one session runs many jobs (the reference
        # reuses ``mapper.py`` per job dir, ``worker_v1.py:105-108``, but
        # its workers are wiped between jobs by op 9 `clear`).
        self._uid = uuid.uuid4().hex[:8]
        self._mapper_path = self._ship(mapper_src, f"mapper_{self._uid}.py")
        self._reducer_path = self._ship(reducer_src, f"reducer_{self._uid}.py")

    def _ship(self, src: str, name: str) -> str:
        """Persist UDF source and register it with every executor — the
        analog of the master POSTing source code to workers
        (``Master/masterhandler.py:83-92,139-143``)."""
        path = os.path.join(self._job_dir, name)
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(src)
        self.spark.sparkContext.addFile(path)
        return path

    def _cmd(self, name: str) -> list[str]:
        # local[N]: executors share the driver filesystem → absolute job
        # dir path. Cluster deploys pipe the bare addFile name, which
        # resolves from the task working dir on YARN/Kubernetes (both
        # localize spark.files into the container CWD). Spark
        # STANDALONE does not localize into the CWD — there, ship the
        # sources via --files or resolve through SparkFiles in a
        # bootstrap; documented limitation, not silently wrong (the
        # pipe fails loudly on a non-zero exit).
        if self.spark.sparkContext.master.startswith("local"):
            return [sys.executable, os.path.join(self._job_dir, name)]
        return ["python3", name]

    def _pipe(self, jrdd, name: str):
        return jrdd.pipe(self._cmd(name), PIPE_ENV, False, PIPE_BUFFER, "UTF-8")

    def _jvm_input(self, lines: RDD | DataFrame):
        """The input as a JVM string RDD: a DataFrame's first column, a
        JVM-backed RDD as is, a pickled RDD's ``str`` forms converted
        once."""
        if isinstance(lines, DataFrame):
            return jvm_lines(lines)
        if isinstance(lines._jrdd_deserializer, UTF8Deserializer):
            return lines._jrdd
        return lines.map(str)._to_java_object_rdd()

    def _jvm_run(self, lines: RDD | DataFrame):
        """Full pipeline as a JVM ``JavaRDD[String]``: map → shuffle(first
        comma field) → sort(raw line, lexicographic) → reduce."""
        mapped = self._pipe(self._jvm_input(lines), f"mapper_{self._uid}.py")
        shuffled = (
            lines_frame(self.spark, mapped, lazy=True)
            .repartition(self.n_partitions, F.substring_index("value", ",", 1))
            .sortWithinPartitions("value")
        )
        return self._pipe(jvm_lines(shuffled), f"reducer_{self._uid}.py")

    def run(self, lines: RDD | DataFrame) -> RDD:
        """Full pipeline; returns an RDD of output lines with one
        partition per reducer."""
        return RDD(self._jvm_run(lines), self.spark.sparkContext, UTF8Deserializer())

    def run_to_kv_df(self, lines: RDD | DataFrame, key_name: str = "key", value_name: str = "value") -> DataFrame:
        """Run and split output on the first comma into a typed 2-column
        DataFrame (the reference's untyped ``(key, value)`` contract:
        the FIRST comma field is the key, so keys must not contain
        commas — values may; a line with no comma has a null value)."""
        value = F.col("value")
        return lines_frame(self.spark, self._jvm_run(lines)).select(
            F.substring_index(value, ",", 1).alias(key_name),
            F.when(value.contains(","), F.substr(value, F.instr(value, ",") + 1)).alias(value_name),
        )

    def save(self, lines: RDD | DataFrame, path: str) -> None:
        """Write results as ``part-*`` text files — the reference's
        ``{name}-part-00000_{i}`` convention (``Worker/worker_v1.py:193``)
        is Spark's native output naming."""
        self._jvm_run(lines).saveAsTextFile(path)


#: Canonical word-count job — the reference's smoke test
#: (``Worker/worker_v1.py:109``), Hadoop-streaming protocol with
#: comma-separated kv lines.
#: Tokenization is single-space split + drop-empties, matching the
#: DuckDB oracle's string_split(lower(text), ' ') ... WHERE word <> ''
#: exactly — whitespace-class split() silently diverged on tab-bearing
#: text (r7 review; latent on the tabless fixtures). Comma-bearing
#: tokens are EXCLUDED on both sides: the reference kv format reserves
#: ',' as the key delimiter, so such a token would corrupt the
#: reducer's count parse ('int("bar,1")' job abort) — the oracle
#: carries the matching word NOT LIKE '%,%' filter.
WORDCOUNT_MAPPER = """\
import sys
for line in sys.stdin:
    for w in line.rstrip("\\n").lower().split(" "):
        if w and "," not in w:
            print(f"{w},1")
"""

WORDCOUNT_REDUCER = """\
import sys
cur, cnt = None, 0
for line in sys.stdin:
    line = line.rstrip("\\n")
    if not line:
        continue
    k, v = line.split(",", 1)
    if k != cur:
        if cur is not None:
            print(f"{cur},{cnt}")
        cur, cnt = k, 0
    cnt += int(v)
if cur is not None:
    print(f"{cur},{cnt}")
"""
