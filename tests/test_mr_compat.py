"""Lane-A MR-compat tests (SURVEY.md §5.3-5.4): word-count three-way
equivalence, lexicographic sort semantics, partition padding, key
routing, and the failure contract."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from map_reduce_framework_using_python_spark.mr.job import (
    WORDCOUNT_MAPPER,
    WORDCOUNT_REDUCER,
    MRJob,
    mr_keyby,
)

LINES = [
    "the quick brown fox",
    "the lazy dog",
    "the quick dog",
    "",
    "fox",
]


def _expected_counts() -> dict[str, int]:
    counts: dict[str, int] = {}
    for line in LINES:
        for w in line.strip().lower().split():
            counts[w] = counts.get(w, 0) + 1
    return counts


def test_wordcount_three_ways_agree(spark):
    """The reference's canonical job computed three ways must agree:
    Lane-A pipe pipeline, RDD flatMap/reduceByKey, and DataFrame
    split/explode/groupBy (SURVEY.md §5.3)."""
    expected = _expected_counts()

    # 1. Lane A: literal pipe mapper → shuffle → sort → pipe reducer.
    rdd = spark.sparkContext.parallelize(LINES, 3)
    job = MRJob(spark, WORDCOUNT_MAPPER, WORDCOUNT_REDUCER, n_partitions=4)
    lane_a = dict(
        (k, int(v)) for k, v in (line.split(",", 1) for line in job.run(rdd).collect())
    )

    # 2. Idiomatic RDD (adds the map-side combine the reference lacks).
    lane_rdd = dict(
        spark.sparkContext.parallelize(LINES, 3)
        .flatMap(lambda l: l.strip().lower().split())
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b)
        .collect()
    )

    # 3. DataFrame lane.
    df = spark.createDataFrame([(l,) for l in LINES], ["value"])
    lane_df = {
        r["word"]: r["count"]
        for r in df.select(F.explode(F.split(F.lower("value"), r"\s+")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .count()
        .collect()
    }

    assert lane_a == expected
    assert lane_rdd == expected
    assert lane_df == expected


def test_lexicographic_sort_semantics(spark):
    """Lane A sorts raw lines as strings: "10" < "9"
    (``Worker/worker_v1.py:186-187``)."""
    mapper = "import sys\nfor line in sys.stdin:\n    print(line.strip())\n"
    reducer = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    lines = ["9,nine", "10,ten", "2,two", "1,one"]
    job = MRJob(spark, mapper, reducer, n_partitions=1)
    out = job.run(spark.sparkContext.parallelize(lines, 2)).collect()
    assert out == sorted(lines)  # ["1,one", "10,ten", "2,two", "9,nine"]
    assert out.index("10,ten") < out.index("9,nine")


def test_partition_padding_invariant(spark):
    """Fewer lines than partitions still yields exactly n partitions
    (the WRITE padding invariant, ``Client/client_v1.py:102-109``), and
    the union of partitions equals the input."""
    mapper = "import sys\nfor line in sys.stdin:\n    print(line.strip())\n"
    reducer = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    job = MRJob(spark, mapper, reducer, n_partitions=8)
    rdd = spark.sparkContext.parallelize(["a,1", "b,2"], 1)
    result = job.run(rdd)
    assert result.getNumPartitions() == 8
    assert sorted(result.collect()) == ["a,1", "b,2"]


def test_same_key_same_partition(spark):
    """Shuffle contract: identical first-comma-field keys land in the
    same partition (``Worker/worker_v1.py:133``; semantics of myHash,
    not its skewed implementation)."""
    mapper = "import sys\nfor line in sys.stdin:\n    print(line.strip())\n"
    reducer = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    lines = [f"k{i % 5},{i}" for i in range(50)]
    job = MRJob(spark, mapper, reducer, n_partitions=4)
    parts = job.run(spark.sparkContext.parallelize(lines, 6)).glom().collect()
    # Each key appears in exactly one partition.
    key_to_parts: dict[str, set[int]] = {}
    for i, part in enumerate(parts):
        for line in part:
            key_to_parts.setdefault(mr_keyby(line), set()).add(i)
    assert all(len(ps) == 1 for ps in key_to_parts.values())


def test_failing_mapper_raises(spark):
    """A crashing mapper fails the job (the reference's HTTP-500 abort,
    ``Worker/worker_v1.py:201-207``)."""
    bad_mapper = "import sys\nsys.exit(3)\n"
    reducer = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    job = MRJob(spark, bad_mapper, reducer, n_partitions=2)
    with pytest.raises(Exception, match="exited with status 3"):
        job.run(spark.sparkContext.parallelize(["x,1"], 1)).collect()


def test_failing_reducer_raises(spark):
    """A reducer that exits non-zero fails the job the same way."""
    mapper = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    bad_reducer = "import sys\nsys.stdin.read()\nsys.exit(4)\n"
    job = MRJob(spark, mapper, bad_reducer, n_partitions=2)
    with pytest.raises(Exception, match="exited with status 4"):
        job.run(spark.sparkContext.parallelize(["x,1"], 1)).collect()


def test_rows_stay_in_the_jvm(spark):
    """Guard: a DataFrame job is two JVM pipes around a Tungsten shuffle
    and sort — no Python worker (``PythonRDD``) touches a row."""
    mapper = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    df = spark.range(6).selectExpr("concat('k', id % 3, ',', id) AS value")
    job = MRJob(spark, mapper, mapper, n_partitions=3)
    lineage = job.run(df)._jrdd.toDebugString()
    assert lineage.count("PipedRDD[") == 2, lineage
    assert "PythonRDD[" not in lineage, lineage


def test_run_builds_lazily(spark):
    """Building the pipeline (run / run_to_kv_df) launches no Spark job:
    the shuffle is planned without AQE, which would run its map stage
    as soon as the plan became an RDD."""
    df = spark.createDataFrame([("a b",), ("b",)], ["value"])
    job = MRJob(spark, WORDCOUNT_MAPPER, WORDCOUNT_REDUCER, n_partitions=2)

    def n_jobs() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()

    before = n_jobs()
    out = job.run(df)
    kv = job.run_to_kv_df(df)
    assert n_jobs() == before
    assert sorted(out.collect()) == ["a,1", "b,2"]
    assert sorted(map(tuple, kv.collect())) == [("a", "1"), ("b", "2")]


def test_run_to_kv_df_splits_on_first_comma(spark):
    """Key = text before the first comma; value = the rest, commas
    included; a line without a comma has a null value."""
    mapper = "import sys\nfor line in sys.stdin:\n    sys.stdout.write(line)\n"
    lines = ["k1,v,with,commas", "bare", "k2,", ",empty-key"]
    job = MRJob(spark, mapper, mapper, n_partitions=2)
    kv = job.run_to_kv_df(spark.sparkContext.parallelize(lines, 2), "k", "v")
    assert kv.columns == ["k", "v"]
    assert sorted(map(tuple, kv.collect()), key=str) == sorted(
        [("k1", "v,with,commas"), ("bare", None), ("k2", ""), ("", "empty-key")],
        key=str,
    )


def test_input_kinds_agree(spark, tmp_path):
    """A DataFrame, a JVM-backed RDD (``textFile``) and a pickled RDD
    (``parallelize``) give the same counts."""
    lines = ["the quick fox", "the dog", "fox"]
    path = tmp_path / "in.txt"
    path.write_text("\n".join(lines) + "\n")
    job = MRJob(spark, WORDCOUNT_MAPPER, WORDCOUNT_REDUCER, n_partitions=3)
    inputs = (
        spark.createDataFrame([(l,) for l in lines], ["value"]),
        spark.sparkContext.textFile(str(path)),
        spark.sparkContext.parallelize(lines, 2),
    )
    outs = [sorted(job.run(x).collect()) for x in inputs]
    assert outs[0] == ["dog,1", "fox,2", "quick,1", "the,2"]
    assert outs[1] == outs[0] and outs[2] == outs[0]


def test_one_job_dir_per_process(spark, tmp_path, monkeypatch):
    """Jobs share one lazily made source dir and one exit hook; each job
    still ships uniquely named files into it."""
    import atexit
    import tempfile

    from map_reduce_framework_using_python_spark.mr import job as job_mod

    made, hooks = [], []

    def mkdtemp(prefix=""):
        path = str(tmp_path / f"{prefix}{len(made)}")
        os.mkdir(path)
        made.append(path)
        return path

    monkeypatch.setattr(job_mod, "_job_dir", None)
    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    monkeypatch.setattr(atexit, "register", lambda *a, **k: hooks.append(a))
    jobs = [MRJob(spark, WORDCOUNT_MAPPER, WORDCOUNT_REDUCER) for _ in range(3)]
    assert len(made) == 1 and len(hooks) == 1
    assert {j._job_dir for j in jobs} == {made[0]}
    shipped = {p for j in jobs for p in (j._mapper_path, j._reducer_path)}
    assert len(shipped) == 6
    assert all(os.path.dirname(p) == made[0] for p in shipped)


def test_cmd_cluster_branch_pins_sparkfiles_contract(spark):
    """The non-local `_cmd` branch is untestable by construction on
    local[*] (no cluster here), so PIN the command strings it would
    emit (VERDICT r2 item 7):

    - local[*]: absolute interpreter + absolute job-dir path (executors
      share the driver filesystem);
    - cluster: bare `python3 <basename>` — relies on Spark resolving
      addFile'd files into each task's working directory (SparkFiles
      contract: files shipped via `SparkContext.addFile` materialize in
      the task CWD on executors, which is why the basename alone must
      resolve).
    """
    import sys
    from types import SimpleNamespace

    job = MRJob(spark, WORDCOUNT_MAPPER, WORDCOUNT_REDUCER, n_partitions=2)
    name = f"mapper_{job._uid}.py"

    local_cmd = job._cmd(name)
    assert local_cmd == [sys.executable, job._mapper_path]
    assert local_cmd[1].startswith(job._job_dir)

    # Swap in a cluster-master stub: only `.sparkContext.master` is read.
    real = job.spark
    try:
        job.spark = SimpleNamespace(
            sparkContext=SimpleNamespace(master="spark://host:7077")
        )
        assert job._cmd(name) == ["python3", name]
        job.spark = SimpleNamespace(
            sparkContext=SimpleNamespace(master="yarn")
        )
        assert job._cmd(name) == ["python3", name]
    finally:
        job.spark = real
