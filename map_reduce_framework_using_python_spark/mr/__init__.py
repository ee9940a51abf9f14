"""Lane A — MR-compat: the reference's literal execution model on Spark.

Reproduces YaMR's client-visible MAP-REDUCE operation
(``Readme.md:3-6``): user-supplied ``mapper.py`` / ``reducer.py``
run as subprocesses over stdin/stdout (Hadoop-streaming style,
``Worker/worker_v1.py:113-116,196-199``), with a hash shuffle on the
substring before the first comma (``worker_v1.py:133``) and a
lexicographic per-partition sort (``worker_v1.py:186-187``) in between.

On Spark this is one lazy JVM chain (SURVEY.md §3.3): ``pipe(mapper) →
repartition(n, first comma field) → sortWithinPartitions(line) →
pipe(reducer)``, with rows kept JVM strings throughout — the
master/worker HTTP orchestration, barriers, and scratch cleanup
(§2.A ops 7-9) are the DAG scheduler's job.
"""

from map_reduce_framework_using_python_spark.mr.job import MRJob, mr_keyby

__all__ = ["MRJob", "mr_keyby"]
