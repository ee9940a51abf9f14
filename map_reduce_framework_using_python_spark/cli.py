"""Compat CLI — the reference's client, re-homed on Spark.

The reference's entire user surface is three CLI flags
(``Client/client_v1.py:62``, ``Readme.md:3-6``)::

    python client_v1.py -w  <path>                    # WRITE
    python client_v1.py -r  <file> <outdir>           # READ
    python client_v1.py -mr <mapper.py> <reducer.py> <file>

This module preserves that surface verbatim (plus long aliases) so a
reference user can switch by changing the program name::

    python -m map_reduce_framework_using_python_spark.cli -w data.txt
    python -m map_reduce_framework_using_python_spark.cli -r data.txt ./out
    python -m map_reduce_framework_using_python_spark.cli -mr mapper.py reducer.py data.txt

Semantics preserved: N-way partitioned text storage with empty-partition
padding, catalog registration, ``{name}-part-00000`` result naming for
MR outputs (``worker_v1.py:193``, ``masterhandler.py:173``), a wall-clock
"Time Elapsed" print (``client_v1.py:209,216-217``), and non-zero exit
with an error for a missing file (the HTTP-500 contract). The
master/worker processes themselves are gone — Spark is the cluster.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

from map_reduce_framework_using_python_spark.catalog import DEFAULT_ROOT, FileCatalog

DEFAULT_PARTITIONS = int(os.environ.get("SPARK_GRAFT_WORKERS", "10"))


def _spark():
    from map_reduce_framework_using_python_spark.session import get_spark

    return get_spark(app_name="map_reduce_framework_using_python_spark_cli")


def cmd_write(path: str, root: str = DEFAULT_ROOT, n_partitions: int = DEFAULT_PARTITIONS) -> str:
    """WRITE: split a local text file into N partitions in the DFS root
    and register it (reference §3.1; partitions==workers via
    $SPARK_GRAFT_WORKERS, the info.txt analog)."""
    if not os.path.exists(path):
        raise FileNotFoundError(path)
    from map_reduce_framework_using_python_spark.sources.io import read_text, write_text

    name = os.path.basename(path)
    catalog = FileCatalog(root)
    # Write first, register on success — a failed write must not leave a
    # dangling catalog entry pointing at a missing path.
    dest = catalog.path_for(name)
    write_text(read_text(_spark(), path), dest, n_partitions=n_partitions)
    catalog.register(name, n_partitions)
    return name


def cmd_read(name: str, outdir: str, root: str = DEFAULT_ROOT) -> str:
    """READ: gather a stored file's partitions into one local file
    (reference §3.2 — the push-server/barrier/merge, as one coalesced
    write) IN PART ORDER, so WRITE→READ returns the original file
    byte-identically like the reference's manifest-ordered merge
    (``client_v1.py:164-176``). ``coalesce(1)`` concatenates the
    per-part union's partitions in index order; the lines stay JVM
    strings from scan to sink."""
    from map_reduce_framework_using_python_spark.sources.io import part_lines

    entry = FileCatalog(root).lookup(name)
    tmp = os.path.join(outdir, f"_{name}_gather")
    # The RDD text sink refuses an existing directory: clear a gather
    # dir an interrupted READ left behind.
    shutil.rmtree(tmp, ignore_errors=True)
    part_lines(_spark(), entry["path"])._jrdd.coalesce(1).saveAsTextFile(tmp)
    out_path = os.path.join(outdir, name)
    shutil.move(os.path.join(tmp, "part-00000"), out_path)
    shutil.rmtree(tmp, ignore_errors=True)
    return out_path


def cmd_mapreduce(
    mapper_path: str, reducer_path: str, name: str, root: str = DEFAULT_ROOT
) -> str:
    """MAP-REDUCE: run user mapper/reducer sources over a stored file,
    store + register the result as ``{name}-part-00000.{ext}``
    (reference §3.3)."""
    entry = FileCatalog(root).lookup(name)
    with open(mapper_path, encoding="utf-8") as fh:
        mapper_src = fh.read()
    with open(reducer_path, encoding="utf-8") as fh:
        reducer_src = fh.read()
    from map_reduce_framework_using_python_spark.mr.job import MRJob
    from map_reduce_framework_using_python_spark.sources.io import part_lines

    spark = _spark()
    job = MRJob(spark, mapper_src, reducer_src, n_partitions=entry["n_partitions"])
    stem, ext = os.path.splitext(name)
    out_name = f"{stem}-part-00000{ext}"
    catalog = FileCatalog(root)
    dest = catalog.path_for(out_name)
    shutil.rmtree(dest, ignore_errors=True)
    job.save(part_lines(spark, entry["path"]), dest)
    catalog.register(out_name, entry["n_partitions"])
    return out_name


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    t0 = time.time()
    try:
        if not argv:
            raise SystemExit(__doc__)
        flag, args = argv[0], argv[1:]
        if flag in ("-w", "--write"):
            print(f"stored: {cmd_write(args[0])}")
        elif flag in ("-r", "--read"):
            print(f"read to: {cmd_read(args[0], args[1])}")
        elif flag in ("-mr", "--mapreduce"):
            out = cmd_mapreduce(args[0], args[1], args[2])
            print(f"result file: {out} (fetch with -r {out} <outdir>)")
        elif flag in ("-ls", "--list"):
            for n in FileCatalog().names():
                print(n)
        else:
            print(f"unknown flag: {flag}", file=sys.stderr)
            return 2
    except (FileNotFoundError, KeyError, IndexError) as exc:
        print(f"error: {exc}", file=sys.stderr)
        return 1
    finally:
        # The reference's only instrumentation (client_v1.py:209,216-217).
        print(f"Time Elapsed: {time.time() - t0:.2f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
