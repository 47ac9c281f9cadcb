"""Untimed priming of a fresh checkout, run once before any measured run.

Fills the on-disk and OS caches a user pays for once per install: the
bytecode of the engine and the benchmark (``__pycache__``), the pages of
the Spark jars, and the replay chunks the streaming ops read
(``streaming.replay.ensure_chunks`` over the fixture ``events`` table,
written under the engine's ``.scratch/replay``). Runs in its own process,
so every measured process starts in a JVM that has run no job.

    python3 perfbench/prime.py
"""

from __future__ import annotations

import compileall
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from layers import FIXTURES  # noqa: E402

#: (variant, chunks) of the replay ops in ``layers.COLD_OPS``.
REPLAY_CHUNKS = ("plain", 4)


def main() -> None:
    for d in ("python_kinesis_streaming_spark", "perfbench"):
        compileall.compile_dir(os.path.join(ROOT, d), quiet=1)
    compileall.compile_file(os.path.join(ROOT, "__spark_entry__.py"), quiet=1)

    from pyspark.sql import SparkSession

    import __spark_entry__  # noqa: F401  (first import of the registry)
    from python_kinesis_streaming_spark.streaming.replay import ensure_chunks

    spark = (
        SparkSession.builder.master("local[1]").appName("perfbench-prime")
        .config("spark.ui.showConsoleProgress", "false").getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ensure_chunks(spark, FIXTURES, *REPLAY_CHUNKS)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
