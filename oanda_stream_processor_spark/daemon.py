"""Python-worker daemon (``spark.python.daemon.module``, set by get_spark).

Every Python task calls ``importlib.invalidate_caches()``, which re-reads
the central directory of every zip archive an importer covers: about
0.2-0.3 CPU-s per task over ``pyspark.zip`` and the spark-core jar. When the
Spark distribution ships the same pyspark unzipped, import it from there
and drop the archives. Imports nothing but the stdlib before the swap.
"""

import os
import runpy
import sys


def main() -> None:
    spark_home = os.environ.get("SPARK_HOME")
    home = spark_home and os.path.join(spark_home, "python")
    if home and os.path.isfile(os.path.join(home, "pyspark", "__init__.py")):
        for p in [p for p in sys.path
                  if p.endswith(("pyspark.zip", ".jar")) or p == home]:
            sys.path.remove(p)
            sys.path_importer_cache.pop(p, None)
        sys.path.insert(0, home)
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)


if __name__ == "__main__":
    main()
