#!/usr/bin/env python
"""Fixed cost of one Python-worker crossing, per form.

Runs a ``noop`` write over the embeddings table in three forms -- JVM-only,
one pandas UDF and ``mapInArrow`` -- and prints the median wall of each,
plus what a warm Python worker holds: its ``zipimport`` importers per
archive, whether its ``zipimporter.invalidate_caches`` is the stat-guarded
one from ``dynamic_spark_spark.pydaemon``, and how long one
``importlib.invalidate_caches()`` (the call every task makes) takes there.

Usage: PYTHONPATH=. python scripts/python_crossing_probe.py SF_DIR [RUNS]

``SF_DIR`` holds ``embeddings.parquet``. Prints one JSON line.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from dynamic_spark_spark.session import get_spark
from dynamic_spark_spark.sources.readers import load_table


def _first(emb: pd.Series) -> pd.Series:
    return emb.map(lambda v: float(v[0]))


def _first_batches(batches):
    for b in batches:
        yield b.select(["vec_id"])


def _worker_state(_):
    """Runs in a Python worker: the importers it holds and the cost of the
    per-task cache invalidation."""
    import importlib
    import os
    import zipimport

    import pyarrow as pa

    t0 = time.perf_counter()
    importlib.invalidate_caches()
    ms = (time.perf_counter() - t0) * 1e3
    per_archive: dict[str, int] = {}
    for finder in sys.path_importer_cache.values():
        if isinstance(finder, zipimport.zipimporter):
            name = os.path.basename(finder.archive)
            per_archive[name] = per_archive.get(name, 0) + 1
    guarded = getattr(zipimport.zipimporter.invalidate_caches, "stat_guarded", False)
    yield pa.record_batch(
        [pa.array([json.dumps({"zipimporters": per_archive, "stat_guarded": guarded,
                               "invalidate_caches_ms": round(ms, 2)})])],
        names=["state"],
    )


def _median_ms(df, runs: int) -> float:
    df.write.format("noop").mode("overwrite").save()  # warm
    walls = []
    for _ in range(runs):
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        walls.append((time.perf_counter() - t0) * 1e3)
    return round(statistics.median(walls), 1)


def main() -> None:
    sf_dir = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 9
    spark = get_spark("python-crossing-probe")
    spark.sparkContext.setLogLevel("ERROR")
    e = load_table(spark, sf_dir, "embeddings")
    forms = {
        "jvm_only": e.select("vec_id", F.col("embedding")[0].alias("x")),
        "pandas_udf": e.select("vec_id", pandas_udf(_first, "double")("embedding").alias("x")),
        "map_in_arrow": e.mapInArrow(_first_batches, "vec_id long"),
    }
    out = {"rows": e.count(), "runs": runs}
    out["median_ms"] = {name: _median_ms(df, runs) for name, df in forms.items()}
    state = e.limit(1).mapInArrow(_worker_state, "state string").collect()[0]["state"]
    out["worker"] = json.loads(state)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
