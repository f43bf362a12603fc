"""Distributed runtime counters (SURVEY.md §2 X5).

The reference tracks rows processed across worker threads with a locked
AtomicCounter (/root/reference/src/util/AtomicCounter.py:32-48) and
prints progress from it (EnvLogUniverseGenerator.py, job_executor.py).
The Spark-native analog is ``observed``: ``df.observe(Observation, ...)``
— exact aggregate metrics collected as a side effect of whatever action
consumes the DataFrame.  Zero extra jobs, zero extra scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def observed(df: DataFrame, name: str = "metrics", **exprs: Column):
    """Attach named aggregate observations to ``df``.

    Returns ``(df, observation)``; read ``observation.get`` after an
    action has consumed the returned DataFrame.  Example::

        df, obs = observed(df, rows=F.count(F.lit(1)), vol=F.sum("value"))
        df.write.parquet(path)
        print(obs.get)   # {'rows': ..., 'vol': ...}
    """
    from pyspark.sql import Observation

    obs = Observation(name)
    return df.observe(obs, *[e.alias(n) for n, e in exprs.items()]), obs

