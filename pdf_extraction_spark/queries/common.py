"""Shared helpers for the driver-facing query modules.

The driver calls queries() on ITS OWN SparkSession — configuration
unknown.  ``table()`` therefore pins the runtime-settable confs every
oracle comparison depends on:

* session timezone UTC — DuckDB timestamps are naive/UTC; any
  NTZ->LTZ cast (sessionization epochs) must agree;
* ICU case mappings off — semantics identical for this corpus
  (ASCII-range casing) and 10-30x faster lower()/upper()
  (see session.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def prepare(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
    except Exception:
        pass  # conf absent on older Spark
    return spark


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    prepare(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def fits_broadcast(df: DataFrame) -> bool:
    """True iff ``df``'s SOURCE FILES fit under the session's
    autoBroadcastJoinThreshold — the same on-disk-size statistic the
    planner itself uses when it auto-broadcasts a bare scan.  Lets a
    query hint-broadcast a *filtered/projected subset* of a table the
    planner would already have broadcast whole (strictly smaller, so
    strictly safer), while degrading to the unhinted plan at scale
    where the table outgrows the threshold.  Driver-side metadata only
    (file listing is already cached by the scan); no extra Spark job."""
    import os

    # the planner's own parsed value: the conf string may carry a unit
    # ("10485760b" on a default session, "64MB") or be negative
    thr = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if thr <= 0:
        return False
    try:
        files = df.inputFiles()
        total = sum(
            os.path.getsize(f.removeprefix("file:")) for f in files
        )
    except Exception:
        return False
    return 0 < total <= thr
