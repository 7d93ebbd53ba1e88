"""Resumable job stages on the Hadoop FileSystem API.

Every ``jobs/*`` entry point shares one resume contract, and this
module is the only code that knows it.

Resume model: a job writes each stage's output frame to
``<out>/<stage>`` parquet. A stage is complete iff its ``_SUCCESS``
marker exists. Spark commits the marker only after every task has
committed, so a killed run leaves no half-visible stage: a stage whose
part files survived but whose marker did not is rebuilt. Without
``--resume`` the whole ``<out>`` is cleared first, so no output of an
earlier run can leak into the new one. With ``--resume`` completed
stages are read back instead of recomputed, and a killed multi-stage
run restarts at the stage it died in. Finer, bucket-level resume for
one giant stage is ``streaming.lineage.run_bucketed_waves``, whose
manifest lives in a directory this module creates.

All filesystem access goes through ``Path(p).getFileSystem(conf)``, so
``--out`` may be a plain path or any Hadoop URI (``file://``,
``hdfs://``, ``s3a://``).
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession


def job_session(app_name: str, shuffle_partitions: int | None = None) -> SparkSession:
    """The session a ``spark-submit`` job runs in. spark-submit owns
    master, executors and memory; only engine-required confs are set."""
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return b.getOrCreate()


def _fs_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop path or URI."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def mkdirs(spark: SparkSession, path: str) -> None:
    fs, p = _fs_path(spark, path)
    fs.mkdirs(p)


class JobOutput:
    """A job's ``--out`` directory: cleared for a fresh run, kept for
    ``--resume``. ``stages`` collects one ``{stage, rows, sec,
    resumed}`` record per checkpointed stage."""

    def __init__(self, spark: SparkSession, out: str, resume: bool):
        self.spark = spark
        self.out = out
        self.resume = resume
        self.stages: list[dict] = []
        fs, p = _fs_path(spark, out)
        if not resume:
            fs.delete(p, True)
        fs.mkdirs(p)

    def path(self, name: str) -> str:
        return f"{self.out}/{name}"

    def committed(self, name: str) -> bool:
        """True iff stage ``name`` was fully written (its ``_SUCCESS``
        marker exists)."""
        fs, p = _fs_path(self.spark, f"{self.path(name)}/_SUCCESS")
        return fs.exists(p)

    def stage(self, name: str, build) -> DataFrame:
        """Write-once checkpoint: ``build()`` → parquet ``<out>/<name>``,
        read back so downstream stages start from the committed files
        (a lineage break). Under ``--resume`` a committed stage is read
        instead of rebuilt."""
        path = self.path(name)
        t0 = time.time()
        resumed = self.resume and self.committed(name)
        if not resumed:
            build().write.mode("overwrite").parquet(path)
        df = self.spark.read.parquet(path)
        self.stages.append(
            {
                "stage": name,
                "rows": df.count(),
                "sec": 0.0 if resumed else round(time.time() - t0, 2),
                "resumed": resumed,
            }
        )
        return df

    def write_json(self, name: str, obj) -> None:
        """Write ``obj`` as JSON to ``<out>/<name>``, replacing it."""
        fs, p = _fs_path(self.spark, self.path(name))
        stream = fs.create(p, True)
        try:
            stream.write(bytearray(json.dumps(obj).encode()))
        finally:
            stream.close()
