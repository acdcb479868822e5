"""A8/A9/E6/E7 — triple sink, report sinks, manifest + resume.

north_rule: triples partitioned by subject hash; every construction stage
commits a fresh dir, then one durable manifest line (with counters) that
names it, so a killed job resumes from the dirs the last lines name.

Sandbox note: Iceberg's runtime jar is not baked into this container, so
the sink writes parquet with an explicit ``s_bucket = pmod(xxhash64(s), N)``
partition column — the exact layout ``bucket(N, s)`` would give on Iceberg
(same pruning, same co-location); the writer API is isolated here so the
Iceberg path is a one-line swap (`.format("iceberg")`).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import IntegerType, StructField, StructType

from shacl_dqa_prototype_spark.schemas import TRIPLES_SCHEMA
from shacl_dqa_prototype_spark.sources.snapshots import append_log, dir_writer


def write_triples(triples: DataFrame, path: str, n_buckets: int = 32) -> None:
    """E6: materialize T partitioned by subject hash into the fresh
    commit dir ``path``.

    One shuffle keyed on the bucket, then a partitioned write — downstream
    per-subject work (groupBy('s'), self-joins on s) reuses the layout."""
    dir_writer(
        triples.withColumn("s_bucket", F.pmod(F.xxhash64("s"), F.lit(n_buckets)))
        .repartition("s_bucket")
    ).partitionBy("s_bucket").parquet(path)


def read_triples(spark: SparkSession, path: str) -> DataFrame:
    # Explicit schema: an empty KG writes zero parquet footers, which would
    # break schema inference on read-back. Build a fresh StructType —
    # StructType.add mutates in place, so never .add on the shared constant.
    schema = StructType(
        TRIPLES_SCHEMA.fields + [StructField("s_bucket", IntegerType(), True)]
    )
    return spark.read.schema(schema).parquet(path).drop("s_bucket")


class Manifest:
    """E7: the construction commit log, one JSON line per stage commit.

    A stage writes a fresh dir nothing names yet; ``commit`` then appends
    ONE line naming it (``payload.path``) through ``snapshots.append_log``
    — the snapshot rule, so file order is commit order and a crashed
    write leaves only a dir no line names. (On a real deployment this is
    an Iceberg table written with snapshot-per-stage commits; JSONL keeps
    the sandbox dependency-free while preserving the exact protocol.)"""

    def __init__(self, workdir: str):
        os.makedirs(workdir, exist_ok=True)
        self.path = os.path.join(workdir, "manifest.jsonl")

    def committed(self, stage: str) -> str | None:
        """The dir the stage's last committed line names (any run —
        resume crosses runs), or None when there is none or it vanished
        (→ recompute)."""
        if not os.path.exists(self.path):
            return None
        with open(self.path) as f:
            rows = [r for r in map(json.loads, filter(str.strip, f))
                    if r["stage"] == stage and r["status"] == "committed"]
        path = json.loads(rows[-1]["payload"]).get("path") if rows else None
        return path if path and os.path.exists(path) else None

    def commit(self, stage: str, rows: int, partitions: int, payload: dict | None = None) -> None:
        append_log(self.path, lambda: {
            "stage": stage,
            "status": "committed",
            "rows": int(rows),
            "partitions": int(partitions),
            "payload": json.dumps(payload or {}),
        })


def write_report_csv(report: DataFrame, path: str) -> None:
    """A6: the small final report → one CSV (coalesce(1) is safe: report
    cardinality is O(#metrics × #properties), thousands at most)."""
    report.coalesce(1).write.mode("overwrite").option("header", True).csv(path)


def write_report_json(report: DataFrame, path: str) -> None:
    report.coalesce(1).write.mode("overwrite").json(path)
