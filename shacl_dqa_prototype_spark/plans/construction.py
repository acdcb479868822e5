"""Staged KG-construction pipeline: documents → mentions → linked →
canonicalized triples, each stage committed to the manifest (E6/E7).

Resume protocol: a stage whose manifest row is committed and whose parquet
snapshot exists is NOT recomputed — the pipeline reads the snapshot and
continues. This is the sandbox rendering of "resume from the last committed
Iceberg snapshot" (north_rule); tests kill between stages and re-run.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.datagen import P_SAME_AS
from shacl_dqa_prototype_spark.operators.connected_components import (
    canonicalize_triples,
    connected_components,
)
from shacl_dqa_prototype_spark.operators.extract import extract_mentions
from shacl_dqa_prototype_spark.operators.link import link_mentions, mentions_to_triples
from shacl_dqa_prototype_spark.schemas import MENTIONS_SCHEMA, TRIPLES_SCHEMA
from shacl_dqa_prototype_spark.sources.sinks import Manifest, read_triples, write_triples


@dataclass
class PipelineResult:
    triples_path: str
    stages_run: list[str]
    stages_resumed: list[str]
    # wall seconds per executed stage (resumed stages absent) — the
    # scaling bench reports these so serial floors are attributable to a
    # stage, not guessed at from the end-to-end split
    stage_seconds: dict[str, float] | None = None


def run_construction(
    spark: SparkSession,
    documents: DataFrame,
    dictionary: DataFrame,
    workdir: str,
    n_buckets: int = 32,
    resume: bool = True,
    stop_after: str | None = None,
) -> PipelineResult:
    """Run (or resume) the full construction DAG.

    ``stop_after`` simulates a crash after the named stage (for resume
    tests). Each stage writes parquet + a manifest commit."""
    manifest = Manifest(workdir)
    run, resumed = [], []
    stage_seconds: dict[str, float] = {}

    def stage(name: str, compute, path: str, read, writer=None) -> DataFrame:
        import time as _time

        if resume and manifest.committed(name):
            resumed.append(name)
            return read()
        _t0 = _time.time()
        # Manifest counters ride the write job via observe() — zero extra
        # actions per stage (a per-stage count() would double the job count).
        from pyspark.sql import Observation

        obs = Observation(f"stage:{name}")
        df = compute().observe(obs, F.count(F.lit(1)).alias("rows"))
        if writer:
            writer(df)
        else:
            df.write.mode("overwrite").parquet(path)
        metrics = obs.get
        # partition count from the committed files — pure metadata, no job
        n_parts = sum(
            1 for root, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")
        )
        manifest.commit(name, rows=metrics["rows"] or 0, partitions=n_parts,
                        payload={"path": path})
        stage_seconds[name] = round(_time.time() - _t0, 2)
        run.append(name)
        if stop_after == name:
            raise InterruptedError(f"simulated crash after stage {name}")
        return read()

    def parquet(path: str, schema):
        # the stage's known schema: a schema-less read-back costs one
        # footer-inference job per stage
        return lambda: spark.read.schema(schema).parquet(path)

    mentions_path = os.path.join(workdir, "mentions.parquet")
    linked_path = os.path.join(workdir, "linked_triples.parquet")
    ccmap_path = os.path.join(workdir, "cc_mapping.parquet")
    triples_path = os.path.join(workdir, "triples.parquet")

    mentions = stage("extract", lambda: extract_mentions(documents),
                     mentions_path, parquet(mentions_path, MENTIONS_SCHEMA))

    linked = stage(
        "link",
        lambda: mentions_to_triples(link_mentions(mentions, dictionary)),
        linked_path,
        parquet(linked_path, TRIPLES_SCHEMA),
    )

    # Equivalence edges for canonicalization come from sameAs triples.
    ccmap = stage(
        "canonicalize",
        lambda: connected_components(
            linked.filter(F.col("p") == P_SAME_AS).select(
                F.col("s").alias("src"), F.col("o").alias("dst")
            )
        ),
        ccmap_path,
        parquet(ccmap_path, "node string, component string"),
    )

    stage(
        "materialize",
        lambda: canonicalize_triples(
            linked.filter(F.col("p") != P_SAME_AS), ccmap
        ),
        triples_path,
        lambda: read_triples(spark, triples_path),
        writer=lambda df: write_triples(df, triples_path, n_buckets),
    )

    return PipelineResult(triples_path, run, resumed, stage_seconds)
