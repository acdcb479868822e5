"""Staged KG-construction pipeline: documents → mentions → linked →
canonicalized triples, each stage committed to the manifest (E6/E7).

Commit rule (the one sources/snapshots.py defines): a stage writes a fresh
dir under its stage path, ``<workdir>/triples.parquet/<commit id>/``, then
one durable manifest line names it. A run killed mid-write leaves only an
unnamed dir; resume reads the dir a stage's last line names — the sandbox
rendering of "resume from the last committed Iceberg snapshot"
(north_rule). Committing or resuming a stage removes every other entry
under its stage path (a superseded commit, a crashed run's dir), so a
finished workdir holds one dir per stage. One writer per workdir.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from shacl_dqa_prototype_spark.datagen import P_SAME_AS
from shacl_dqa_prototype_spark.operators.connected_components import (
    canonicalize_triples,
    connected_components,
)
from shacl_dqa_prototype_spark.operators.extract import extract_mentions
from shacl_dqa_prototype_spark.operators.link import link_mentions, mentions_to_triples
from shacl_dqa_prototype_spark.schemas import MENTIONS_SCHEMA, TRIPLES_SCHEMA
from shacl_dqa_prototype_spark.sources.sinks import Manifest, write_triples
from shacl_dqa_prototype_spark.sources.snapshots import dir_writer


@dataclass
class PipelineResult:
    triples_path: str  # the committed materialize dir
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

    ``stop_after`` simulates a crash after the named stage commits (for
    resume tests)."""
    manifest = Manifest(workdir)
    run, resumed = [], []
    stage_seconds: dict[str, float] = {}

    def stage(name: str, dirname: str, compute,
              write=lambda df, path: dir_writer(df).parquet(path)) -> str:
        """The committed dir of stage ``name``: resumed or written."""
        root = os.path.join(workdir, dirname)
        path = manifest.committed(name) if resume else None
        # a dir outside the stage path (an older fixed-path layout) is
        # recomputed: the clean-up below would empty it
        if path and os.path.dirname(path) == root:
            resumed.append(name)
        else:
            t0 = time.time()
            path = os.path.join(root, uuid.uuid4().hex[:16])
            # Manifest counters ride the write job via observe() — zero
            # extra actions per stage (a per-stage count() would double
            # the job count).
            obs = Observation(f"stage:{name}")
            write(compute().observe(obs, F.count(F.lit(1)).alias("rows")),
                  path)
            # partition count from the written files — pure metadata, no job
            n_parts = sum(
                1 for _, _, files in os.walk(path)
                for f in files if f.endswith(".parquet")
            )
            manifest.commit(name, rows=obs.get["rows"] or 0,
                            partitions=n_parts, payload={"path": path})
            stage_seconds[name] = round(time.time() - t0, 2)
            run.append(name)
        for other in (os.path.join(root, e) for e in os.listdir(root)):
            if other != path:
                (shutil.rmtree if os.path.isdir(other) else os.remove)(other)
        if stop_after == name and name in run:
            raise InterruptedError(f"simulated crash after stage {name}")
        return path

    # read back with the stage's known schema: a schema-less read costs
    # one footer-inference job per stage
    mentions = spark.read.schema(MENTIONS_SCHEMA).parquet(
        stage("extract", "mentions.parquet",
              lambda: extract_mentions(documents)))

    linked = spark.read.schema(TRIPLES_SCHEMA).parquet(stage(
        "link", "linked_triples.parquet",
        lambda: mentions_to_triples(link_mentions(mentions, dictionary)),
    ))

    # Equivalence edges for canonicalization come from sameAs triples.
    ccmap = spark.read.schema("node string, component string").parquet(stage(
        "canonicalize", "cc_mapping.parquet",
        lambda: connected_components(
            linked.filter(F.col("p") == P_SAME_AS).select(
                F.col("s").alias("src"), F.col("o").alias("dst")
            )
        ),
    ))

    triples_path = stage(
        "materialize", "triples.parquet",
        lambda: canonicalize_triples(
            linked.filter(F.col("p") != P_SAME_AS), ccmap
        ),
        write=lambda df, path: write_triples(df, path, n_buckets),
    )

    return PipelineResult(triples_path, run, resumed, stage_seconds)
