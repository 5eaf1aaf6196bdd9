"""The KG chain, driven from outside one public layer call at a time.

Every layer call runs inside a span: the span tags its Spark jobs with a
job group (so the event-log parser can attribute jobs to it), times the
call together with the parquet write that forces it, and the output is
read back from that parquet for the next layer -- the same cut
`plans.pipeline.KGPipeline._stage` makes.  `KGPipeline.run` can only read
the program's own sf-keyed corpus, so the benchmark composes the same
operator functions in the pipeline's stage order instead.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from uk_ner_presidio_demo_spark.operators.canonicalize import (
    canonical_nodes, canonical_triples, incremental_canonical_update,
)
from uk_ner_presidio_demo_spark.operators.detect import (
    anonymized_turns, detect_turns, mentions_from_turns,
)
from uk_ner_presidio_demo_spark.operators.graph import edge_rollup, pagerank
from uk_ner_presidio_demo_spark.operators.linking import link_entities
from uk_ner_presidio_demo_spark.operators.triples import emit_triples
from uk_ner_presidio_demo_spark.sources.tables import TRANSCRIPTS_SCHEMA
from uk_ner_presidio_demo_spark.streaming.edge_maintenance import (
    edge_merge_batch_fn,
)

PAGERANK_K = 8


@dataclass
class Span:
    name: str
    group: str    # the Spark job group of the span's jobs
    start: float  # epoch seconds
    end: float


@dataclass
class Recorder:
    """Keeps the spans of one run in memory."""

    spark: SparkSession
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        group = f"{len(self.spans):05d}.{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(Span(name, group, t0, t1))


def _write(df: DataFrame, path: Path) -> DataFrame:
    df.write.mode("overwrite").parquet(str(path))
    return df.sparkSession.read.parquet(str(path))


def read_transcripts(spark: SparkSession, path: Path) -> DataFrame:
    return spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(str(path))


def kg_build(rec: Recorder, transcripts: DataFrame, aliases: DataFrame,
             out: Path) -> dict[str, DataFrame]:
    """scan -> detect -> {mentions, anonymized} -> triples -> link ->
    canonical nodes -> canonical triples, each stage written to `out`."""
    with rec.span("detect"):
        detected = _write(detect_turns(transcripts), out / "detected")
    with rec.span("mentions"):
        mentions = _write(mentions_from_turns(detected), out / "mentions")
    with rec.span("anonymize"):
        _write(anonymized_turns(detected), out / "anonymized")
    with rec.span("triples"):
        triples = _write(emit_triples(transcripts, mentions), out / "triples")
    with rec.span("link"):
        nodes, edges = link_entities(mentions, aliases)
        nodes = _write(nodes, out / "link_nodes")
        edges = _write(edges, out / "link_edges")
    with rec.span("canon"):
        canon = _write(canonical_nodes(nodes, edges), out / "canon")
    with rec.span("ctriples"):
        ctriples = _write(canonical_triples(triples, canon).distinct(),
                          out / "ctriples")
    return {"detected": detected, "mentions": mentions, "triples": triples,
            "link_nodes": nodes, "link_edges": edges, "canon": canon,
            "ctriples": ctriples}


def rank(rec: Recorder, ctriples: DataFrame, out: Path) -> DataFrame:
    """edge_rollup + PageRank(k=8) over written canonical triples; the
    predicates of a (subj, obj) pair collapse into one weighted edge."""
    with rec.span("rank"):
        edges = edge_rollup(ctriples).groupBy("subj", "obj").agg(
            F.sum("n_obs").alias("n_obs"))
        return _write(pagerank(edges, k=PAGERANK_K), out)


def publish_snapshot(rec: Recorder, snap_root: Path, ctriples: DataFrame,
                     batch_id: int) -> None:
    with rec.span("merge"):
        edge_merge_batch_fn(snap_root)(ctriples, batch_id)


def delta_batch(rec: Recorder, transcripts: DataFrame, standing_canon: DataFrame,
                snap_root: Path, batch_id: int, out: Path
                ) -> dict[str, DataFrame]:
    """One arriving batch: detect -> mentions -> triples -> delta
    canonicalization against the standing canon -> canonical triples ->
    MERGE into the standing edge snapshot (publish = version rename)."""
    with rec.span("detect"):
        detected = _write(detect_turns(transcripts), out / "detected")
    with rec.span("mentions"):
        mentions = _write(mentions_from_turns(detected), out / "mentions")
    with rec.span("triples"):
        triples = _write(emit_triples(transcripts, mentions), out / "triples")
    with rec.span("inc_canon"):
        inc = _write(incremental_canonical_update(mentions, standing_canon),
                     out / "inc_canon")
    with rec.span("ctriples"):
        ctriples = _write(canonical_triples(triples, inc).distinct(),
                          out / "ctriples")
    publish_snapshot(rec, snap_root, ctriples, batch_id)
    return {"detected": detected, "mentions": mentions, "triples": triples,
            "inc_canon": inc, "ctriples": ctriples}

