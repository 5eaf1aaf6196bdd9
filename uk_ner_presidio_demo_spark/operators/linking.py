"""Entity linking (stage 6): alias lookup (J-1) + MinHash/LSH candidate
blocking (J-2, F-8) with exact-Jaccard verification [north-rule].

Scale design (SURVEY.md §4.3):
  - linking operates on DISTINCT (entity_type, norm_surface) pairs, not on
    mentions — the entity universe is orders of magnitude smaller than the
    mention stream, and dedup happens in the same shuffle that feeds it
  - size-gated on that universe (LINK_LOCAL_MAX_NODES, the shared gate of
    operators/driver_local.py): a small universe comes to the driver in
    one bounded job, alias match, banding and verify run there on the same
    frozen kernels, and nodes/edges return as Arrow LocalTableScans — no
    band self-join, no Python worker.  Both strategies give identical
    (nodes, edges) row sets.
  - above the gate: the alias dictionary is explicitly `F.broadcast`
    (guaranteed broadcast hash join, never a shuffle); MinHash signatures
    are computed by an Arrow-vectorized pandas UDF over the distinct
    entities; band keys explode to (entity_type, band, hash) rows and
    candidate pairs come from an equi-join on the band key — the
    hand-rolled LSH SURVEY.md §2.3 J-2 prefers (deterministic, no ml-lib)
  - a<b ordering dedups pairs; exact Jaccard (shared kernel) verifies
"""

from __future__ import annotations

import zlib
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..semantics.minhash import (
    JACCARD_THRESHOLD, NUM_BANDS, band_keys, jaccard, shingles,
    minhash_signatures_batch,
)
from .driver_local import collect_if_small, local_frame

BAND_STRUCT = T.ArrayType(
    T.StructType(
        [T.StructField("band", T.IntegerType()),
         T.StructField("bhash", T.LongType())]
    )
)

# Size gate for linking: up to this many DISTINCT entities the driver
# links them; above it the broadcast join + band self-join + Arrow UDFs
# below run.  Set at the measured crossover (scripts/link_gate_bench.py,
# BENCH/link_gate.json; local[4], 4-CPU host): driver-local wins at 50k
# entities on both profiles (4.9 vs 5.8 s spread, 7.1 vs 11.5 s near-dup)
# and loses at 100k on spread surfaces (10.1 vs 6.9 s), where the
# single-threaded driver verify and signatures fall behind four cores.
# The driver's Python heap grows ~70 MB at the gate (~0.5 GB at 400k).
LINK_LOCAL_MAX_NODES = 50_000
# surfaces per driver-side signature batch: the Arrow batch size
# (spark.sql.execution.arrow.maxRecordsPerBatch) the band-key UDF sees
_KEY_BATCH = 10_000


def _surface_band_keys(surfaces) -> list[list[tuple[int, int]]]:
    # vectorized signatures (numpy Mersenne affine-min, bit-identical to
    # minhash_signature — semantics/minhash.py)
    hash_lists = [
        [zlib.crc32(g.encode("utf-8")) for g in shingles(s)]
        for s in surfaces
    ]
    return [band_keys(sig) for sig in minhash_signatures_batch(hash_lists)]


@pandas_udf(BAND_STRUCT)
def _band_keys_udf(surfaces: pd.Series) -> pd.Series:
    return pd.Series(_surface_band_keys(surfaces))


@pandas_udf(T.DoubleType())
def _jaccard_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([jaccard(x, y) for x, y in zip(a, b)])


def distinct_entities(mentions: DataFrame) -> DataFrame:
    return mentions.select("entity_type", "norm_surface").distinct()


def alias_match(ents: DataFrame, aliases: DataFrame) -> DataFrame:
    """J-1: the broadcast alias lookup — (entity_type, src, dst) edge rows
    for entities whose normalized surface appears in the dictionary."""
    return ents.join(
        F.broadcast(aliases),
        (ents.norm_surface == aliases.alias_norm)
        & (ents.entity_type == aliases.entity_type),
        "inner",
    ).select(
        ents.entity_type.alias("entity_type"),
        ents.norm_surface.alias("src"),
        aliases.canonical_norm.alias("dst"),
    )


def _local_link(ents: list, alias_rows: list
                ) -> tuple[list[tuple], list[tuple]]:
    """Driver-side J-1 + J-2 over the collected entity universe: the
    same (nodes, edges) row sets as the broadcast join, band self-join
    and Jaccard filter of the distributed path."""
    targets: dict[tuple, list] = {}
    for r in alias_rows:  # a multi-valued alias key yields every target
        targets.setdefault((r.entity_type, r.alias_norm), []).append(
            r.canonical_norm)
    alias_edges = {(t, s, d) for t, s in ents
                   for d in targets.get((t, s), ())}
    nodes = sorted({(t, s) for t, s in ents}
                   | {(t, d) for t, _, d in alias_edges})

    # band hashes one Arrow batch of surfaces at a time into an (n, bands)
    # array, then buckets one band at a time: the driver never holds every
    # signature or every band's buckets at once
    surfaces = [s for _, s in nodes]
    bhash = np.zeros((len(nodes), NUM_BANDS), dtype=np.int64)
    for i in range(0, len(nodes), _KEY_BATCH):
        bhash[i:i + _KEY_BATCH] = [
            [h for _, h in keys]
            for keys in _surface_band_keys(surfaces[i:i + _KEY_BATCH])]
    pairs: set[tuple] = set()
    for band in range(NUM_BANDS):
        buckets: dict[tuple, list] = {}
        for (t, s), h in zip(nodes, bhash[:, band].tolist()):
            buckets.setdefault((t, h), []).append(s)
        # nodes are sorted, so every bucket lists its surfaces ascending
        # and combinations() yields exactly the join's src < dst pairs
        pairs.update((t, a, b) for (t, _), members in buckets.items()
                     for a, b in combinations(members, 2))
    verified = {p for p in pairs if jaccard(p[1], p[2]) >= JACCARD_THRESHOLD}
    return nodes, sorted(alias_edges | verified)


def link_entities(mentions: DataFrame, aliases: DataFrame,
                  local_max_nodes: int = LINK_LOCAL_MAX_NODES
                  ) -> tuple[DataFrame, DataFrame]:
    """Returns (nodes, edges):
      nodes: (entity_type, norm_surface) — mention entities plus canonical
             targets of matched aliases (frozen node rule, oracle twin in
             oracle/reference_oracle.py:canonicalize)
      edges: (entity_type, src, dst) similarity edges (alias + verified LSH)

    Size-gated (LINK_LOCAL_MAX_NODES) on the distinct entity universe:
    small universes are linked driver-side, with identical row sets."""
    # The distinct entity universe is orders of magnitude smaller than the
    # mention stream; materialize it ONCE (localCheckpoint) so the multiple
    # downstream consumers (gate, alias match, band rows, node set, CC
    # joins) never re-run the detection lineage.
    ents = distinct_entities(mentions).localCheckpoint(eager=True)

    rows = collect_if_small(ents, local_max_nodes)
    if rows is not None:
        nodes, edges = _local_link(rows, aliases.collect())
        spark = ents.sparkSession
        return (
            local_frame(spark, nodes,
                        "entity_type string, norm_surface string"),
            local_frame(spark, edges,
                        "entity_type string, src string, dst string"),
        )

    # J-1: broadcast alias lookup
    matched = alias_match(ents, aliases)

    nodes = ents.unionByName(
        matched.select("entity_type", F.col("dst").alias("norm_surface"))
    ).distinct().localCheckpoint(eager=True)

    # J-2: LSH banding over the node set
    banded = nodes.withColumn(
        "bk", F.explode(_band_keys_udf("norm_surface"))
    ).select("entity_type", "norm_surface", "bk.band", "bk.bhash")

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.entity_type") == F.col("b.entity_type"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.norm_surface") < F.col("b.norm_surface")),
        )
        .select(
            F.col("a.entity_type").alias("entity_type"),
            F.col("a.norm_surface").alias("src"),
            F.col("b.norm_surface").alias("dst"),
        )
        .distinct()
    )
    verified = pairs.filter(_jaccard_udf("src", "dst") >= JACCARD_THRESHOLD)

    edges = matched.unionByName(verified).distinct()
    return nodes, edges
