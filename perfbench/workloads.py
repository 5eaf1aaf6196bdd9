"""Seeded benchmark inputs and their oracle expectations.

Each workload is a base corpus (built into a KG) plus a stream of small
delta batches (new conversations folded into that KG).  Inputs are pure
functions of (workload, seed); they are written once per (workload, seed)
under `perfbench/.cache/`, together with the reference oracle's expected
outputs and a content hash of the generated frames.  The program only
ever sees the written parquet.
"""

from __future__ import annotations

import hashlib
import json
import random
import shutil
import zlib
from dataclasses import dataclass
from pathlib import Path

import pandas as pd
import pyarrow as pa

from uk_ner_presidio_demo_spark.data.synth import synth_transcripts
from uk_ner_presidio_demo_spark.semantics.gazetteer import GAZETTEER

CACHE_VERSION = 1
BASE_BUCKETS = 8
# Written explicitly: an all-null `tool` column would otherwise be stored
# with a null/int physical type the transcripts schema cannot read.
PARQUET_SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])


@dataclass(frozen=True)
class Shape:
    """Input sizes of one workload."""

    base: int             # base conversations
    deltas: int           # distinct delta batches (the steps cycle them)
    delta_convs: int      # conversations per delta batch


# Sized so that one whole run (cold JVM start, set-ups, build, steps and
# oracle checks) stays under a minute on a 4-CPU host.
SHAPES = {
    "chat_batch": Shape(base=200, deltas=3, delta_convs=6),
    "entity_dense": Shape(base=150, deltas=3, delta_convs=6),
}


# --- generators ---------------------------------------------------------------

def _as_transcripts(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reset_index(drop=True)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def _chat(seed: int, shape: Shape) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Base: the synth corpus shape (hot conversation, celebrity skew, ~2%
    rejects).  Deltas: conversations from a second synth stream whose
    phone/IBAN/IP/URL pools differ, so batches carry unseen entities; its
    hot conversation is dropped so every batch stays small."""
    base = synth_transcripts(shape.base, seed)
    stream = synth_transcripts(1 + shape.deltas * shape.delta_convs,
                               seed * 7919 + 1)
    stream = stream[stream["conv_id"] != "conv_000000"].copy()
    stream["conv_id"] = "delta_" + stream["conv_id"].str[5:]
    convs = sorted(stream["conv_id"].unique())
    deltas = []
    for i in range(shape.deltas):
        ids = set(convs[i * shape.delta_convs:(i + 1) * shape.delta_convs])
        deltas.append(_as_transcripts(stream[stream["conv_id"].isin(ids)]))
    return _as_transcripts(base), deltas


_PERS = sorted(s for s, (t, _) in GAZETTEER.items() if t == "PERS")
_LETTERS = "abcdefghijklmnopqrstuvwxyz"
_VARIANTS = 8


def _one_char_variants(rng: random.Random, head: str, tail: str,
                       alphabet: str) -> list[str]:
    """`_VARIANTS` distinct strings, each `head` with one character
    replaced, followed by `tail`."""
    out = {head + tail}
    while len(out) < _VARIANTS:
        i = rng.randrange(len(head))
        out.add(head[:i] + rng.choice(alphabet) + head[i + 1:] + tail)
    return sorted(out)


def _dense_clusters(rng: random.Random, n: int) -> list[list[str]]:
    """`n` near-duplicate clusters per channel type (email, URL, phone)."""
    clusters = []
    for c in range(n):
        local = "".join(rng.choice(_LETTERS) for _ in range(12))
        clusters.append(_one_char_variants(
            rng, local, f"@mail{c % 97}.example.com", _LETTERS))
        path = "".join(rng.choice(_LETTERS) for _ in range(10))
        clusters.append(_one_char_variants(
            rng, f"https://site{c}.ua/{path}", "", _LETTERS))
        digits = "".join(rng.choice("0123456789") for _ in range(9))
        clusters.append(_one_char_variants(
            rng, digits, "", "0123456789"))
    return clusters


def _dense_convs(rng: random.Random, clusters: list[list[str]], n_convs: int,
                 prefix: str) -> pd.DataFrame:
    """Short turns: a gazetteer PERS followed by one email, one URL and one
    phone, each a variant drawn from its cluster."""
    from datetime import datetime, timedelta

    base_ts = datetime(2025, 1, 1)
    emails, urls, phones = clusters[0::3], clusters[1::3], clusters[2::3]
    rows = []
    for ci in range(n_convs):
        conv_id = f"{prefix}_{ci:06d}"
        for ti in range(rng.randint(4, 8)):
            pers = rng.choice(_PERS)
            email = rng.choice(rng.choice(emails))
            url = rng.choice(rng.choice(urls))
            phone = "+380" + rng.choice(rng.choice(phones))
            text = f"{pers}: {email}, {url} , {phone}."
            rows.append((conv_id, ti, ("user", "assistant")[ti % 2], text,
                         None, base_ts + timedelta(hours=ci, seconds=30 * ti)))
    return _as_transcripts(pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"]))


def _dense(seed: int, shape: Shape) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    """Many near-duplicate channel clusters (one-character variants), so
    MinHash/LSH linking and connected components carry the build.  Deltas
    draw from the base clusters plus fresh ones (unseen entities)."""
    rng = random.Random(seed)
    n_clusters = max(1, shape.base * 6 * 3 // (3 * _VARIANTS))
    clusters = _dense_clusters(rng, n_clusters)
    base = _dense_convs(rng, clusters, shape.base, "dense")
    fresh = _dense_clusters(random.Random(seed * 7919 + 1),
                            max(1, n_clusters // 10))
    deltas = [
        _dense_convs(rng, clusters + fresh, shape.delta_convs, f"delta{i}")
        for i in range(shape.deltas)
    ]
    return base, deltas


GENERATORS = {"chat_batch": _chat, "entity_dense": _dense}


def generate(workload: str, seed: int, shape: Shape | None = None
             ) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
    return GENERATORS[workload](seed, shape or SHAPES[workload])


def content_hash(frames: list[pd.DataFrame]) -> str:
    h = hashlib.sha256()
    for df in frames:
        h.update(json.dumps(list(df.columns)).encode())
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()


# --- materialization ------------------------------------------------------------

@dataclass
class Inputs:
    root: Path
    meta: dict

    @property
    def base(self) -> Path:
        return self.root / "base"

    def delta(self, i: int) -> Path:
        return self.root / f"delta-{i:03d}"

    def golden(self, name: str) -> pd.DataFrame:
        return pd.read_parquet(self.root / "golden" / f"{name}.parquet")


def _write_bucketed(df: pd.DataFrame, out: Path, n: int) -> None:
    """Bucket by crc32(conv_id), as data.synth.ensure_transcripts does."""
    out.mkdir(parents=True)
    buckets = df["conv_id"].map(lambda c: zlib.crc32(c.encode()) % n)
    for b in range(n):
        df[buckets == b].to_parquet(out / f"part-{b:05d}.parquet",
                                    index=False, schema=PARQUET_SCHEMA)


def materialize(workload: str, seed: int, cache_root: Path) -> Inputs:
    """Generate (or reuse) the inputs and oracle expectations of
    (workload, seed)."""
    from uk_ner_presidio_demo_spark.oracle.reference_oracle import run_oracle

    shape = SHAPES[workload]
    root = cache_root / (f"{workload}-s{seed}-b{shape.base}d{shape.deltas}"
                         f"x{shape.delta_convs}-v{CACHE_VERSION}")
    if (root / "meta.json").exists():
        return Inputs(root, json.loads((root / "meta.json").read_text()))
    tmp = cache_root / f"_tmp-{workload}-s{seed}"
    shutil.rmtree(tmp, ignore_errors=True)
    base, deltas = generate(workload, seed)
    _write_bucketed(base, tmp / "base", BASE_BUCKETS)
    (tmp / "golden").mkdir()
    run_oracle(base)["golden_canonical_triples"].to_parquet(
        tmp / "golden" / "base_ctriples.parquet", index=False)
    for i, d in enumerate(deltas):
        _write_bucketed(d, tmp / f"delta-{i:03d}", 1)
        run_oracle(d)["golden_triples"].to_parquet(
            tmp / "golden" / f"delta-{i:03d}_triples.parquet", index=False)
    meta = {
        "workload": workload, "seed": seed, "cache_version": CACHE_VERSION,
        "content_sha256": content_hash([base, *deltas]),
        "base_convs": int(base["conv_id"].nunique()),
        "base_turns": len(base),
        "delta_turns": [len(d) for d in deltas],
    }
    (tmp / "meta.json").write_text(json.dumps(meta, indent=1))
    shutil.rmtree(root, ignore_errors=True)
    tmp.rename(root)
    return Inputs(root, meta)
