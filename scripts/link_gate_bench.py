"""Where should entity linking switch from the driver to the cluster?
Measures `link_entities` on synthetic entity universes on both sides of
LINK_LOCAL_MAX_NODES: link wall time and driver memory, driver-local vs
distributed, at each universe size and surface profile.

Profiles (deterministic, built in Spark SQL from `range`):
  - `spread`: random-looking surfaces (md5 prefixes) over four entity
    types — almost no LSH candidates, so the cost is signatures + banding.
  - `near_dup`: clusters of 10 variants of one base surface (one suffix
    character apart, Jaccard ~0.85) — ~4.5 candidate pairs per entity,
    the density of the benchmark's entity_dense workload, so the
    pure-Python verify is in play.
Both carry a 1% alias dictionary (a `canon…` target per alias key).

Each (profile, size, strategy) leg runs in a fresh process with a 2g
driver heap, warm Python workers and one warm-up link, so driver
high-water marks do not carry over between legs.  Per leg:
  - `link_s`: link_entities + forcing both outputs (noop writes)
  - `py_driver_delta_mb`: growth of the driver Python process's VmHWM
    over the link — the memory the driver-local path costs
  - `tree_peak_mb`: summed VmHWM of the driver, the JVM and the Python
    workers (the benchmark's peak_rss_mb measure)
and the (nodes, edges) counts, which must agree between strategies.

Usage:
  python scripts/link_gate_bench.py [--sizes 10000,50000,...]
      [--profiles spread,near_dup] [--cores 4] [--out BENCH/link_gate.json]
prints one JSON line per leg and writes the table to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

CLUSTER = 10
ALIAS_EVERY = 100
TYPES = "array('EMAIL', 'URL', 'PERS', 'ORG')"


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tree_peak_mb() -> float:
    pids, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        pid = frontier.pop()
        try:
            with open(f"/proc/{pid}/task/{pid}/children") as f:
                kids = [int(k) for k in f.read().split()]
        except OSError:
            kids = []
        pids += kids
        frontier += kids
    return sum(_vm_hwm_mb(p) for p in pids)


def _universe(spark, profile: str, n: int):
    """(mentions, aliases) with exactly n distinct entities."""
    if profile == "spread":
        ent = (f"element_at({TYPES}, CAST(id % 4 AS INT) + 1)",
               "concat(substr(md5(CAST(id AS STRING)), 1, 14), '@', "
               "substr(md5(CAST(id * 7 AS STRING)), 1, 6), '.ua')")
    else:
        base = f"CAST(id DIV {CLUSTER} AS STRING)"
        ent = (f"element_at({TYPES}, CAST(id DIV {CLUSTER} % 4 AS INT) + 1)",
               f"concat(substr(md5({base}), 1, 16), '.', "
               f"CAST(id % {CLUSTER} AS STRING))")
    mentions = spark.range(n).selectExpr(
        f"{ent[0]} AS entity_type", f"{ent[1]} AS norm_surface")
    aliases = spark.range(0, n, ALIAS_EVERY).selectExpr(
        f"{ent[1]} AS alias_norm",
        "concat('canon', CAST(id AS STRING)) AS canonical_norm",
        f"{ent[0]} AS entity_type")
    return (mentions.localCheckpoint(eager=True),
            aliases.localCheckpoint(eager=True))


def _warm_worker(batches):
    from uk_ner_presidio_demo_spark.semantics import minhash  # noqa: F401

    yield from batches


def run_leg(profile: str, n: int, strategy: str, cores: int) -> dict:
    from uk_ner_presidio_demo_spark.operators.linking import link_entities
    from uk_ner_presidio_demo_spark.session import get_spark

    spark = get_spark(app_name="link-gate", cores=cores, extra_conf={
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false"})
    (spark.range(cores * 4).repartition(cores)
     .mapInPandas(_warm_worker, "id long")
     .write.format("noop").mode("overwrite").save())

    def link(m, a, gate):
        t0 = time.perf_counter()
        nodes, edges = link_entities(m, a, local_max_nodes=gate)
        for df in (nodes, edges):
            df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0, nodes, edges

    warm_m, warm_a = _universe(spark, profile, 1000)
    link(warm_m, warm_a, 1000 if strategy == "local" else -1)

    mentions, aliases = _universe(spark, profile, n)
    before = _vm_hwm_mb(os.getpid())
    link_s, nodes, edges = link(mentions, aliases,
                                n if strategy == "local" else -1)
    out = {
        "profile": profile, "n_entities": n, "strategy": strategy,
        "link_s": round(link_s, 3),
        "py_driver_delta_mb": round(_vm_hwm_mb(os.getpid()) - before, 1),
        "tree_peak_mb": round(_tree_peak_mb(), 1),
        "nodes": nodes.count(), "edges": edges.count(),
    }
    spark.stop()
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,50000,100000,200000,400000")
    ap.add_argument("--profiles", default="spread,near_dup")
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--out", default=str(ROOT / "BENCH" / "link_gate.json"))
    ap.add_argument("--leg", nargs=3, metavar=("PROFILE", "N", "STRATEGY"))
    args = ap.parse_args()
    if args.leg:
        profile, n, strategy = args.leg
        print(json.dumps(run_leg(profile, int(n), strategy, args.cores)))
        return

    legs = []
    for profile in args.profiles.split(","):
        for n in map(int, args.sizes.split(",")):
            for strategy in ("local", "distributed"):
                r = subprocess.run(
                    [sys.executable, __file__, "--cores", str(args.cores),
                     "--leg", profile, str(n), strategy],
                    capture_output=True, text=True, cwd=ROOT)
                lines = r.stdout.strip().splitlines()
                leg = (json.loads(lines[-1]) if r.returncode == 0 and lines
                       else {"profile": profile, "n_entities": n,
                             "strategy": strategy, "failed": r.returncode,
                             "stderr_tail": r.stderr[-400:]})
                print(json.dumps(leg), flush=True)
                legs.append(leg)
    Path(args.out).write_text(json.dumps({
        "cores": args.cores, "nproc": os.cpu_count(), "legs": legs},
        indent=1) + "\n")


if __name__ == "__main__":
    main()
