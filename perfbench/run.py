"""KG-construction benchmark.

    python3 perfbench/run.py --workload chat_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  The benchmark generates the workload's
seeded inputs (cached under perfbench/.cache), starts the program's Spark
session on local[<usable cores>] and drives the KG chain one public layer
call at a time (chain.py): one cold KG build, then PageRank reads and delta
batches in turn -- at least STEPS of each, and more until --seconds
have passed since the build started.  Every output is checked against the
reference oracle between the timed calls; a mismatch is a failed
operation, and a layer call that raises fails the run.

--trace 0 prints the end-to-end metrics.  --trace 1 records Spark's event
log for one build and STEPS steps, repeats the steps untraced in a
fresh session to size the tracing overhead, and prints the per-layer
metrics.  The last stdout line is the result JSON; the line before it
carries the environment stamp and the raw samples.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
PACKAGE = "uk_ner_presidio_demo_spark"
SETUPS = 3
# PageRank/delta steps after the build: at least STEPS in a timed run,
# exactly STEPS in the traced run
STEPS = 3


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> dict[int, float]:
    """VmHWM (MB) of this process and each of its descendants (the JVM and
    the Python workers it forked)."""
    return {pid: _vm_hwm_kb(pid) / 1024.0
            for pid in [os.getpid(), *_descendants()]}


def stamp(cores: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        try:
            commit = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=30,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            commit = None
    h = hashlib.sha256()
    for f in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(f.relative_to(ROOT).as_posix().encode())
        h.update(f.read_bytes())
    return {
        "nproc": os.cpu_count(), "local_cores": cores,
        "spark": pyspark.__version__, "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "python": sys.version.split()[0],
        "commit": commit, "source_sha256": h.hexdigest(),
    }


# --- session -----------------------------------------------------------------

def start_session(cores: int, work: Path, event_dir: Path | None):
    from uk_ner_presidio_demo_spark.session import get_spark

    conf = {
        "spark.local.dir": str(work / "local"),
        "spark.ui.showConsoleProgress": "false",
        # the inputs are small; a bounded heap keeps the JVM's footprint,
        # and so peak_rss_mb, from tracking lazy heap growth
        "spark.driver.memory": "2g",
    }
    # set either way: the session builder keeps options across sessions
    conf["spark.eventLog.enabled"] = str(event_dir is not None).lower()
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.dir": str(event_dir),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app_name="perfbench", cores=cores, extra_conf=conf)


def _warm_worker(batches):
    """Imports the detection semantics and compiles its recognizers."""
    from uk_ner_presidio_demo_spark.semantics.detect import (
        detect_mentions_batch,
    )

    detect_mentions_batch(["Іван Петренко, ivan@example.com"])
    yield from batches


def warm_up(spark, cores: int) -> None:
    """Start one Python worker per core (pandas/pyarrow and the detection
    kernels imported, regexes compiled)."""
    (spark.range(cores * 4).repartition(cores)
     .mapInPandas(_warm_worker, "id long")
     .write.format("noop").mode("overwrite").save())


# --- oracle checks -----------------------------------------------------------

TRIPLE_COLS = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def _triple_set(pdf) -> set[tuple]:
    return set(zip(pdf["conv_id"], pdf["turn_idx"].astype("int64"),
                   pdf["subj"], pdf["pred"], pdf["obj"]))


class Checks:
    """Compares written outputs with the oracle's; every comparison is one
    attempted operation, a mismatch one failed operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.matched = 0
        self.engine_rows = 0
        self.oracle_rows = 0
        self.notes: list[str] = []

    def _record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
            print(f"oracle mismatch: {what}", file=sys.stderr)

    def triples(self, engine_df, golden, what: str) -> None:
        eng = _triple_set(engine_df.select(*TRIPLE_COLS).toPandas())
        gold = _triple_set(golden)
        both = len(eng & gold)
        self.matched += both
        self.engine_rows += len(eng)
        self.oracle_rows += len(gold)
        self._record(eng == gold, f"{what}: {len(eng - gold)} extra, "
                                  f"{len(gold - eng)} missing")

    def equal(self, got, want, what: str) -> None:
        self._record(got == want, f"{what}: got {got}, want {want}")

    @property
    def precision(self) -> float:
        return self.matched / self.engine_rows if self.engine_rows else 1.0

    @property
    def recall(self) -> float:
        return self.matched / self.oracle_rows if self.oracle_rows else 1.0


# --- the measured work --------------------------------------------------------

class Round:
    """One cold KG build, then alternating PageRank reads and delta batches
    over the built graph; every output is checked against the oracle
    between the timed calls."""

    def __init__(self, spark, inputs, checks: Checks, rec, out: Path) -> None:
        from uk_ner_presidio_demo_spark.sources.tables import read_aliases

        self.spark, self.inputs, self.checks, self.rec = (
            spark, inputs, checks, rec)
        self.aliases = read_aliases(spark)
        self.out = out
        self.build_s = 0.0
        self.rank_s: list[float] = []
        self.delta_s: list[float] = []
        self.built: dict = {}
        self.deltas: list[dict] = []
        self.expected_obs = 0
        self.golden = inputs.golden("base_ctriples")

    def build(self) -> None:
        """scan -> canonical triples, then the standing snapshot."""
        import chain

        transcripts = chain.read_transcripts(self.spark, self.inputs.base)
        t0 = time.perf_counter()
        self.built = chain.kg_build(self.rec, transcripts, self.aliases,
                                    self.out / "build")
        self.build_s = time.perf_counter() - t0
        self.checks.triples(self.built["ctriples"], self.golden,
                            "canonical triples")
        self.start_snapshot()

    def start_snapshot(self) -> None:
        """Seed the standing edge snapshot (version 0) with the built
        canonical triples."""
        import chain

        chain.publish_snapshot(self.rec, self.out / "snapshot",
                               self.built["ctriples"], 0)
        self.expected_obs = self.built["ctriples"].count()

    def rank(self) -> None:
        import chain

        t0 = time.perf_counter()
        ranks = chain.rank(self.rec, self.built["ctriples"],
                           self.out / f"rank-{len(self.rank_s)}")
        self.rank_s.append(time.perf_counter() - t0)
        nodes = set(self.golden["subj"]) | set(self.golden["obj"])
        self.checks.equal(ranks.count(), len(nodes), "pagerank node count")

    def delta(self) -> None:
        """Fold the next delta batch (the workload's batches in turn) into
        the standing snapshot; the latency runs from landing (the batch
        file is written) to snapshot publish."""
        import chain

        k = len(self.delta_s)
        i = k % len(self.inputs.meta["delta_turns"])
        t0 = time.perf_counter()
        d = chain.delta_batch(
            self.rec, chain.read_transcripts(self.spark, self.inputs.delta(i)),
            self.built["canon"], self.out / "snapshot", k + 1,
            self.out / f"delta-{k:03d}")
        self.delta_s.append(time.perf_counter() - t0)
        self.checks.triples(d["triples"], self.inputs.golden(
            f"delta-{i:03d}_triples"), f"delta {k} triples")
        self.expected_obs += d["ctriples"].count()
        self.deltas.append(d)

    def finish(self):
        """Check that the snapshot conserved every observation; returns it."""
        from pyspark.sql import functions as F
        from uk_ner_presidio_demo_spark.streaming.edge_maintenance import (
            read_snapshot,
        )

        snap = read_snapshot(self.spark, self.out / "snapshot")
        self.checks.equal(snap.agg(F.sum("n_obs")).first()[0],
                          self.expected_obs,
                          "snapshot sum(n_obs) conservation")
        return snap


# --- per-layer counts of the traced run ----------------------------------------

def layer_counts(rnd: Round, snapshot, inputs) -> dict[str, float]:
    from pyspark.sql import functions as F
    from uk_ner_presidio_demo_spark.operators.canonicalize import (
        CC_LOCAL_MAX_EDGES,
    )
    from uk_ner_presidio_demo_spark.operators.graph import PR_LOCAL_MAX_EDGES

    b, deltas = rnd.built, rnd.deltas

    def total(key: str) -> int:
        return b[key].count() + sum(d[key].count() for d in deltas)

    n_batches = len(inputs.meta["delta_turns"])
    turns_in = inputs.meta["base_turns"] + sum(
        inputs.meta["delta_turns"][k % n_batches] for k in range(len(deltas)))
    cc_edges = b["link_edges"].count()
    rank_edges = b["ctriples"].select("subj", "obj").distinct().count()
    inc_rows = sum(d["inc_canon"].count() for d in deltas)
    inc_prov = sum(d["inc_canon"].filter(F.col("provisional")).count()
                   for d in deltas)
    return {
        "detect.turns_in": turns_in,
        "detect.rejected": turns_in - total("detected"),
        "detect.mentions_out": total("mentions"),
        "triples.rows_out": total("triples"),
        "link.nodes_out": b["link_nodes"].count(),
        "link.edges_out": cc_edges,
        "canon.cc_edges": cc_edges,
        "canon.cc_distributed": float(cc_edges > CC_LOCAL_MAX_EDGES),
        "canon.components": b["canon"].select("canonical_id").distinct()
        .count(),
        "ctriples.rows_out": total("ctriples"),
        "rank.edges_in": rank_edges,
        "rank.distributed": float(rank_edges > PR_LOCAL_MAX_EDGES),
        "inc_canon.provisional_share": inc_prov / inc_rows if inc_rows else 0.0,
        "merge.snapshot_rows": snapshot.count(),
    }


def oracle_control(inputs, n_turns: int = 1000) -> float:
    """Single-process reference-oracle throughput on a fixed slice of the
    base corpus: a host-speed control for the traced run."""
    import pandas as pd
    from uk_ner_presidio_demo_spark.oracle.reference_oracle import run_oracle

    base = pd.read_parquet(inputs.base).sort_values(["conv_id", "turn_idx"])
    sl = base.head(n_turns)
    t0 = time.perf_counter()
    run_oracle(sl)
    return len(sl) / (time.perf_counter() - t0)


# --- main ----------------------------------------------------------------------

def _metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def stop_spark() -> None:
    """Stop the active session, then the JVM, and wait until every process
    this run started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def measure(args, work: Path) -> dict:
    import chain
    import eventlog
    import workloads

    cores = len(os.sched_getaffinity(0))
    inputs = workloads.materialize(args.workload, args.seed, BENCH / ".cache")
    checks = Checks()
    event_dir = work / "eventlog" if args.trace else None

    # set-up: session start + Python-worker warm-up, several times; the
    # traced run needs only the one session that records the event log
    setup_s, spark = [], None
    for _ in range(1 if args.trace else SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(cores, work, event_dir)
        warm_up(spark, cores)
        setup_s.append(time.perf_counter() - t0)

    # one cold build, then PageRank reads and delta batches in turn until
    # --seconds have passed since the build started; the traced run does a
    # fixed STEPS of them so its per-layer totals stay comparable
    rnd = Round(spark, inputs, checks, chain.Recorder(spark), work / "round")
    t0 = time.perf_counter()
    rnd.build()
    while len(rnd.delta_s) < STEPS or (
            not args.trace and time.perf_counter() - t0 < args.seconds):
        rnd.rank()
        rnd.delta()
    snapshot = rnd.finish()
    rss = peak_rss_mb()
    rounds = [rnd]

    layer, info = {}, {}
    if args.trace:
        layer = layer_counts(rnd, snapshot, inputs)
        spans = [dict(s.__dict__) for s in rnd.rec.spans]
        app_id = spark.sparkContext.applicationId
        # tracing overhead: the same rank/delta steps, untraced, in a fresh
        # session over the graph the traced build wrote
        spark.stop()
        spark = start_session(cores, work, None)
        warm_up(spark, cores)
        untraced = Round(spark, inputs, checks, chain.Recorder(spark),
                         work / "untraced")
        untraced.built = {k: spark.read.parquet(str(rnd.out / "build" / k))
                          for k in ("ctriples", "canon")}
        untraced.start_snapshot()
        for _ in range(STEPS):
            untraced.rank()
            untraced.delta()
        untraced.finish()
        rounds.append(untraced)
        layer["trace.overhead_s"] = (
            sum(rnd.rank_s) + sum(rnd.delta_s)
            - sum(untraced.rank_s) - sum(untraced.delta_s))
        (log,) = [p for p in event_dir.iterdir() if p.name.endswith(app_id)]
        layer.update(eventlog.span_metrics(eventlog.read_events(log), spans))
        walls = {n: layer[f"{n}.wall_s"] for n in {s["name"] for s in spans}}
        info["span_wall_share"] = {n: w / sum(walls.values())
                                   for n, w in sorted(walls.items())}
        layer["control.oracle_turns_per_s"] = oracle_control(inputs)
    stop_spark()

    info.update({
        "workload": args.workload, "seed": args.seed,
        "input_sha256": inputs.meta["content_sha256"],
        "stamp": stamp(cores),
        "setups_s": setup_s, "build_s": rnd.build_s, "ranks_s": rnd.rank_s,
        "deltas_s": rnd.delta_s, "rss_mb": sorted(rss.values(), reverse=True),
        "oracle_notes": checks.notes,
    })
    print(json.dumps({"info": info}), flush=True)

    attempted = checks.attempted + sum(len(r.rec.spans) for r in rounds)
    if args.trace:
        per_layer = json.loads(
            (ROOT / "BENCHMARK.json").read_text())["per_layer"]
        metrics = {m["name"]: _metric(layer.get(m["name"], 0.0), m["unit"])
                   for m in per_layer}
    else:
        metrics = {
            "setup_s": _metric(statistics.median(setup_s), "s"),
            "kg_build_s": _metric(rnd.build_s, "s"),
            "rank_s": _metric(statistics.median(rnd.rank_s), "s"),
            "delta_p50_s": _metric(statistics.median(rnd.delta_s), "s"),
            "peak_rss_mb": _metric(sum(rss.values()), "MB"),
            "triple_precision": _metric(checks.precision, "ratio"),
            "triple_recall": _metric(checks.recall, "ratio"),
            "op_success_rate": _metric(1 - checks.failed / attempted,
                                       "ratio"),
        }
    return {"correct": checks.failed == 0, "attempted": attempted,
            "failed": checks.failed, "metrics": metrics}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").exists():
        print(f"no {PACKAGE} package under {ROOT}: run from a checkout of "
              "the program", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.SHAPES:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.SHAPES)}", file=sys.stderr)
        return 2

    work = BENCH / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    (work / "local").mkdir()
    # Keep every temporary file (py4j handshake, JVM native-library
    # extraction and perf data, Spark blocks) inside the checkout; the
    # launcher JVM, the driver JVM and the workers all inherit this.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={work / 'tmp'}") if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), str(BENCH), os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = None
    try:
        result = measure(args, work)
    except Exception:
        # a layer call that raises fails the run: no result is printed
        traceback.print_exc()
        return 1
    finally:
        if "pyspark" in sys.modules:
            stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.path[:0] = [str(ROOT), str(BENCH)]
    sys.exit(main())
