"""Dump the formatted physical plans of the headline queries
(bench.HEADLINE) — the plan-quality audit artifact (broadcasts, pushed
filters, Arrow crossings and exchange counts are all visible per query).

    python scripts/dump_plans.py SF_DIR 2>/dev/null
        every headline query -> PLANS.md; regenerate after any operator
        change
    python scripts/dump_plans.py SF_DIR --tag before kg_pagerank ...
        the named queries -> plans/<tag>/<query>.txt, the before/after
        evidence of a plan-changing optimization

SF_DIR holds the parquet tables the queries read (e.g. an sf0.01 dir).
Plans come from the public `DataFrame.explain`."""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def explain(df, mode: str) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue().strip()


def summary(df) -> str:
    """Exchanges and Python stages, counted on the physical plan tree
    (the formatted text names each node twice and omits partitioning)."""
    tree = explain(df, "simple")
    n_sh = (tree.count("Exchange hashpartitioning")
            + tree.count("Exchange rangepartitioning")
            + tree.count("Exchange SinglePartition"))
    n_bc = tree.count("BroadcastExchange")
    n_py = (tree.count("MapInPandas") + tree.count("ArrowEvalPython")
            + tree.count("FlatMapCoGroupsInPandas"))
    return f"shuffles={n_sh}  broadcasts={n_bc}  python_stages={n_py}"


def write_plans_md(spark, qs, names, sf_dir: str) -> None:
    out = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `python scripts/dump_plans.py` at {Path(sf_dir).name};",
        "the plan-hygiene tests (tests/test_plan_hygiene.py) assert the",
        "properties these plans must keep (single Arrow crossing, broadcast",
        "joins, pushed filters, no cartesian products).",
        "",
        "Counting caveat: several operators `localCheckpoint` an expensive",
        "kernel output before a self-join (so it evaluates once, not twice);",
        "the checkpointed subplan — including its Python stage — is then",
        "invisible in the final query plan, so python_stages=0 can mean",
        "'kernel ran in the materialization job', not 'no Python'.",
        "",
    ]
    for name in names:
        df = qs[name](spark, sf_dir)
        out += [f"## {name}", "", summary(df), "", "```",
                explain(df, "formatted"), "```", ""]
    (ROOT / "PLANS.md").write_text("\n".join(out))
    print(f"PLANS.md written ({len(names)} queries)")


def write_tagged(spark, qs, names, sf_dir: str, tag: str) -> None:
    out_dir = ROOT / "plans" / tag
    out_dir.mkdir(parents=True, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        p = out_dir / f"{name}.txt"
        p.write_text(f"{summary(df)}\n\n{explain(df, 'formatted')}\n")
        print(f"wrote {p}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--tag", help="write plans/<tag>/<query>.txt instead "
                                  "of PLANS.md")
    ap.add_argument("queries", nargs="*",
                    help="default: every bench.HEADLINE query")
    args = ap.parse_intermixed_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from bench import HEADLINE, query_map
    from uk_ner_presidio_demo_spark.session import get_spark

    spark = get_spark(cores=int(os.environ["SPARK_GRAFT_CPUS"]))
    qs = query_map()
    names = args.queries or HEADLINE
    try:
        if args.tag:
            write_tagged(spark, qs, names, args.sf_dir, args.tag)
        else:
            write_plans_md(spark, qs, names, args.sf_dir)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
