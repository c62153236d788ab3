"""Static plan audit over the query catalog.

Per entry it prints one summary line from ``explain("formatted")``:
per-table parquet scan counts (the fork-rescan hazard), Exchange
count, join strategies, Python-boundary nodes and top-k nodes.  It
can also dump the formatted plan of named entries to
``<out>/<name>_<tag>.txt``.

Usage::

  python -m flo_spark.plans.audit --out DIR [--sf DIR] \
      [--dump NAME ...] [--tag before|after] [--only NAME ...]

Entries that localCheckpoint/persist execute those stages at build
time, so run at a small SF unless measuring bench scale, and never
concurrently with pytest or the bench.
"""

from __future__ import annotations

import argparse
import os
import re
from collections import Counter

from flo_spark.plans.explain import explain_str


def summarize(plan: str) -> dict:
    scans = Counter(re.findall(r"Location:.*?/(\w+)\.parquet", plan))
    return {
        "scans": dict(scans),
        "max_rescan": max(scans.values(), default=0),
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "smj": len(re.findall(r"SortMergeJoin", plan)),
        "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
        "shj": len(re.findall(r"ShuffledHashJoin", plan)),
        "bnl": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
        "cart": len(re.findall(r"CartesianProduct", plan)),
        "py": len(
            re.findall(
                r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|FlatMapGroupsInPandas",
                plan,
            )
        ),
        "top": len(re.findall(r"TakeOrderedAndProject", plan)),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="python -m flo_spark.plans.audit")
    ap.add_argument("--out", required=True, help="directory for plan dumps")
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--dump", nargs="*", default=[])
    ap.add_argument("--tag", default="before")
    ap.add_argument("--only", nargs="*", default=None)
    args = ap.parse_args(argv)

    from flo_spark.queries import queries
    from flo_spark.session import get_spark

    spark = get_spark("plan_audit")
    qmap = queries()
    names = args.only if args.only else list(qmap)
    os.makedirs(args.out, exist_ok=True)
    for name in names:
        try:
            plan = explain_str(qmap[name](spark, args.sf))
            s = summarize(plan)
            print(
                f"{name}\tmax_rescan={s['max_rescan']}\tscans={s['scans']}\t"
                f"ex={s['exchanges']}\tsmj={s['smj']}\tbhj={s['bhj']}\t"
                f"shj={s['shj']}\tbnl={s['bnl']}\tcart={s['cart']}\t"
                f"py={s['py']}\ttop={s['top']}",
                flush=True,
            )
            if name in args.dump:
                path = os.path.join(args.out, f"{name}_{args.tag}.txt")
                with open(path, "w") as fh:
                    fh.write(plan)
        except Exception as e:  # streaming entries etc.
            print(f"{name}\tERROR\t{type(e).__name__}: {e}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
