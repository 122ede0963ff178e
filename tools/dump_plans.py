"""Dump the formatted physical plans of the headline benchmark queries.

With no arguments, write PLANS.md (generated on demand, not kept in
git): the formatted physical plan of every headline benchmark query at
sf0.1 — the at-a-glance evidence that each plan has the shape the scale
design calls for (broadcasts on dimension joins, TakeOrderedAndProject
for top-k, PushedFilters at the scan, bounded exchange counts,
WholeStageCodegen spans over the hot expressions).

With arguments, write one `.explain("formatted")` file per query for a
before/after comparison: plans/<round>/<query>_<tag>.txt for each named
query (default: all headline BENCH_QUERIES).

Usage:
    python tools/dump_plans.py                                 # PLANS.md
    python tools/dump_plans.py <round> before|after [query ...]

Both modes read the dataset at $SPARK_GRAFT_SF_DIR (default: sf0.1).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def _formatted_plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().rstrip()


def main() -> None:
    args = sys.argv[1:]
    if args and len(args) < 2:
        sys.exit(__doc__)
    from bench import BENCH_QUERIES
    from datafusion_loki_spark.session import get_spark

    import __spark_entry__ as entrymod

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    queries = entrymod.queries()
    spark = get_spark(app_name="_".join(["dump_plans", *args[:2]]))
    if args:
        round_, tag, names = args[0], args[1], args[2:]
        out_dir = os.path.join(ROOT, "plans", round_)
        os.makedirs(out_dir, exist_ok=True)
        for name in names or BENCH_QUERIES:
            path = os.path.join(out_dir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(_formatted_plan(queries[name](spark, sf_dir)) + "\n")
            print("wrote", path)
    else:
        out = [
            "# PLANS — headline-query physical plans",
            "",
            f"Auto-generated by `tools/dump_plans.py` at `{sf_dir}`; regenerate",
            "after changing any operator. Gates over these properties live in",
            "`tests/test_plans.py`.",
            "",
        ]
        for name in BENCH_QUERIES:
            plan = _formatted_plan(queries[name](spark, sf_dir))
            out.append(f"## {name}\n\n```\n{plan}\n```\n")
        with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
            f.write("\n".join(out))
        print(f"PLANS.md written ({len(BENCH_QUERIES)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
