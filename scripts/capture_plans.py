"""Capture .explain('formatted') for every registered bench query into
plans/<round>/<query>_<tag>.txt (round = argv[1], e.g. r16; tag =
before/after, argv[2], default 'before').

Methodology (optimization guide §1): the physical plan is the ground
truth the round's claims are checked against — Exchange count, join
strategy, PushedFilters/ReadSchema, WholeStageCodegen spans, and any
BatchEvalPython/ArrowEvalPython nodes. Queries whose construction runs
driver-side jobs (k-means fit collects, table-fixture builds) pay that
cost here too; the capture is not a timing run.

Usage: python scripts/capture_plans.py <round> [before|after] [only,names]
"""
from __future__ import annotations

import io
import os
import sys
import contextlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakeshed.session import get_spark
from lakeshed import queries as q
from lakeshed.llm import release_persisted

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans")


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    out = os.path.join(PLANS, "r" + sys.argv[1].lstrip("r"))
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    os.makedirs(out, exist_ok=True)
    spark = get_spark("lakeshed-plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    failures: list[str] = []
    for name, fn in q.spark_queries().items():
        if only is not None and name not in only:
            continue
        if name == "llm_embedding_neardup":  # bench SKIP: oracle-scale-only
            continue
        spark.sparkContext.setJobDescription(f"plan-capture: {name}")
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode="formatted")
            with open(os.path.join(out, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())
        except Exception as e:  # keep going; report at the end
            failures.append(f"{name}: {e!r}")
        finally:
            release_persisted()
    spark.sparkContext.setJobDescription(None)
    if failures:
        print("FAILED:\n" + "\n".join(failures), file=sys.stderr)
        sys.exit(1)
    print(f"captured plans -> {out} ({tag})")


if __name__ == "__main__":
    main()
