"""Plan capture: write explain("formatted") for a set of queries to
plans/<subdir>/<query>_<tag>.txt (a plan change's before/after evidence).

Usage:
    python tools_plans.py <subdir> before [name1,name2,...]
    python tools_plans.py <subdir> after  [name1,name2,...]

With no name list, captures every HEADLINE + CURATION query from bench.py.
Plan construction is job-free by repo pin, so this never executes queries —
do NOT pass streaming queries (their query functions run the stream to
completion; their evidence is the StreamingQueryProgress decomposition
from tools_r15_streamprof.py instead).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

from bench import CURATION, HEADLINE
from stockmarket_bigdata_project_spark import registry
from stockmarket_bigdata_project_spark.session import get_spark

PLANS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans")


def main() -> None:
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    out_dir = os.path.join(PLANS_DIR, sys.argv[1])
    tag = sys.argv[2]
    names = HEADLINE + CURATION
    if len(sys.argv) > 3:
        names = [n for n in sys.argv[3].split(",") if n]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="plan-capture")
    queries = registry.all_queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(buf.getvalue())
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    main()
