"""Dump full `.explain("formatted")` output for every bench query into
plans/r13/<key>_{before,after}.txt — the optimization-round evidence files.

Usage: python scripts/plan_dump_r13.py {before|after} [key ...]

With no keys, dumps the whole HEADLINE + TIER2 set. Plans are captured at
sf0.1 (the bench scale) so AQE thresholds and statistics match what the
bench runs; plan SHAPE is what the files document.
"""

import contextlib
import io
import os
import sys

sys.path.insert(0, os.environ.get("TFK_TREE", "/root/repo"))

from bench import HEADLINE, TIER2  # noqa: E402
from training_feed_kinesis_spark.registry import load_all  # noqa: E402
from training_feed_kinesis_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = "/root/repo/plans/r13"


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    assert suffix in ("before", "after"), suffix
    keys = sys.argv[2:] or (HEADLINE + TIER2)
    os.makedirs(OUT_DIR, exist_ok=True)
    spark = build_session("plan-dump-r13")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    for key in keys:
        if key not in reg:
            print(f"skip {key}: not registered")
            continue
        df = reg[key].fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(OUT_DIR, f"{key}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
