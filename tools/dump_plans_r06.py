"""Dump .explain('formatted') output for the headline queries to
plans/r06/<query>_<tag>.txt (tag = before/after). Usage:
    python tools/dump_plans_r06.py before [sf_dir]
"""
from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["SPARK_GRAFT_STAGE_CACHE"] = "0"


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from dpo_ocr_spark.session import get_spark

    import __spark_entry__ as E
    import bench

    spark = get_spark("plans_r06", cpus=8)
    qs = E.queries()
    # the two pipeline phases timed by bench.py, expressed as the same
    # DataFrames bench builds (scan of the staged corpus is replaced by
    # the sf-dir build: plan shape of the extract/assemble stages is
    # identical; the staged-scan variant differs only in its source node)
    from dpo_ocr_spark.assemble import assemble_blocks, explode_tokens
    from dpo_ocr_spark.pipeline import run_extraction

    extracted = run_extraction(spark, sf_dir)
    extras = {
        "extract_pipeline": extracted,
        "assemble_pipeline": assemble_blocks(explode_tokens(extracted)),
    }
    for name in bench.HEADLINE:
        extras[name] = qs[name](spark, sf_dir)
    for name, df in extras.items():
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(ROOT, "plans", "r06", f"{name}_{tag}.txt"), "w") as f:
            f.write(txt)
        print(name, "->", f"plans/r06/{name}_{tag}.txt")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
