"""Capture .explain('formatted') for named queries into plans/<tag>/<q>_<suffix>.txt.

Usage: python scripts/capture_plans.py <suffix> <query> [query ...]
Writes plans/r07/<query>_<suffix>.txt. Plans only — nothing is executed.
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    from mvt_wrangler_spark.session import get_spark
    import __spark_entry__ as e
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = e.queries()
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out = os.path.join(REPO, "plans", "r07", f"{name}_{suffix}.txt")
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan.splitlines())} lines)")
    spark.stop()

if __name__ == "__main__":
    main()
