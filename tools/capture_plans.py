"""Dump .explain('formatted') for named queries to plans/<dir>/<name>_<tag>.txt.

    python tools/capture_plans.py r11 before q_corpus_training_mix ...
Defaults to every bench HEADLINE query when no names given.
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_engineering_spark.plans.explain import plan_string  # noqa: E402
from data_engineering_spark.queries import QUERIES  # noqa: E402
from data_engineering_spark.session import get_session  # noqa: E402


def main() -> None:
    rdir, tag, *names = sys.argv[1:]
    if not names:
        from bench import HEADLINE

        names = list(HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join("plans", rdir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_session(app_name="capture-plans")
    for name in names:
        plan = plan_string(QUERIES[name](spark, sf_dir))
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)
        ex = plan.count("Exchange")
        print(f"{name}: exchanges={ex} len={len(plan)}")


if __name__ == "__main__":
    main()
