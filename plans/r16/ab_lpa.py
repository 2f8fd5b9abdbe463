"""Interleaved A/B: label propagation before and after the one-aggregate
argmax rewrite (plans/r16/ab_lpa.json).

Arm `old` rebuilds the previous operator here — per iteration a vote
sum, a max-vote aggregate joined back to the votes, a min-label
aggregate and a kept-label left join, with a localCheckpoint after
every iteration (what q_label_propagation passed explicitly and what
the old operator installed itself past 4 iterations). Arm `new` is the
operator in the package. Both arms run the registry builders unchanged:
the arm setup swaps `operators.graph.label_propagation`, which the
builders import at call time. tools/ab_harness.py asserts equal result
multisets between the arms; this script also records, per arm and
query, the Spark jobs fired inside the builder call and in total for
one build + count() — counts that host noise does not move.

Usage:
  python plans/r16/ab_lpa.py SF_DIR OUT_JSON [ROUNDS]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

from ab_harness import _clear_everything, run_ab  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from big_data_engineering_project_spark.caches import pin  # noqa: E402
from big_data_engineering_project_spark.operators import graph  # noqa: E402
from big_data_engineering_project_spark.plans import REGISTRY  # noqa: E402
from big_data_engineering_project_spark.session import get_spark  # noqa: E402

QUERIES = ["q_label_propagation", "q_label_propagation_deep"]
NEW = graph.label_propagation


def old_label_propagation(
    edges,
    src="src",
    dst="dst",
    weight="w",
    iters=4,
    materialize=None,
    materialize_every=1,
):
    """The operator as it was before the rewrite, with the every-1
    localCheckpoint both LPA queries ran under."""
    materialize = materialize or (lambda d: d.localCheckpoint())
    e_src, e_dst, e_w = F.col(src), F.col(dst), F.col(weight)
    und = pin(
        edges.select(
            e_src.alias("a"), e_dst.alias("b"), e_w.alias("__w")
        ).union(
            edges.select(e_dst.alias("a"), e_src.alias("b"), e_w.alias("__w"))
        )
    )
    nodes = und.select(F.col("a").alias("node")).distinct()
    lab = nodes.select("node", F.col("node").alias("label"))
    for it in range(iters):
        votes = (
            lab.join(und, lab["node"] == und["a"])
            .groupBy(F.col("b").alias("__n"), "label")
            .agg(F.sum("__w").alias("__v"))
        )
        mx = votes.groupBy(F.col("__n").alias("__mn")).agg(
            F.max("__v").alias("__mv")
        )
        best = (
            votes.join(
                mx,
                (F.col("__n") == F.col("__mn"))
                & (F.col("__v") == F.col("__mv")),
            )
            .select(F.col("__n").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("__nl"))
        )
        lab = lab.join(best, "node", "left").select(
            "node", F.coalesce("__nl", "label").alias("label")
        )
        if (it + 1) % materialize_every == 0:
            lab = materialize(lab)
    return lab


def use(op):
    def setup(_spark):
        graph.label_propagation = op
    return setup


ARM_SETUP = {"old": use(old_label_propagation), "new": use(NEW)}


def job_counts(spark, sf_dir: str) -> dict:
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    out: dict = {}
    for arm, setup in ARM_SETUP.items():
        setup(spark)
        for name in QUERIES:
            _clear_everything()
            REGISTRY[name].builder(spark, sf_dir).count()  # warm the scan
            _clear_everything()
            j0 = sched.numTotalJobs()
            df = REGISTRY[name].builder(spark, sf_dir)
            j1 = sched.numTotalJobs()
            df.count()
            out.setdefault(name, {})[arm] = {
                "builder_jobs": j1 - j0,
                "total_jobs": sched.numTotalJobs() - j0,
            }
    return out


def main() -> None:
    sf_dir, out_path = sys.argv[1], sys.argv[2]
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 6
    spark = get_spark("bde-ab-lpa")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        out = run_ab(
            spark,
            QUERIES,
            {"old": {}, "new": {}},
            rounds=rounds,
            sf_dir=sf_dir,
            arm_setup=ARM_SETUP,
        )
        out["jobs"] = job_counts(spark, sf_dir)
    finally:
        graph.label_propagation = NEW
        spark.stop()
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    summary = {
        name: {
            **out["jobs"][name],
            "ratio_new_over_old": out["queries"][name]["ratio_B_over_A"],
        }
        for name in QUERIES
    }
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
