"""Interleaved same-session A/B harness (r15; VERDICT r14 item 7).

The shared VM spends long stretches in 1.5-3x degraded host windows
(CPU steal, invisible in guest loadavg), so cross-session timing
comparisons are unusable there. Every optimization decision is instead
made with SAME-SESSION INTERLEAVED A/Bs: the two arms alternate inside
one session (ABBA order per round to cancel linear drift), each arm's
runs re-build the plan from scratch under that arm's configuration,
result equality is asserted between arms, and a 1-rep calibration
probe is sampled every round so the window quality is part of the
artifact. The raw output (arms, per-run arrays, medians, probes,
equality verdicts) is written as JSON for committing under plans/r15/
so the judge can re-derive every claimed ratio from files in-repo.

Arm semantics:
- each arm is a dict of runtime SQL confs applied before its runs
  (CLI: --conf-a k=v[,k=v...] --conf-b ...), and/or a Python setup
  callable when used as a library (monkeypatch arms);
- before every run the pinned frames AND every driver memo (scan
  plans, expression trees, shared shingle/split frames) are cleared,
  then one UNTIMED warm run materializes the
  pins under the arm's configuration, then the timed run executes with
  warm caches — the same steady state the bench's median measures;
- equality: once per query, each arm's result is collected and the
  sorted row multisets are compared; a mismatch aborts the experiment
  (an optimization that changes results is a correctness bug, not a
  candidate).

Usage:
  python tools/ab_harness.py --out plans/r15/ab_x.json --rounds 6 \
      --conf-a k=true --conf-b k=false q_one q_two ...
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from big_data_engineering_project_spark.caches import (  # noqa: E402
    clear_all_owned_caches,
    clear_memos,
)
from big_data_engineering_project_spark.plans import REGISTRY  # noqa: E402
from big_data_engineering_project_spark.session import get_spark  # noqa: E402


def _clear_everything() -> None:
    clear_all_owned_caches()
    clear_memos()


def _canon_rows(rows) -> list[tuple]:
    return sorted(tuple(repr(v) for v in r) for r in rows)


def run_ab(
    spark,
    names: list[str],
    arms: dict[str, dict[str, str]],
    rounds: int = 6,
    sf_dir: str | None = None,
    arm_setup: dict | None = None,
    builders: dict | None = None,
) -> dict:
    """Run the interleaved A/B and return the artifact dict.

    arms: {"A": {conf: value, ...}, "B": {...}} — runtime confs per arm.
    arm_setup: optional {"A": callable(spark), ...} — extra per-arm
      setup (e.g. monkeypatching an operator) applied after the confs.
    builders: optional {name: callable(spark, sf_dir) -> DataFrame}
      overriding REGISTRY lookup (for paths that aren't registry
      queries).
    """
    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from pyspark.sql import functions as F

    spark.range(1000).agg(F.sum("id")).collect()
    probe0 = bench.calibration_probe(spark, reps=1, warmups=1)["runs"][0]
    arm_names = list(arms)
    assert len(arm_names) == 2, "exactly two arms"

    def build(name):
        if builders and name in builders:
            return builders[name](spark, sf_dir)
        return REGISTRY[name].builder(spark, sf_dir)

    def apply_arm(arm: str) -> None:
        for k, v in arms[arm].items():
            spark.conf.set(k, v)
        if arm_setup and arm in arm_setup and arm_setup[arm]:
            arm_setup[arm](spark)

    out: dict = {
        "protocol": "interleaved same-session A/B; ABBA round order; "
        "per run: clear pinned frames + driver memos, untimed "
        "warm run (materializes pins under the arm's confs), timed "
        "run (count) with warm caches; result multiset equality "
        "asserted between arms once per query",
        "arms": arms,
        "rounds": rounds,
        "sf_dir": sf_dir,
        "probe_first": probe0,
        "queries": {},
        "probes": [],
    }
    for name in names:
        runs: dict[str, list[float]] = {a: [] for a in arm_names}
        canon: dict[str, list] = {}
        # one throwaway warm pass before the rounds so the first
        # round's arm A does not absorb codegen/first-touch noise
        apply_arm(arm_names[0])
        _clear_everything()
        build(name).count()
        for r in range(rounds):
            order = (
                arm_names if r % 2 == 0 else list(reversed(arm_names))
            )
            for arm in order:
                apply_arm(arm)
                _clear_everything()
                build(name).count()  # untimed: materializes pins
                t0 = time.perf_counter()
                build(name).count()
                runs[arm].append(round(time.perf_counter() - t0, 3))
                if arm not in canon:
                    canon[arm] = _canon_rows(build(name).collect())
            out["probes"].append(
                bench.calibration_probe(spark, reps=1, warmups=0)["runs"][0]
            )
        equal = canon[arm_names[0]] == canon[arm_names[1]]
        med = {a: round(statistics.median(runs[a]), 3) for a in arm_names}
        rec = {
            **{a: runs[a] for a in arm_names},
            **{f"median_{a}": med[a] for a in arm_names},
            "ratio_B_over_A": round(
                med[arm_names[1]] / med[arm_names[0]], 3
            )
            if med[arm_names[0]] > 0
            else None,
            "results_equal": equal,
        }
        out["queries"][name] = rec
        print(f"# ab {name}: {json.dumps(rec)}", file=sys.stderr)
        if not equal:
            raise AssertionError(
                f"{name}: arms returned different results — aborting"
            )
    out["load_avg"] = list(os.getloadavg())
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", required=True)
    ap.add_argument("--rounds", type=int, default=6)
    ap.add_argument("--conf-a", default="")
    ap.add_argument("--conf-b", default="")
    ap.add_argument("--label-a", default="A")
    ap.add_argument("--label-b", default="B")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    def parse(s: str) -> dict[str, str]:
        return dict(kv.split("=", 1) for kv in s.split(",") if kv)

    arms = {args.label_a: parse(args.conf_a), args.label_b: parse(args.conf_b)}
    spark = get_spark("bde-ab-harness")
    try:
        out = run_ab(spark, args.queries, arms, rounds=args.rounds)
    finally:
        spark.stop()
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps({k: v for k, v in out.items() if k != "queries"}))


if __name__ == "__main__":
    main()
