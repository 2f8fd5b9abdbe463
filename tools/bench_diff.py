"""Round-over-round bench comparison: per-query ratios against a prior
BENCH artifact, with the noise ledger's thresholds applied.

Usage: python tools/bench_diff.py BENCH_r04.json BENCH_r05.json
       python tools/bench_diff.py BENCH_r04.json /tmp/bench_now.json
       python tools/bench_diff.py --planaudit PLANAUDIT.json OLD NEW

Accepts the driver artifact shape ({"parsed": {...}}), bench.py's raw
stdout line shape ({"queries": {...}}), and BENCH_DETAIL.json's
{sec, runs} per-query entries (the runs arrays ride along and are
shown for flagged queries). Queries present in only one file are
listed separately so added/removed headliners can't silently skew the
total.

TRIPLE-PROBE normalization (r10 verdict task 6 + r12 task 6): queries
are classified from PLANAUDIT.json — `python_path` plans (ArrowEval
Python / MapInPandas / FlatMapGroupsInPandas nodes) normalize by the
Python-worker probe; JVM-pure plans with ≥ SHUFFLE_EXCHANGE_MIN
Exchange nodes normalize by the shuffle probe (repartition-aggregate —
the exchange/memory-bandwidth resource class that inflated 1.4-3x in
the r8/r12 host windows while the CPU probe moved ≤1.19x); everything
else by the JVM-CPU probe. The r10 final bench measured
q_media_histogram_topk drifting 2.5x raw while every JVM query
normalized to 1.00x: exactly the drift class the JVM probe cannot see.
Without a PLANAUDIT file (or for unlisted queries, or pre-r13
artifacts lacking a probe) the JVM probe is the fallback, as before.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def _balanced_object(text: str, start: int) -> str | None:
    """The substring of `text` from the '{' at `start` to its matching
    '}' (string-literal aware), or None if unbalanced (truncated)."""
    depth, in_str, esc = 0, False, False
    for i in range(start, len(text)):
        ch = text[i]
        if in_str:
            if esc:
                esc = False
            elif ch == "\\":
                esc = True
            elif ch == '"':
                in_str = False
            continue
        if ch == '"':
            in_str = True
        elif ch == "{":
            depth += 1
        elif ch == "}":
            depth -= 1
            if depth == 0:
                return text[start : i + 1]
    return None


def salvage(tail: str) -> dict:
    """Reconstruct the fields bench_diff needs from a driver `tail`
    whose JSON line was truncated at the HEAD (the driver keeps only
    the last 2000 stdout chars; BENCH_r07.json lost its opening brace
    and `parsed` is null). Brace-matches the `queries` and
    `calibration` sub-objects — both live near the line's start, so
    head-truncation that reaches them means the artifact is truly
    unusable and we raise."""
    doc: dict = {}
    for key in ("queries", "calibration"):
        at = tail.find(f'"{key}"')
        if at < 0:
            continue
        brace = tail.find("{", at)
        if brace < 0:
            continue
        obj = _balanced_object(tail, brace)
        if obj is not None:
            try:
                doc[key] = json.loads(obj)
            except json.JSONDecodeError:
                pass
    if "queries" not in doc:
        raise ValueError(
            "tail salvage failed: no balanced 'queries' object in tail"
        )
    return doc


def _query_sec(v) -> float:
    """Scalar seconds from either artifact shape: a bare number
    (BENCH_r*.json) or a {sec, runs} detail entry (BENCH_DETAIL.json;
    a legacy {runs} entry without `sec` falls back to the median)."""
    if isinstance(v, dict):
        if v.get("sec") is not None:
            return float(v["sec"])
        if v.get("runs"):
            return float(statistics.median(v["runs"]))
        raise ValueError(f"query entry with neither sec nor runs: {v}")
    return float(v)


def load(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    if "parsed" in doc:
        if doc["parsed"]:
            doc = doc["parsed"]
        else:  # truncated driver capture (e.g. BENCH_r07.json)
            doc = salvage(doc.get("tail", ""))
    # Prefer the {sec, runs} detail map when present — same medians,
    # plus per-run arrays for the flagged-query evidence lines.
    detail = doc.get("queries_detail")
    if detail:
        doc = {**doc, "queries": detail}
    doc["queries"] = {k: v for k, v in doc["queries"].items()}
    return doc


def _runs_of(doc: dict, name: str) -> list[float] | None:
    v = doc["queries"].get(name)
    if isinstance(v, dict):
        return v.get("runs")
    return None


def probe_sec(doc: dict, kind: str = "jvm") -> float | None:
    """Calibration figure from an artifact: mean of the pre/post probe
    medians. kind='jvm' reads the CPU probe; kind='py' reads the
    Python-worker probe (compact keys py_pre/py_post, full-payload
    keys python_pre_sec/python_post_sec)."""
    cal = doc.get("calibration") or {}
    if kind == "jvm":
        pre, post = cal.get("pre_sec"), cal.get("post_sec")
    elif kind == "sh":
        pre = cal.get("sh_pre", cal.get("shuffle_pre_sec"))
        post = cal.get("sh_post", cal.get("shuffle_post_sec"))
    else:
        pre = cal.get("py_pre", cal.get("python_pre_sec"))
        post = cal.get("py_post", cal.get("python_post_sec"))
    if pre and post:
        return (pre + post) / 2.0
    return None


# A JVM-pure plan with at least this many Exchange nodes is normalized
# by the SHUFFLE probe instead of the CPU probe: the r8/r12 host
# windows inflated exchange-heavy queries 1.4-3x while the CPU probe
# moved 1.06-1.19x, so CPU-normalizing them mislabels a window as a
# regression. Iterative graph/multi-stage queries sit far above this
# threshold; simple scan-agg queries sit below it. Known limit: an
# iterative query whose loop localCheckpoints per step (lineage
# truncation) exposes only its POST-checkpoint Exchanges in the final
# plan — e.g. q_kcore_parts counts 2 — and classifies jvm; the
# classification is a measured improvement over CPU-only, not a
# perfect partition.
SHUFFLE_EXCHANGE_MIN = 5


def load_probe_classes(planaudit: str) -> tuple[set[str], set[str]]:
    """(python-path names, shuffle-heavy names) from PLANAUDIT.json.
    Python-path wins when both apply — the Arrow seam dominates."""
    with open(planaudit) as fh:
        doc = json.load(fh)
    qs = doc.get("queries", {})
    py = {name for name, q in qs.items() if q.get("python_path")}
    sh = {
        name
        for name, q in qs.items()
        if not q.get("python_path")
        and q.get("n_exchanges", 0) >= SHUFFLE_EXCHANGE_MIN
    }
    return py, sh


def main() -> int:
    args = sys.argv[1:]
    planaudit = None
    if args and args[0] == "--planaudit":
        planaudit = args[1]
        args = args[2:]
    if len(args) != 2:
        print(__doc__)
        return 2
    if planaudit is None:
        default = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "PLANAUDIT.json",
        )
        planaudit = default if os.path.exists(default) else None
    py_class: set[str] = set()
    sh_class: set[str] = set()
    if planaudit:
        try:
            py_class, sh_class = load_probe_classes(planaudit)
        except (OSError, json.JSONDecodeError, KeyError) as exc:
            print(f"# PLANAUDIT unreadable ({exc}); JVM probe only")
    old_doc, new_doc = load(args[0]), load(args[1])
    old = {n: _query_sec(v) for n, v in old_doc["queries"].items()}
    new = {n: _query_sec(v) for n, v in new_doc["queries"].items()}
    # Dual-probe normalization: divide each raw ratio by the probe
    # ratio of the query's OWN resource class — what's left is
    # plan/engine change, not host-speed or Python-worker drift.
    ratios: dict[str, float | None] = {}
    for kind in ("jvm", "py", "sh"):
        po, pn = probe_sec(old_doc, kind), probe_sec(new_doc, kind)
        ratios[kind] = (pn / po) if (po and pn) else None
    if ratios["py"] is None:  # older artifacts lack the Python probe
        ratios["py"] = ratios["jvm"]
    if ratios["sh"] is None:  # pre-r13 artifacts lack the shuffle probe
        ratios["sh"] = ratios["jvm"]
    common = sorted(set(old) & set(new))
    rows = [
        (n, old[n], new[n], new[n] / old[n] if old[n] else float("inf"))
        for n in common
    ]
    rows.sort(key=lambda r: r[3], reverse=True)
    any_probe = ratios["jvm"] is not None
    norm_hdr = f" {'norm':>6} {'cls':>3}" if any_probe else ""
    print(f"{'query':<28} {'old':>7} {'new':>7} {'ratio':>6}{norm_hdr}")
    for n, o, w, r in rows:
        cls = "py" if n in py_class else ("sh" if n in sh_class else "jvm")
        pr = ratios[cls]
        nr = r / pr if pr else None
        flagged = (nr if nr is not None else r) > 1.2
        flag = "  <-- check" if flagged else ""
        norm_s = f" {nr:>6.2f} {cls:>3}" if nr is not None else ""
        print(f"{n:<28} {o:>7.3f} {w:>7.3f} {r:>6.2f}{norm_s}{flag}")
        if flagged:
            for label, doc in (("old", old_doc), ("new", new_doc)):
                runs = _runs_of(doc, n)
                if runs:
                    print(f"{'':>28}   {label} runs: {runs}")
    so, sn = sum(old[n] for n in common), sum(new[n] for n in common)
    print(
        f"\ncommon total: {so:.3f} -> {sn:.3f}  ({sn / so:.2f}x over "
        f"{len(common)} queries)"
    )
    if ratios["jvm"]:
        jvm_names = [
            n for n in common if n not in py_class and n not in sh_class
        ]
        py_names = [n for n in common if n in py_class]
        sh_names = [n for n in common if n in sh_class]
        print(
            f"JVM probe drift {ratios['jvm']:.2f}x"
            + (
                f"; Python probe drift {ratios['py']:.2f}x"
                if ratios["py"] != ratios["jvm"]
                else " (no separate Python probe; used for py class)"
            )
            + (
                f"; shuffle probe drift {ratios['sh']:.2f}x"
                if ratios["sh"] != ratios["jvm"]
                else " (no separate shuffle probe; used for sh class)"
            )
        )
        for label, names, kind in (
            ("jvm-class", jvm_names, "jvm"),
            ("py-class", py_names, "py"),
            ("sh-class", sh_names, "sh"),
        ):
            if not names:
                continue
            s_o = sum(old[n] for n in names)
            s_n = sum(new[n] for n in names)
            pr = ratios[kind]
            print(
                f"{label}: {len(names)} queries, total {s_o:.3f} -> "
                f"{s_n:.3f} ({s_n / s_o:.2f}x raw, "
                f"{s_n / s_o / pr:.2f}x probe-normalized)"
            )
        if not py_class:
            print(
                "# no PLANAUDIT classification available - every query "
                "normalized by the JVM probe"
            )
    else:
        print("calibration probe missing from one side - raw ratios only")
    for label, names in (
        ("only-old", set(old) - set(new)),
        ("only-new", set(new) - set(old)),
    ):
        if names:
            print(f"{label}: {sorted(names)}")
    print(
        "\nnote: >1.2x flags need the noise-ledger treatment "
        "(bench.py docstring) - idle machine, run profile, git log -L "
        "on the operator body - before being called regressions."
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
