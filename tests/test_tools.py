"""Guards for the round-over-round tooling itself: tools/bench_diff.py
must be able to read every COMMITTED bench artifact, including the one
whose driver capture was head-truncated (BENCH_r07.json, parsed: null
— the r8 verdict's broken comparison)."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tools"))

import bench_diff  # noqa: E402


def test_salvage_reconstructs_truncated_tail():
    full = {
        "metric": "headline_queries_total",
        "value": 3.0,
        "queries": {"q_a": 1.0, "q_b": 2.0, "q_brace{}": 0.5},
        "calibration": {"pre_sec": 1.1, "post_sec": 1.3},
    }
    line = json.dumps(full)
    # Head-truncate past the opening brace, like the driver's
    # last-2000-chars capture did to the r7 line.
    doc = bench_diff.salvage(line[7:])
    assert doc["queries"] == full["queries"]
    assert doc["calibration"] == full["calibration"]


def test_salvage_raises_when_queries_gone():
    import pytest

    with pytest.raises(ValueError):
        bench_diff.salvage('"calibration": {"pre_sec": 1}}')


def test_query_sec_reads_both_artifact_shapes():
    # scalar (BENCH_r*.json), {sec, runs} (BENCH_DETAIL.json), and the
    # legacy {runs}-only detail entry (pre-r11 BENCH_DETAIL shape)
    assert bench_diff._query_sec(1.25) == 1.25
    assert bench_diff._query_sec({"sec": 0.9, "runs": [1.0, 0.9, 0.8]}) == 0.9
    assert bench_diff._query_sec({"runs": [1.0, 0.9, 0.8]}) == 0.9


def test_load_prefers_detail_map_and_dual_probe(tmp_path):
    detail = {
        "queries": {"q_a": 1.0},
        "queries_detail": {"q_a": {"sec": 1.1, "runs": [1.2, 1.1, 1.0]}},
        "calibration": {
            "pre_sec": 2.0,
            "post_sec": 2.2,
            "python_pre_sec": 0.5,
            "python_post_sec": 0.7,
        },
    }
    p = tmp_path / "detail.json"
    p.write_text(json.dumps(detail))
    doc = bench_diff.load(str(p))
    assert bench_diff._query_sec(doc["queries"]["q_a"]) == 1.1
    assert bench_diff.probe_sec(doc, "jvm") == 2.1
    assert bench_diff.probe_sec(doc, "py") == 0.6
    # compact stdout-line key spelling for the Python probe
    compact = {"queries": {"q_a": 1.0},
               "calibration": {"py_pre": 0.4, "py_post": 0.6}}
    p2 = tmp_path / "compact.json"
    p2.write_text(json.dumps(compact))
    assert bench_diff.probe_sec(bench_diff.load(str(p2)), "py") == 0.5


def test_planaudit_probe_classification():
    path = os.path.join(ROOT, "PLANAUDIT.json")
    py, sh = bench_diff.load_probe_classes(path)
    # the Arrow-seam families must classify as python-path; pure
    # Catalyst queries must not
    assert "q_media_histogram_topk" in py
    assert "q_video_scene_cuts" in py
    assert "q_kll_value_quantiles" in py
    assert "q_counts_by_type" not in py
    assert "q_hybrid_search_rrf_by_query" not in py
    # shuffle class (r13): exchange-heavy JVM plans, disjoint from py;
    # simple scan-aggregate plans stay in the CPU class
    assert not (py & sh)
    assert "q_link_prediction" in sh
    assert "q_dedup_minhash_lsh" in sh
    assert "q_counts_by_type" not in sh
    # known limit: localCheckpoint-truncated iteratives (e.g.
    # q_kcore_parts) expose only post-checkpoint Exchanges in their
    # final plan and may classify jvm — documented in bench_diff;
    # pure-lineage label propagation shows every iteration's Exchanges
    assert "q_kcore_parts" not in sh
    assert "q_label_propagation" in sh
    # shuffle-probe keys parse from both artifact spellings
    assert bench_diff.probe_sec(
        {"calibration": {"sh_pre": 0.8, "sh_post": 0.6}}, "sh"
    ) == 0.7
    assert bench_diff.probe_sec(
        {"calibration": {"shuffle_pre_sec": 1.0, "shuffle_post_sec": 0.5}},
        "sh",
    ) == 0.75


def test_load_reads_every_committed_bench_artifact():
    import glob

    arts = sorted(glob.glob(os.path.join(ROOT, "BENCH_r0*.json")))
    assert arts, "no committed bench artifacts found"
    for path in arts:
        raw = json.load(open(path))
        if "parsed" not in raw and "queries" not in raw:
            continue  # pre-protocol round shapes (r1-r2)
        try:
            doc = bench_diff.load(path)
        except ValueError:
            # Only tolerable for artifacts whose tail truly lost the
            # queries object — assert that is the case.
            assert '"queries"' not in raw.get("tail", ""), path
            continue
        assert isinstance(doc.get("queries"), dict) and doc["queries"], path
