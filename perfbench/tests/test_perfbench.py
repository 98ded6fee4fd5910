"""Unit tests of the benchmark's own logic; no Spark session needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(BENCH))

import checkers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402
from proc import ProcTree  # noqa: E402
from spans import Tracer, self_times, tail  # noqa: E402


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    value, pct, n = tail([float(x) for x in range(100, 0, -1)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    # 11 samples: only the minimum has ten above it
    assert tail([float(x) for x in range(11)]) == (0.0, 100.0 / 11, 11)
    assert tail([1.0] * 10) is None


def test_summary_takes_medians_over_the_operations():
    # one operation slowed fourfold moves none of the figures
    got = workloads.summarize([(2.0, 4.0, 100), (2.0, 4.0, 100), (8.0, 30.0, 100)])
    assert got["op_p50_s"] == 2.0
    assert got["items_per_s"] == 50.0
    assert got["cpu_s_per_kitem"] == 40.0
    assert got["n_ops"] == 3 and got["items"] == 300


def _span(id, parent, start, end):
    return {"id": id, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_the_union_of_child_spans():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: [1, 5] counted once
        _span(3, 0, 8.0, 12.0),  # runs past its parent: clipped at 10
        _span(4, 1, 1.5, 2.5),  # grandchild: only span 1 loses it
    ]
    got = self_times(spans)
    assert got[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert got[1] == pytest.approx(2.0 - 1.0)
    assert got[2] == pytest.approx(3.0)
    assert got[4] == pytest.approx(1.0)


def test_tracer_links_parents_and_operation_ids():
    tr = Tracer(True)
    with tr.span("op", op="op0"):
        with tr.span("child"):
            pass
    child, op = tr.spans
    assert child["parent"] == op["id"] and child["op"] == "op0"
    assert op["parent"] is None and op["end"] >= child["end"]
    off = Tracer(False)
    with off.span("op", op="op0") as rec:
        assert rec is None
    assert off.spans == []


# a miniature F1 table: every defect kind once, part 1 drifted
ROWS = [
    {"image_id": "a", "phash": 1, "part": 0, "defect": None},
    {"image_id": "a", "phash": 1, "part": 0, "defect": "dup_image_id"},
    {"image_id": "b", "phash": 7, "part": 0, "defect": "hot_phash"},
    {"image_id": "c", "phash": 7, "part": 1, "defect": "hot_phash"},
    {"image_id": "d", "phash": 2, "part": 0, "defect": "orphan_caption"},
    {"image_id": "e", "phash": 3, "part": 0, "defect": "corrupt_bytes"},
    {"image_id": "f", "phash": 4, "part": 1, "defect": "null_dims"},
    {"image_id": "g", "phash": 5, "part": 1, "defect": "drift"},
]


def _engine_output(parts):
    """What a correct validation run reports for ``ROWS``."""
    exp = checkers.expected_errors(ROWS, parts)
    verdicts = [(p, c, exp[(p, c)], -1 if exp[(p, c)] else 1) for p in parts for c in checkers.CHECKS]
    counts = {}
    for (p, c), n in exp.items():
        counts[(c, "error")] = counts.get((c, "error"), 0) + n
    return verdicts, counts


def test_expected_errors_follow_the_defect_column():
    exp = checkers.expected_errors(ROWS, [0, 1])
    assert exp[(0, "uniqueness_image_id")] == 2
    assert exp[(0, "uniqueness_phash")] == 3  # the dup pair + one hot row
    assert exp[(1, "uniqueness_phash")] == 1
    assert exp[(0, "referential_caption")] == 1
    assert exp[(0, "payload")] == 2  # corrupt bytes + orphan caption
    assert exp[(1, "column_stats")] == 2
    # validating part 1 alone: its hot row has no duplicate left
    assert checkers.expected_errors(ROWS, [1])[(1, "uniqueness_phash")] == 0


def test_validation_checker_accepts_correct_and_rejects_wrong_output():
    verdicts, counts = _engine_output([0, 1])
    assert checkers.check_validation(ROWS, [0, 1], verdicts, counts, {1}) == []

    flipped = [(p, c, n, 1) if (p, c) == (0, "payload") else (p, c, n, v) for p, c, n, v in verdicts]
    assert checkers.check_validation(ROWS, [0, 1], flipped, counts, {1})
    missing = dict(counts)
    missing[("payload", "error")] -= 1
    assert checkers.check_validation(ROWS, [0, 1], verdicts, missing, {1})
    assert checkers.check_validation(ROWS, [0, 1], verdicts[1:], counts, {1})
    assert checkers.check_validation(ROWS, [0, 1], verdicts, counts, {0, 1})


def test_topk_checker():
    truth = {1: list(range(10)), 2: list(range(10, 20))}
    recall, problems = checkers.check_topk(dict(truth), truth, 10, 0.98)
    assert recall == 1.0 and problems == []
    wrong = {1: list(range(10)), 2: list(range(20, 30))}
    recall, problems = checkers.check_topk(wrong, truth, 10, 0.98)
    assert recall == 0.5 and problems
    short = {1: list(range(9)), 2: list(range(10, 20))}
    assert checkers.check_topk(short, truth, 10, 0.5)[1]


def test_dedup_checker():
    near = {(1, 5), (2, 6)}
    assert checkers.check_dedup(3, 3, near | {(7, 8)}, near, 0.9) == []
    assert checkers.check_dedup(2, 3, near, near, 0.9)
    assert checkers.check_dedup(3, 3, {(1, 5)}, near, 0.9)


def test_generated_docs_plant_what_they_report():
    texts, n_exact, near = workloads.make_docs(seed=5, n=400)
    assert len(texts) - len(set(texts)) == n_exact > 0
    for a, b in near:
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb) and sum(x != y for x, y in zip(wa, wb)) == 1


def test_benchmark_json_matches_the_metrics_the_runs_print():
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == workloads.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == workloads.LAYER_METRICS
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_proc_tree_sees_this_process():
    procs = ProcTree()
    cpu = procs.cpu()
    assert cpu["driver"] > 0 and cpu["total"] >= cpu["driver"]
    assert procs.rss_mb() > 0


def test_run_refuses_a_directory_without_the_engine(tmp_path, monkeypatch, capsys):
    monkeypatch.chdir(tmp_path)
    assert run.main(["--workload", "validate", "--seed", "1", "--seconds", "1"]) == 2
    assert capsys.readouterr().out == ""
    assert os.listdir(tmp_path) == []
