"""Output checks. Each returns a list of problems; empty means correct.

The expectations are derived from the generated inputs alone, never
from the engine: the F1 image table's ``defect`` ground-truth column
(plus its ids and hashes), the numpy exact top-k for the IVF index, and
the document generator's planted duplicates.
"""

from __future__ import annotations

from collections import Counter

CHECKS = (
    "schema",
    "column_stats",
    "uniqueness_image_id",
    "uniqueness_phash",
    "referential_caption",
    "drift",
    "payload",
)
# defects the payload check must flag: undecodable bytes, NULL bytes and
# a caption that differs from the expected one (an orphan reference is
# also a caption mismatch)
PAYLOAD_DEFECTS = {"corrupt_bytes", "null_bytes", "caption_bad", "orphan_caption"}
# default_suite's ColumnStatsCheck bound on w and h
MAX_NULL_RATE = 0.001


def expected_errors(rows: list[dict], parts: list[int]) -> Counter:
    """(part, check) → error-level violation rows a validation of
    ``parts`` must report. ``rows`` hold ``image_id``, ``phash``,
    ``part`` and ``defect`` of every generated row."""
    wanted = set(parts)
    sel = [r for r in rows if r["part"] in wanted]
    out: Counter = Counter()
    for r in sel:
        if r["defect"] in PAYLOAD_DEFECTS:
            out[(r["part"], "payload")] += 1
        if r["defect"] == "orphan_caption":
            out[(r["part"], "referential_caption")] += 1
    # uniqueness runs over the validated rows only, so a key shared
    # with a row of another partition is no violation here
    for col in ("image_id", "phash"):
        seen = Counter(r[col] for r in sel)
        for r in sel:
            if seen[r[col]] > 1:
                out[(r["part"], f"uniqueness_{col}")] += 1
    for p in parts:
        in_part = [r for r in sel if r["part"] == p]
        nulls = sum(r["defect"] == "null_dims" for r in in_part)
        if in_part and nulls / len(in_part) > MAX_NULL_RATE:
            out[(p, "column_stats")] += 2  # one row each for w and h
    return out


def check_validation(
    rows: list[dict],
    parts: list[int],
    verdicts: list[tuple],
    level_counts: dict[tuple[str, str], int],
    drift_warning_parts: set[int] | None = None,
) -> list[str]:
    """Check one validation run of ``parts``.

    ``verdicts``: (part, check, n_errors, verdict) grid rows.
    ``level_counts``: (check, level) → violation rows.
    ``drift_warning_parts``: parts the drift check warned on; checked
    against the drifted parts only for a run over the whole table."""
    exp = expected_errors(rows, parts)
    problems = []
    got_cells = {(int(p), c): (int(n), int(v)) for p, c, n, v in verdicts}
    want_cells = {(p, c) for p in parts for c in CHECKS}
    if set(got_cells) != want_cells:
        problems.append(
            f"verdict grid cells differ: missing {sorted(want_cells - set(got_cells))[:5]}, "
            f"extra {sorted(set(got_cells) - want_cells)[:5]}"
        )
    for cell in sorted(want_cells & set(got_cells)):
        n, v = got_cells[cell]
        if n != exp[cell] or v != (-1 if exp[cell] else 1):
            problems.append(f"cell {cell}: got n_errors={n} verdict={v}, want n_errors={exp[cell]}")
    for check in CHECKS:
        want = sum(n for (p, c), n in exp.items() if c == check)
        got = level_counts.get((check, "error"), 0)
        if got != want:
            problems.append(f"{check}: {got} error rows, want {want}")
    if drift_warning_parts is not None:
        drifted = {r["part"] for r in rows if r["defect"] == "drift"}
        if drift_warning_parts != drifted:
            problems.append(f"drift warned on parts {sorted(drift_warning_parts)}, want {sorted(drifted)}")
    return problems


def recall_at_k(got: dict, truth: dict, k: int) -> float:
    """Mean over the queries of ``truth`` of |got ∩ truth| / k."""
    if not truth:
        return 0.0
    return sum(len(set(got.get(q, [])) & set(t[:k])) / k for q, t in truth.items()) / len(truth)


def check_topk(got: dict, truth: dict, k: int, min_recall: float) -> tuple[float, list[str]]:
    """``got``: query id → neighbour ids in rank order. Every query must
    return k distinct neighbours, and recall@k must reach ``min_recall``."""
    problems = []
    for q in truth:
        ids = got.get(q, [])
        if len(ids) != k or len(set(ids)) != k:
            problems.append(f"query {q}: {len(ids)} neighbours ({len(set(ids))} distinct), want {k}")
    extra = set(got) - set(truth)
    if extra:
        problems.append(f"results for unknown queries {sorted(extra)[:5]}")
    recall = recall_at_k(got, truth, k)
    if recall < min_recall:
        problems.append(f"recall@{k} {recall:.4f} < {min_recall}")
    return recall, problems


def check_dedup(
    n_exact_found: int,
    n_exact_planted: int,
    pairs_found: set[tuple[int, int]],
    near_planted: set[tuple[int, int]],
    min_near_recall: float,
) -> list[str]:
    problems = []
    if n_exact_found != n_exact_planted:
        problems.append(f"exact duplicates: found {n_exact_found}, planted {n_exact_planted}")
    if near_planted:
        hit = len(near_planted & pairs_found) / len(near_planted)
        if hit < min_near_recall:
            problems.append(f"near-duplicate pairs found {hit:.3f} of planted, want >= {min_near_recall}")
    return problems
