"""Run-history report over a validation output directory.

Renders what the sinks + ledger already record — no Spark session,
no scans of the validated table: the verdict grid, violations and
history-drift sinks are tiny aggregated parquet, so DuckDB reads
them locally in milliseconds even for years of run history.

Usage: python tools/report.py <output_dir> [--last N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb


def _rel(con: duckdb.DuckDBPyConnection, path: str, name: str) -> bool:
    if not os.path.isdir(path):
        return False
    con.execute(
        f"CREATE VIEW {name} AS SELECT * FROM "
        f"read_parquet('{path}/*.parquet', union_by_name=true)"
    )
    return True


def _sink_files(out: str) -> list[tuple[str, str, int, int]]:
    """(sink, version dir, parquet files, bytes) of the version each
    sink publishes now — from the listing alone, so an operator sees
    when ``compact_sinks`` is due. A plain-directory sink (written
    before the versioned layout) is its own version."""
    rows = []
    for name in sorted(os.listdir(out)):
        path = os.path.join(out, name)
        if name.startswith("_") or "." in name or not os.path.isdir(path):
            continue
        real = os.path.realpath(path)
        sizes = [
            os.path.getsize(os.path.join(root, f))
            for root, _, files in os.walk(real)
            for f in files
            if f.endswith(".parquet")
        ]
        rows.append((name, os.path.basename(real), len(sizes), sum(sizes)))
    return rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("output", help="validation output dir (verdicts/ metrics/ ...)")
    ap.add_argument("--last", type=int, default=10, help="show the last N runs")
    args = ap.parse_args(argv)
    out = args.output.rstrip("/")

    con = duckdb.connect()
    if not _rel(con, f"{out}/verdicts", "verdicts"):
        print(f"no verdicts sink under {out}", file=sys.stderr)
        return 2
    has_seq = "run_seq" in [
        r[0] for r in con.execute("DESCRIBE verdicts").fetchall()
    ]
    if not has_seq:
        print("verdicts predate run lineage (no run_seq column)", file=sys.stderr)
        return 2

    # rows from sinks written before run lineage existed read as NULL
    # run_seq under union_by_name — they can't be placed on the run
    # axis, so report them as a count and exclude them from the trends
    untagged = con.execute(
        "SELECT count(*) FROM verdicts WHERE run_seq IS NULL"
    ).fetchone()[0]
    if untagged:
        print(f"({untagged} pre-lineage verdict rows without run_seq excluded)")
    newest = con.execute("SELECT max(run_seq) FROM verdicts").fetchone()[0]

    print(f"== runs (last {args.last}) ==")
    for seq, snap, cells, failed, parts in con.execute(
        """
        SELECT run_seq, any_value(snapshot_id), count(*),
               sum(CASE WHEN verdict = -1 THEN 1 ELSE 0 END),
               count(DISTINCT part)
        FROM verdicts WHERE run_seq IS NOT NULL
        GROUP BY run_seq ORDER BY run_seq DESC LIMIT ?
        """,
        [args.last],
    ).fetchall():
        mark = "FAIL" if failed else "ok  "
        print(
            f"  run {seq:>3}  snapshot {snap}  parts {parts:>4}  "
            f"cells {cells:>5}  failed {failed:>4}  {mark}"
        )

    print("== per-check failed cells by run ==")
    for check, trend in con.execute(
        """
        WITH per AS (
          SELECT "check", run_seq,
                 sum(CASE WHEN verdict = -1 THEN 1 ELSE 0 END) AS failed
          FROM verdicts WHERE run_seq IS NOT NULL GROUP BY 1, 2
        )
        SELECT "check",
               list(run_seq || ':' || failed ORDER BY run_seq) AS trend
        FROM per GROUP BY 1 ORDER BY 1
        """
    ).fetchall():
        print(f"  {check:<24} {' '.join(trend[-args.last:])}")

    # "newest run" below is anchored on the verdicts sink's max
    # run_seq (always written per run) — a per-sink max would show an
    # OLDER run's rows as current whenever the newest run was clean
    # and contributed no rows to that sink
    if newest is not None and _rel(con, f"{out}/violations", "violations"):
        rows = con.execute(
            """
            SELECT "check", level, count(*) FROM violations
            WHERE run_seq = ? GROUP BY 1, 2 ORDER BY 3 DESC LIMIT 10
            """,
            [newest],
        ).fetchall()
        print(f"== newest run ({newest}): violations by (check, level) ==")
        for check, level, n in rows:
            print(f"  {check:<24} {level:<8} {n}")
        if not rows:
            print("  (none)")

    if newest is not None and _rel(con, f"{out}/history_drift", "hd"):
        rows = con.execute(
            """
            SELECT "check", metric, part, value, z, hist_n FROM hd
            WHERE run_seq = ? AND verdict = -1
            ORDER BY abs(z) DESC LIMIT 10
            """,
            [newest],
        ).fetchall()
        print(
            f"== newest run ({newest}): cross-run drift "
            f"({len(rows)} flagged cells) =="
        )
        for check, metric, part, value, z, hist_n in rows:
            print(
                f"  {check}/{metric} part={part} value={value:g} "
                f"z={z:+.2f} (n={hist_n})"
            )

    print("== sinks ==")
    for sink, version, n_files, n_bytes in _sink_files(out):
        print(f"  {sink:<16} {version:<20} files {n_files:>5}  bytes {n_bytes:>12}")

    ledger_path = f"{out}/_ledger/ledger.json"
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            state = json.load(f)
        print(
            f"== ledger == snapshot {state.get('snapshot_id')}  "
            f"completed parts {len(state.get('completed_parts', []))}  "
            f"runs {len(state.get('runs', []))}  "
            f"schema cols {len(state.get('table_schema', {}) or {})}"
        )
    return 0


if __name__ == "__main__":
    # behave like a normal unix filter under `| head`
    import signal

    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    raise SystemExit(main())
