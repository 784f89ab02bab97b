#!/usr/bin/env python
"""Regenerate OPERATORS.md from the catalog registry (run from repo root).

``tests/test_operators_md.py`` fails when the committed file drifts from
``render()``; rerun this script after adding or re-documenting an entry."""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATORS_MD = os.path.join(ROOT, "OPERATORS.md")

sys.path.insert(0, ROOT)

from tigate_spark.catalog import get_catalog  # noqa: E402


def render() -> str:
    """OPERATORS.md's full text for the current catalog."""
    cat = get_catalog()
    lines = [
        "# Operator catalog",
        "",
        f"{len(cat)} queries, each a (Spark builder, DuckDB oracle) pair consumed by",
        "`__spark_entry__.py` (`queries()` / `oracle_sql()`). `bench` marks the",
        "headline set `bench.py` times. Entries without an oracle carry a rows-only",
        "check (noted).",
        "",
        "| query | oracle | bench | what it covers |",
        "|---|---|---|---|",
    ]
    for name in sorted(cat):
        spec = cat[name]
        doc = " ".join(spec.doc.split())
        lines.append(
            f"| `{name}` | {'✓' if spec.oracle else 'rows-only'} | "
            f"{'✓' if spec.bench else ''} | {doc} |"
        )
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(OPERATORS_MD, "w") as f:
        f.write(render())
    print("wrote OPERATORS.md")


if __name__ == "__main__":
    main()
