"""Generate docs/OPERATORS.md — one row per registered query (name,
check mode, one-line doc) straight from the registry, so the index can
never drift from the code. Run: python tools/gen_operator_index.py"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trading_data_pipeline_spark.registry import all_queries  # noqa: E402

HEADER = """# Operator index

Auto-generated from `trading_data_pipeline_spark/registry.py` by
`tools/gen_operator_index.py` — do not edit by hand. One row per
registered query; "oracle" rows are value-hash-checked against DuckDB
(tools/parity.py mirrors the driver's gate), "rows-only" rows are
engine-specific by nature (sketches, LSH/k-means banding, iterative
fixpoints, stubbed codecs) and carry dedicated accuracy/identity tests
instead.

| query | check | what it does |
|---|---|---|
"""


def rows() -> list[str]:
    """One table row per registered query, in registry order."""
    out = []
    for name, spec in all_queries().items():
        check = "oracle" if spec.oracle is not None else "rows-only"
        doc = " ".join((spec.doc or "").split())
        out.append(f"| `{name}` | {check} | {doc} |")
    return out


def total_line() -> str:
    qs = all_queries()
    n_oracle = sum(1 for s in qs.values() if s.oracle is not None)
    return f"Total: {len(qs)} queries, {n_oracle} oracle-checked."


def main() -> None:
    body = rows()
    out = [HEADER, *(r + "\n" for r in body), f"\n{total_line()}\n"]
    dest = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "OPERATORS.md",
    )
    os.makedirs(os.path.dirname(dest), exist_ok=True)
    with open(dest, "w") as f:
        f.write("".join(out))
    print(f"wrote {dest}: {len(body)} queries")


if __name__ == "__main__":
    main()
