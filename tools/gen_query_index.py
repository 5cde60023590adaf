"""Generate QUERIES.md — an index of every declared query: name, oracle
status, and the first docstring line (the operator contract). Run after
adding queries; CI-style check: tests/test_contract.py asserts docstrings
exist, this renders them."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entrymod  # noqa: E402


def main() -> None:
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    lines = [
        "# Declared query surface",
        "",
        f"{len(qs)} queries; {len(oracles)} DuckDB-oracle-checked "
        "(hash-matched at sf0.01 by the driver), the rest rows-only with "
        "pytest property/recall coverage. Generated by "
        "tools/gen_query_index.py — do not edit.",
        "",
        "| query | oracle | contract |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        fn = qs[name]
        para = " ".join((fn.__doc__ or "").strip().split())
        # first sentence (up to the first period followed by space/end)
        doc = para
        for i, ch in enumerate(para):
            if ch == "." and (i + 1 == len(para) or para[i + 1] == " "):
                doc = para[: i + 1]
                break
        if len(doc) > 220:
            doc = doc[:217] + "..."
        doc = doc.replace("|", "\\|")
        mode = "SQL-exact" if name in oracles else "rows-only"
        lines.append(f"| `{name}` | {mode} | {doc} |")
    with open(os.path.join(REPO, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"QUERIES.md: {len(qs)} queries ({len(oracles)} oracle-checked)")


if __name__ == "__main__":
    main()
