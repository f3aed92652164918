"""Generate docs/QUERIES.md from the driver-contract registry."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as e

GROUPS = [
    ("w_", "Whisper semantics over `events`"),
    ("g_", "Graphite render-function analogs"),
    ("r_", "Relational layer (TPC-H-ish tables)"),
    ("st_", "Structured Streaming (replay harness)"),
    ("d_", "Deduplication"),
    ("s_", "Similarity search"),
    ("t_", "Text analysis"),
    ("m_", "Multimodal (Pandas-UDF pipelines)"),
]


def main():
    qs, oracles = e.queries(), e.oracle_sql()
    lines = [
        "# Query catalog",
        "",
        "Every driver-contract entry: `queries()` name, one-line semantics",
        "(from the operator docstring), and whether a DuckDB oracle checks it",
        "(rows-only = not SQL-expressible, weaker check).",
        "",
    ]
    for prefix, title in GROUPS:
        names = sorted(n for n in qs if n.startswith(prefix))
        if not names:
            continue
        lines += [f"## {title}", "", "| query | oracle | semantics |", "|---|---|---|"]
        for n in names:
            doc = (qs[n].__doc__ or "").strip().splitlines()
            # a bare `|` would end the table cell early
            first = doc[0].strip().replace("|", r"\|") if doc else ""
            oracle = "✓" if n in oracles else "rows-only"
            lines.append(f"| `{n}` | {oracle} | {first} |")
        lines.append("")
    lines.append(
        f"**{sum(1 for n in qs if n in oracles)} oracle-checked, "
        f"{sum(1 for n in qs if n not in oracles)} rows-only.**"
    )
    lines += [
        "",
        "## Out of scope by design: presentation-only render functions",
        "",
        "Graphite functions that alter legend text or pixel rendering but",
        "not data are deliberately excluded: `cactiStyle`, `legendValue`,",
        "`verticalLine`, `drawAsInfinite`, `dashed`, `color`, `lineWidth`,",
        "`secondYAxis`, `areaMode` cosmetics, `sortByName` (pure legend",
        "order), `alpha`.  Every *data*-semantic function family — moving",
        "windows, selectors, combiners, tags, aliases, generators,",
        "Holt-Winters, summarize, threshold/isNonNull — has an analog",
        "above; alias functions are covered in their data-projection form",
        "(`g_alias_by_node`, `g_alias_by_metric`, `g_alias_sub`,",
        "`g_alias_by_tags`).",
    ]
    os.makedirs("docs", exist_ok=True)
    with open("docs/QUERIES.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote docs/QUERIES.md ({len(qs)} queries)")


if __name__ == "__main__":
    main()
