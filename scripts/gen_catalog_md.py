"""Regenerate CATALOG.md from the live query registry."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from energy_data_stream_processing_spark.plans.catalog import all_queries


def render() -> str:
    """CATALOG.md's text for the live registry."""
    qs = all_queries()
    lines = [
        "# CATALOG — generated query inventory",
        "",
        "One row per `__spark_entry__.py::queries()` entry. Gate: ⚖ = value-exact",
        "DuckDB oracle twin (driver-compared at sf0.01; locally swept clean at",
        "sf0.001 and sf0.1); ◦ = rows-only driver check, covered instead by the",
        "property/recall/equivalence tests named in COVERAGE.md. H = timed in",
        "bench.py's headline set.",
        "",
        f"Total: {len(qs)} queries, {sum(1 for q in qs.values() if q.oracle)} with oracle twins, "
        f"{sum(1 for q in qs.values() if q.headline)} headline.",
        "",
        "| Query | Gate | What it does |",
        "|---|---|---|",
    ]
    for name in sorted(qs):
        q = qs[name]
        gate = ("⚖" if q.oracle else "◦") + (" H" if q.headline else "")
        doc = " ".join((q.doc or q.builder.__doc__ or "").split())
        if len(doc) > 220:
            cut = doc[:220]
            doc = cut[: cut.rfind(" ")] + " …"
        lines.append(f"| `{name}` | {gate} | {doc} |")
    lines += [
        "",
        "Full semantics + scale notes live in each builder's docstring/`doc` in",
        "`energy_data_stream_processing_spark/plans/*.py`; regenerate this file with",
        "`python scripts/gen_catalog_md.py`.",
    ]
    return "\n".join(lines) + "\n"


def main() -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "CATALOG.md"), "w") as f:
        f.write(render())
    print(f"CATALOG.md: {len(all_queries())} entries")


if __name__ == "__main__":
    main()
