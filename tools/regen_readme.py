"""Regenerate README.md's per-module registry tables from the module
dicts — keeps the README's public-API section mechanically in sync with
`queries/*.py` (keys appear/disappear only by editing the modules).

Usage: python tools/regen_readme.py   (rewrites README.md in place)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from imperio_patitas_etl_spark.queries import _MODULES, all_queries  # noqa: E402

#: display heading per module file name
HEADINGS = {
    "core": "Core relational (scans, joins, aggregates, windows, upserts, "
    "sketches, pivot/unpivot, histograms, set ops, SQL surface)",
    "entity": "Reference-fidelity entity pipeline (scalar layer + "
    "filter/project)",
    "tpch": "TPC-H plan shapes (all 22; Q2/Q11 over a derived partsupp)",
    "streaming_ops": "Event-time windows, joins, sessionization",
    "text": "Text analysis + deduplication + corpus filtering + "
    "collocations",
    "corpus": "Corpus assembly (chunk/pack/span-dedup/PII/mixture/BPE/"
    "PPS sampling)",
    "analytics": "Warehouse analytics (SCD2, funnel, retention, bloom, "
    "CM sketch, Z-order, profiling, skyline, resample, IVM, rolling "
    "distinct)",
    "vector": "Embedding similarity (ANN + near-dup) + feature scaling",
    "affinity": "Affinity, reconciliation & retrieval (market-basket, "
    "PageRank, triangles, CDC diff, BM25)",
    "multimodal_ops": "Multimodal (binary columns)",
}

ORDER = [
    "core",
    "entity",
    "tpch",
    "streaming_ops",
    "text",
    "corpus",
    "analytics",
    "vector",
    "affinity",
    "multimodal_ops",
]


def main() -> None:
    n = len(all_queries())
    mods = {m.__name__.rsplit(".", 1)[-1]: m for m in _MODULES}
    parts: list[str] = []
    for name in ORDER:
        mod = mods[name]
        parts.append(f"**{HEADINGS[name]}** — `queries/{name}.py`\n")
        parts.append("| key | implementation |")
        parts.append("| --- | --- |")
        for key in sorted(mod.QUERIES):
            fn = mod.QUERIES[key].__name__
            parts.append(f"| `{key}` | `{fn}` |")
        parts.append("")
    tables = "\n".join(parts)

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "README.md")
    with open(path) as f:
        text = f.read()

    head_re = re.compile(
        r"(## Query registry \(the public API\)\n).*?(?=\n## )", re.DOTALL
    )
    intro = (
        "\nEvery key below is a driver-checkable unit: a PySpark callable in\n"
        f"`queries()` AND a DuckDB oracle in `oracle_sql()` ({n} of {n} — no\n"
        "rows-only entries), hash-compared value-for-value each round. Keys map\n"
        "to `q_<key>`-style functions in the named module; the docstring of each\n"
        "function cites the operator it wraps and the reference lines it\n"
        "re-expresses.\n\n"
    )
    new_text = head_re.sub(lambda m: m.group(1) + intro + tables + "\n", text)
    # keep the Layout blurb's key count honest too
    new_text = re.sub(
        r"driver-facing registry: \d+ oracle-checked",
        f"driver-facing registry: {n} oracle-checked",
        new_text,
    )
    with open(path, "w") as f:
        f.write(new_text)
    print(f"README.md regenerated: {n} keys")


if __name__ == "__main__":
    main()
