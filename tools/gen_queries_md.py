#!/usr/bin/env python
"""Regenerate QUERIES.md (corpus index) from the live registry and the
committed rename table (tools/renames.json). Run after adding/renaming
queries."""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import json  # noqa: E402

from hash_ledger import load_maps, translate  # noqa: E402

from cubicerp_client_etl_spark.queries import REGISTRY  # noqa: E402


def main() -> None:
    n_total = len(REGISTRY)
    n_oracle = sum(1 for q in REGISTRY.values() if q.oracle)
    # round-1 name per current name: chase each round-1 name (the r2
    # map's old keys are the complete round-1 corpus) through the FULL
    # committed rename history (the HASHLEDGER chain), then invert.
    maps = load_maps()
    inv: dict[str, str] = {}
    for r1name in maps[0]:
        cur = translate(r1name, maps)
        if cur in REGISTRY:
            inv[cur] = r1name
    # driver-hash evidence per current name, from the committed ledger
    root_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        with open(os.path.join(root_dir, "HASHLEDGER.json")) as fh:
            hash_rounds = {
                n: e["rounds"] for n, e in json.load(fh)["ledger"].items()
            }
    except (OSError, ValueError, KeyError):
        hash_rounds = {}
    lines = [
        "# Query corpus index",
        "",
        f"{n_total} queries ({n_oracle} DuckDB-oracle-checked).",
        "The driver's first-50-sorted correctness window (q001–q050)",
        "holds a representative of each MAJOR SURVEY §2 family (scan/",
        "filter/join/agg/window/dedup/sketch/similarity/text/multimodal/",
        "lookup) and of every LLM-pipeline component; some niche",
        "sub-operators (xml-id resolve, name-search, insert-if-absent,",
        "merge modes) are out-of-window between rotations and keep",
        "sweep + pytest coverage plus driver hashes under earlier names.",
        "A per-round rotation treadmill (pairwise number swaps, one entry",
        "per rotation in `tools/renames.json`) cycles never-driver-hashed",
        "queries in. Old (round-1) names are listed for cross-referencing",
        "CORRECTNESS_r01 evidence; the rename maps' source of truth is",
        "tools/renames.json, and each round's rationale is in that",
        "round's CHANGES_r*.md. The `driver hashes` column lists every",
        "round in which this query — under ANY historical name — carried",
        "a green driver-hash row, straight from the committed",
        "HASHLEDGER.json (rebuild: `python tools/hash_ledger.py`).",
        "",
        "| # | name | round-1 name (— = added later) | oracle | bench headline | driver window | driver hashes (rounds) |",
        "|---|------|--------------|--------|----------------|---------------|------------------------|",
    ]
    for i, name in enumerate(sorted(REGISTRY)):
        q = REGISTRY[name]
        old = inv.get(name, "—")
        rounds = hash_rounds.get(name) or []
        lines.append(
            f"| {i + 1} | `{name}` | `{old}` | "
            f"{'DuckDB SQL' if q.oracle else 'rows-only (hash-family / stub)'} | "
            f"{'yes' if q.headline else ''} | {'**checked**' if i < 50 else ''} | "
            f"{' '.join(str(r) for r in rounds) if rounds else '—'} |"
        )
    lines += [
        "",
        "Rows-only entries are the deliberately oracle-less operators:",
        "MinHash/LSH and hyperplane-LSH (hash-family dependent), SimHash",
        "(engine-defined hash family), multimodal feature extraction and",
        "resize (decode stubbed without the optional pillow extra),",
        "approx_count_distinct (sketch-based).",
        "",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "QUERIES.md"), "w") as f:
        f.write("\n".join(lines))
    # keep the README corpus-count line in sync
    readme = os.path.join(root, "README.md")
    s = open(readme).read()
    s = re.sub(
        r"the declared corpus: \d+ queries, \d+ DuckDB-oracle-checked",
        f"the declared corpus: {n_total} queries, {n_oracle} DuckDB-oracle-checked",
        s,
    )
    open(readme, "w").write(s)
    print(f"QUERIES.md + README: {n_total} queries, {n_oracle} oracled")


if __name__ == "__main__":
    main()
