"""Committed expectations for the two query workloads.

Each op's expected result is stored as a row count plus an
order-independent digest of the canonical rows: columns sorted by
lower-cased name, every value rendered with ``str()``, rows sorted.  The
same canonical form is computed from the DuckDB oracle SQL (when the
expectations are derived) and from the Spark result (on every pass), so
a pass fails an op whose rows differ in any value, count or column name.

Derive the file once, from the registry's DuckDB oracles over the
committed fixture::

    python3 perfbench/expect.py            # rewrites perfbench/expected.json

An op without an oracle would be pinned from a reviewed Spark run and
marked ``"source": "pinned"``; every op in the two workloads has one.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED_PATH = os.path.join(HERE, "expected.json")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def digest_rows(columns: list[str], rows) -> tuple[int, str]:
    """(row count, sha256) of the canonical form of ``rows``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    canon = sorted("\x1f".join(str(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i].lower() for i in order).encode())
    for line in canon:
        h.update(b"\n")
        h.update(line.encode())
    return len(canon), h.hexdigest()


def digest_frame(df) -> tuple[int, str]:
    """Canonical digest of a Spark DataFrame (fetched through Arrow)."""
    return digest_rows(df.columns, [tuple(r.values()) for r in df.toArrow().to_pylist()])


def load() -> dict:
    with open(EXPECTED_PATH) as fh:
        return json.load(fh)


def derive(sf_dir: str, names: list[str]) -> dict:
    import duckdb

    from cubicerp_client_etl_spark.queries import REGISTRY

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for name in names:
        sql = REGISTRY[name].oracle
        if sql is None:
            raise SystemExit(f"{name} has no oracle: pin it from a reviewed run")
        rel = con.execute(sql)
        cols = [d[0] for d in rel.description]
        n, dig = digest_rows(cols, rel.fetchall())
        out[name] = {"rows": n, "digest": dig, "source": "oracle"}
    return out


def main() -> None:
    sys.path.insert(0, os.path.dirname(HERE))
    from workloads import QUERY_WORKLOADS, SF_DIR

    names = sorted({n for ops in QUERY_WORKLOADS.values() for n in ops})
    doc = {
        "sf_dir": os.path.relpath(SF_DIR, os.path.dirname(HERE)),
        "canonical_form": "columns sorted by lower-cased name; str() per value; rows sorted; sha256",
        "ops": derive(SF_DIR, names),
    }
    with open(EXPECTED_PATH, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {len(doc['ops'])} expectations to {EXPECTED_PATH}")


if __name__ == "__main__":
    main()
