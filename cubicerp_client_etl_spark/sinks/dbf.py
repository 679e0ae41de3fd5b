"""DBF (dBase III) writer (SURVEY I5).

The reference appends rows to a ``dbf.Table`` driver-side, one record at
a time (cubicerpetl/cubicerpetl.py:446-464, 588-596). No ``dbf`` package
exists in this container, so the engine carries a minimal built-in
dBase III encoder that round-trips with ``sources/dbf.read_dbf``.

Scale posture: DBF is a legacy small-export interchange format — a
single unsplittable file with 32-bit record counts — so this sink is
deliberately a *driver-side* stream (``toLocalIterator``: one partition
in memory at a time, never a full ``collect``), exactly like the CSV
single-file path. It is not, and cannot be, a 100 TB path; large
exports belong in Parquet (I8).

Field mapping (inferred from the DataFrame schema unless ``specs`` is
given): string→C, float/double→N(length,dec), int/long→N(length,0),
boolean→L, date→D.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from pyspark.sql import DataFrame


@dataclass(frozen=True)
class DbfField:
    name: str  # max 10 chars, ascii
    ftype: str  # C N L D
    length: int
    decimals: int = 0


_DEFAULTS = {
    "string": ("C", 64, 0),
    "double": ("N", 19, 6),
    "float": ("N", 19, 6),
    "bigint": ("N", 19, 0),
    "int": ("N", 11, 0),
    "smallint": ("N", 6, 0),
    "boolean": ("L", 1, 0),
    "date": ("D", 8, 0),
}


def _infer_specs(df: DataFrame) -> list[DbfField]:
    specs = []
    for name, dtype in df.dtypes:
        base = dtype.split("(")[0]
        if base not in _DEFAULTS:
            raise NotImplementedError(
                f"DBF writer: no dBase mapping for column {name!r} of type {dtype!r};"
                " cast to string/double/bigint/boolean/date first"
            )
        ftype, length, dec = _DEFAULTS[base]
        specs.append(DbfField(name[:10], ftype, length, dec))
    return specs


def _encode_value(v, f: DbfField) -> bytes:
    if f.ftype == "C":
        s = "" if v is None else str(v)
        return s[: f.length].ljust(f.length).encode("latin-1", "replace")
    if f.ftype == "N":
        if v is None:
            s = ""
        elif f.decimals:
            s = f"{float(v):.{f.decimals}f}"
        else:
            s = str(int(v))
        if len(s) > f.length:
            raise ValueError(f"value {s} wider than N({f.length}) field {f.name}")
        return s.rjust(f.length).encode("ascii")
    if f.ftype == "L":
        return b"?" if v is None else (b"T" if v else b"F")
    if f.ftype == "D":
        if v is None:
            return b" " * 8
        return f"{v:%Y%m%d}".encode("ascii") if hasattr(v, "strftime") else str(
            v
        ).replace("-", "")[:8].encode("ascii")
    raise NotImplementedError(f.ftype)


def write_dbf(df: DataFrame, path: str, specs: list[DbfField] | None = None) -> int:
    """Write ``df`` to a single .dbf file at ``path`` (local filesystem).
    Returns the record count. Streams partitions driver-side — bounded
    memory, but single-writer by format design (see module docstring).
    Character fields are always latin-1 (an unencodable character
    becomes ``?``), whatever encoding the load resource or its server
    declares."""
    specs = specs or _infer_specs(df)
    record_len = 1 + sum(f.length for f in specs)
    header_len = 32 + 32 * len(specs) + 1

    rows = df.toLocalIterator()
    n = 0
    with open(path, "wb") as fh:
        # placeholder header, rewritten with the final count at the end
        fh.write(b"\x00" * header_len)
        for row in rows:
            fh.write(b" ")
            for f, col in zip(specs, df.columns):
                fh.write(_encode_value(row[col], f))
            n += 1
        fh.write(b"\x1a")
        fh.seek(0)
        # dBase III header: version, fixed last-update stamp (deterministic
        # output beats a real mtime for an interchange file), counts
        fh.write(struct.pack("<B3BIHH", 0x03, 100, 1, 1, n, header_len, record_len))
        fh.write(b"\x00" * 20)
        for f in specs:
            desc = f.name.encode("ascii").ljust(11, b"\x00")
            desc += f.ftype.encode("ascii")
            desc += b"\x00" * 4
            desc += struct.pack("<BB", f.length, f.decimals)
            desc += b"\x00" * 14
            fh.write(desc)
        fh.write(b"\x0d")
    return n
