"""Seeded inputs and engine-free expectations for the ``etl_jobs`` workload.

``render(out_dir, seed, scale)`` writes every input the workload feeds
the engine -- lineitem-shaped CSV (header/footer lines), fixed-width TXT
and parquet extracts, the existing targets the reprocess merge runs
against, the RPC stub's initial models and the online jobs' inline
payloads -- and returns a description of the jobs plus their expected
results.  The expectations are computed here in plain Python from the
files just written (the parquet files are read back with pyarrow), never
through Spark, so they are independent of the engine under test.

The seed fixes every value: the rows, the share of staged keys that
already exist in each target (and with it the kept / updated / inserted
/ replaced mix the merge sees) and the RPC rows planted as bad (negative
amount, which the stub rejects, so the per-row error isolation runs).
"""

from __future__ import annotations

import base64
import csv
import io
import json
import os
import random
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal

import pyarrow as pa
import pyarrow.parquet as pq

RAW_COLS = ("pk", "orderkey", "quantity", "price", "discount", "flag", "shipmode")
OUT_COLS = ("pk", "orderkey", "qty", "net", "flag", "mode", "batch")
SHIPMODES = ("AIR", "MAIL", "SHIP", "TRUCK", "RAIL", "FOB", "REG AIR")
SHIPMODE_LABELS = {
    "AIR": "Air",
    "MAIL": "Mail",
    "SHIP": "Ship",
    "TRUCK": "Truck",
    "RAIL": "Rail",
}
SHIPMODE_DEFAULT = "Other"
EXCLUDED_FLAG = "R"  # the extract domain is [("flag", "!=", "R")]
CSV_SEP = ";"
# fixed-width extract physics: (name, 1-based position, length)
TXT_IN = (
    ("pk", 1, 12),
    ("orderkey", 13, 10),
    ("quantity", 23, 3),
    ("price", 26, 12),
    ("discount", 38, 5),
    ("flag", 43, 1),
    ("shipmode", 44, 10),
)
TXT_HEADER = (("hrec", 1, 1), ("batch", 2, 8))
TXT_FOOTER = (("trec", 1, 1), ("n_lines", 2, 8))
# fixed-width load physics: (name, length, align, fill)
TXT_OUT = (
    ("pk", 12, "ljust", " "),
    ("orderkey", 10, "rjust", "0"),
    ("qty", 3, "rjust", "0"),
    ("net", 12, "rjust", " "),
    ("flag", 1, "ljust", " "),
    ("mode", 8, "ljust", " "),
    ("batch", 8, "ljust", " "),
)
BULK_MODES = {"csv": "update", "txt": "noupdate", "parquet": "delete"}
RPC_SRC_MODEL = "perfbench.src.line"
RPC_DST_MODEL = "perfbench.dst.line"


@dataclass(frozen=True)
class Scale:
    bulk_rows: int  # staged rows per bulk job
    bulk_files: int  # input files per bulk job
    rpc_rows: int  # source records on the stub
    online_jobs: int
    online_rows: int  # lines per online payload


# Sized so that a whole run (inputs, session, warm-up, one pass, checks)
# stays under a minute on four cores: one online job costs about 1.5 s,
# and the warm-up, which no scale setting shortens, about 30 s.
BENCH_SCALE = Scale(bulk_rows=6000, bulk_files=2, rpc_rows=80, online_jobs=4, online_rows=20)
WARM_SCALE = Scale(bulk_rows=200, bulk_files=2, rpc_rows=24, online_jobs=1, online_rows=5)


@dataclass
class BulkJob:
    kind: str  # csv | txt | parquet
    mode: str  # reprocess mode
    inputs: str  # extract path (directory)
    target: str  # existing-target parquet directory
    output: str  # load path
    ledger: str
    batch: str
    expected_rows: list  # output rows, OUT_COLS order, canonical strings
    expected_actions: dict  # merge action -> count
    expected_lines: list | None = None  # txt: the exact ordered output lines


@dataclass
class RpcFamily:
    state_path: str  # the stub's initial models
    target: list  # existing target rows (pk, name, v, model_id)
    ledger: str
    expected_actions: dict
    expected_levels: dict  # ledger level -> count (load_sink's ledger)
    planted_bad: set  # pks the seed planted as bad
    expected_purged: int
    expected_final: list  # sorted (pk, name, v) on the destination model


@dataclass
class OnlineJob:
    name: str
    payload_b64: str
    output: str
    ledger: str
    expected_rows: list


@dataclass
class Rendered:
    seed: int
    run_date: str
    bulk: list = field(default_factory=list)
    rpc: RpcFamily | None = None
    online: list = field(default_factory=list)

    @property
    def bulk_rows_committed(self) -> int:
        return sum(len(j.expected_rows) for j in self.bulk)


# ------------------------------------------------------------------ values
def _raw_row(rng: random.Random, orderkey: int, line: int) -> dict:
    price = Decimal(rng.randint(100, 9_999_999)) / 100
    return {
        "pk": f"L{orderkey:08d}-{line}",
        "orderkey": orderkey,
        "quantity": rng.randint(1, 50),
        "price": f"{price:.2f}",
        "discount": f"0.{rng.randint(0, 10):02d}",
        "flag": rng.choice("AANNR"),
        "shipmode": rng.choice(SHIPMODES),
    }


def _transform(raw: dict, batch: str) -> tuple:
    """The workload's field program, in plain Python (Spark ROUND is
    HALF_UP on decimals)."""
    net = (Decimal(raw["price"]) * (1 - Decimal(raw["discount"]))).quantize(
        Decimal("0.01"), rounding=ROUND_HALF_UP
    )
    return (
        raw["pk"],
        int(raw["orderkey"]),
        int(raw["quantity"]),
        str(net),
        raw["flag"],
        SHIPMODE_LABELS.get(raw["shipmode"], SHIPMODE_DEFAULT),
        batch,
    )


def _merge(target: list, staged: list, mode: str) -> list:
    """operators.merge.apply_reprocess_mode semantics over tuples whose
    first field is the key: returns [(row, action)]."""
    t = {r[0]: r for r in target}
    s = {r[0]: r for r in staged}
    out = []
    for k, row in t.items():
        if k not in s:
            out.append((row, "kept"))
        elif mode == "noupdate":
            out.append((row, "kept"))
        else:
            out.append((s[k], "updated" if mode == "update" else "replaced"))
    out.extend((row, "inserted") for k, row in s.items() if k not in t)
    return out


def _count(actions) -> dict:
    out: dict = {}
    for a in actions:
        out[a] = out.get(a, 0) + 1
    return out


def _fw(value, length: int, align: str, fill: str) -> str:
    s = str(value)
    if align == "rjust":
        return s[-length:] if len(s) > length else s.rjust(length, fill)
    return s.ljust(length, fill)[:length]


def _out_table(rows: list) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[] for _ in OUT_COLS]
    return pa.table(
        {
            "pk": pa.array(cols[0], pa.string()),
            "orderkey": pa.array(cols[1], pa.int64()),
            "qty": pa.array(cols[2], pa.int32()),
            "net": pa.array(cols[3], pa.string()),
            "flag": pa.array(cols[4], pa.string()),
            "mode": pa.array(cols[5], pa.string()),
            "batch": pa.array(cols[6], pa.string()),
        }
    )


# ------------------------------------------------------------- file codecs
def _write_csv(path: str, batch: str, run_date: str, rows: list) -> None:
    with open(path, "w", newline="") as fh:
        fh.write(f"H{CSV_SEP}{batch}{CSV_SEP}{run_date}\n")
        for r in rows:
            fh.write(CSV_SEP.join(str(r[c]) for c in RAW_COLS) + "\n")
        fh.write(f"T{CSV_SEP}{len(rows)}\n")


def _read_csv(path: str) -> tuple[str, list]:
    with open(path, newline="") as fh:
        lines = list(csv.reader(fh, delimiter=CSV_SEP))
    batch = lines[0][1]
    return batch, [dict(zip(RAW_COLS, ln)) for ln in lines[1:-1]]


def _write_txt(path: str, batch: str, rows: list) -> None:
    with open(path, "w") as fh:
        fh.write("H" + batch.ljust(8) + "\n")
        for r in rows:
            fh.write("".join(str(r[n]).ljust(ln) for n, _, ln in TXT_IN) + "\n")
        fh.write("T" + str(len(rows)).rjust(8) + "\n")


def _read_txt(path: str) -> tuple[str, list]:
    with open(path) as fh:
        lines = fh.read().splitlines()
    batch = lines[0][1:9].strip()
    body = [
        {n: ln[p - 1 : p - 1 + w].strip() for n, p, w in TXT_IN} for ln in lines[1:-1]
    ]
    return batch, body


def _write_parquet(path: str, batch: str, rows: list) -> None:
    pq.write_table(
        pa.table(
            {
                "pk": [r["pk"] for r in rows],
                "orderkey": pa.array([r["orderkey"] for r in rows], pa.int64()),
                "quantity": pa.array([r["quantity"] for r in rows], pa.int32()),
                "price": [r["price"] for r in rows],
                "discount": [r["discount"] for r in rows],
                "flag": [r["flag"] for r in rows],
                "shipmode": [r["shipmode"] for r in rows],
                "batch": [batch] * len(rows),
            }
        ),
        path,
    )


def _read_parquet(path: str) -> list:
    return pq.read_table(path).to_pylist()


# ------------------------------------------------------------------ render
def _render_bulk(rng, root, kind, scale, run_date, first_key) -> BulkJob:
    d = os.path.join(root, kind)
    inputs = os.path.join(d, "in")
    os.makedirs(inputs)
    batch = f"B{rng.randint(0, 9_999_999):07d}"
    raws = [
        _raw_row(rng, first_key + i // 4, i % 4 + 1) for i in range(scale.bulk_rows)
    ]
    per_file = -(-len(raws) // scale.bulk_files)
    for f in range(scale.bulk_files):
        chunk = raws[f * per_file : (f + 1) * per_file]
        p = os.path.join(inputs, f"part-{f:03d}.{kind}")
        if kind == "csv":
            _write_csv(p, batch, run_date, chunk)
        elif kind == "txt":
            _write_txt(p, batch, chunk)
        else:
            _write_parquet(p, batch, chunk)

    # Expectations start from the files on disk, not from ``raws``.
    staged = []
    for name in sorted(os.listdir(inputs)):
        p = os.path.join(inputs, name)
        if kind == "csv":
            b, rows = _read_csv(p)
        elif kind == "txt":
            b, rows = _read_txt(p)
        else:
            rows = _read_parquet(p)
            b = rows[0]["batch"] if rows else batch
        staged.extend(_transform(r, b) for r in rows if r["flag"] != EXCLUDED_FLAG)

    # Existing target: a seeded share of the staged keys plus target-only keys.
    overlap = rng.uniform(0.3, 0.5)
    matched = [r for r in staged if rng.random() < overlap]
    target = [
        (r[0], r[1], r[2] + 1, str(Decimal(r[3]) + 1), r[4], r[5], "OLD")
        for r in matched
    ]
    n_only = rng.randint(scale.bulk_rows // 20, scale.bulk_rows // 10)
    target += [
        (f"X{first_key:08d}-{i}", first_key + i, 1, "1.00", "A", "Air", "OLD")
        for i in range(n_only)
    ]
    target_dir = os.path.join(d, "target")
    os.makedirs(target_dir)
    pq.write_table(_out_table(target), os.path.join(target_dir, "part-000.parquet"))
    target = [tuple(r.values()) for r in _read_parquet(target_dir)]

    mode = BULK_MODES[kind]
    merged = _merge(target, staged, mode)
    rows = [r for r, _ in merged]
    job = BulkJob(
        kind=kind,
        mode=mode,
        inputs=inputs,
        target=target_dir,
        output=os.path.join(d, "out"),
        ledger=os.path.join(d, "ledger"),
        batch=batch,
        expected_rows=rows,
        expected_actions=_count(a for _, a in merged),
    )
    if kind == "txt":
        job.expected_lines = [
            "".join(_fw(r[OUT_COLS.index(n)], ln, al, fi) for n, ln, al, fi in TXT_OUT)
            for r in sorted(rows, key=lambda r: r[0])
        ]
    return job


def _render_rpc(rng, root, scale) -> RpcFamily:
    d = os.path.join(root, "rpc")
    os.makedirs(d)
    src = []
    for i in range(1, scale.rpc_rows + 1):
        src.append(
            {
                "id": i,
                "name": f"item{i:05d}",
                "amount": float(rng.randint(1, 999)),
                "active": rng.random() < 0.9,
            }
        )
    active = [r for r in src if r["active"]]
    bad = rng.sample(active, max(2, len(active) // 60))
    for r in bad:
        r["amount"] = -r["amount"]
    planted = {str(r["id"]) for r in bad}

    overlap = rng.uniform(0.3, 0.5)
    dst, target = [], []
    next_dst = 10_000
    for r in src:  # inactive keys may overlap too: they end up stale
        if rng.random() < overlap:
            rec = {"id": next_dst, "pk": str(r["id"]), "name": f"OLD{r['id']}", "v": 0}
            dst.append(rec)
            target.append((rec["pk"], rec["name"], 0, next_dst))
            next_dst += 1
    for j in range(rng.randint(3, max(4, scale.rpc_rows // 20))):
        rec = {"id": next_dst, "pk": f"X{j}", "name": f"GONE{j}", "v": 0}
        dst.append(rec)
        target.append((rec["pk"], rec["name"], 0, next_dst))
        next_dst += 1
    state_path = os.path.join(d, "stub_state.json")
    with open(state_path, "w") as fh:
        json.dump({"models": {RPC_SRC_MODEL: src, RPC_DST_MODEL: dst}}, fh)

    # Expectations: the server-side domain keeps active rows; the field
    # program is pk=id, name=UPPER(name), v=amount; reprocess 'update'.
    with open(state_path) as fh:
        models = json.load(fh)["models"]
    staged = [
        (str(r["id"]), r["name"].upper(), int(r["amount"]))
        for r in models[RPC_SRC_MODEL]
        if r["active"]
    ]
    tgt = {t[0]: t for t in target}
    merged = _merge([t[:3] for t in target], staged, "update")
    levels = {"info": 0, "error": 0}
    final = {rec["id"]: (rec["pk"], rec["name"], rec["v"]) for rec in models[RPC_DST_MODEL]}
    purged = 0
    for (pk, name, v), act in merged:
        ok = act == "kept" or v >= 0
        levels["info" if ok else "error"] += 1
        if act == "updated" and ok:
            final[tgt[pk][3]] = (pk, name, v)
        elif act == "inserted" and ok:
            final[("new", pk)] = (pk, name, v)
        elif act == "kept":
            del final[tgt[pk][3]]
            purged += 1
    return RpcFamily(
        state_path=state_path,
        target=target,
        ledger=os.path.join(d, "ledger"),
        expected_actions=_count(a for _, a in merged),
        expected_levels=levels,
        planted_bad=planted,
        expected_purged=purged,
        expected_final=sorted(final.values()),
    )


def _render_online(rng, root, scale, first_key) -> list:
    d = os.path.join(root, "online")
    os.makedirs(d)
    jobs = []
    for j in range(scale.online_jobs):
        raws = [
            _raw_row(rng, first_key + j * scale.online_rows + i, 1)
            for i in range(scale.online_rows)
        ]
        text = "".join(CSV_SEP.join(str(r[c]) for c in RAW_COLS) + "\n" for r in raws)
        payload = base64.b64encode(text.encode()).decode()
        # expectations from the payload itself, decoded again
        decoded = base64.b64decode(payload).decode()
        rows = [
            dict(zip(RAW_COLS, ln))
            for ln in csv.reader(io.StringIO(decoded), delimiter=CSV_SEP)
        ]
        jobs.append(
            OnlineJob(
                name=f"online_{j:04d}",
                payload_b64=payload,
                output=os.path.join(d, f"out_{j:04d}"),
                ledger=os.path.join(d, f"ledger_{j:04d}"),
                expected_rows=[
                    _transform(r, "ONLINE") for r in rows if r["flag"] != EXCLUDED_FLAG
                ],
            )
        )
    return jobs


def render(out_dir: str, seed: int, scale: Scale) -> Rendered:
    """Write the workload's inputs under ``out_dir`` (which must not
    exist) and return the jobs with their expected results."""
    os.makedirs(out_dir)
    rng = random.Random(seed)
    run_date = f"2026-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    out = Rendered(seed=seed, run_date=run_date)
    for i, kind in enumerate(("csv", "txt", "parquet")):
        out.bulk.append(
            _render_bulk(rng, out_dir, kind, scale, run_date, 1_000_000 * (i + 1))
        )
    out.rpc = _render_rpc(rng, out_dir, scale)
    out.online = _render_online(rng, out_dir, scale, 9_000_000)
    return out
