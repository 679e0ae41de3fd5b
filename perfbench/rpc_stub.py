"""Loopback Odoo-wire XML-RPC stub, run as its own process.

    python3 perfbench/rpc_stub.py STATE_JSON

Binds 127.0.0.1 on a free port, prints the port on its first stdout
line, and serves ``/xmlrpc/2/common`` ``authenticate`` and
``/xmlrpc/2/object`` ``execute_kw`` with ``search_read``, ``create``,
``write`` and ``unlink`` over the models in STATE_JSON.  A row whose
``v`` is negative is rejected with a Fault, the way a server-side
validation error reaches the engine.

Calls are served one at a time (one lock, like a single-worker server),
and the stub keeps its own account: calls and rows per method, busy time
(decoding, serving and encoding each request), and the most requests it
ever had in flight.  Three
control methods (``perfbench_reset``, ``perfbench_stats``,
``perfbench_dump``) are not counted.  The process exits when its stdin
closes, so it never outlives the benchmark that started it.
"""

from __future__ import annotations

import json
import sys
import threading
import time
import xmlrpc.client
from socketserver import ThreadingMixIn
from xmlrpc.server import SimpleXMLRPCRequestHandler, SimpleXMLRPCServer

DB, LOGIN, PASSWORD, UID = "perfbench", "admin", "secret", 2
METHODS = ("search_read", "create", "write", "unlink")


def _match(row: dict, leaf) -> bool:
    field, op, value = leaf
    x = row.get(field)
    if op == "=":
        return x == value
    if op == "!=":
        return x != value
    if op == "in":
        return x in value
    raise xmlrpc.client.Fault(1, f"unsupported domain operator {op!r}")


class OdooStub:
    def __init__(self, state_path: str) -> None:
        self.state_path = state_path
        self.lock = threading.Lock()
        self.inflight_lock = threading.Lock()
        self.perfbench_reset()

    # ---- control surface (not counted) --------------------------------
    def perfbench_reset(self, state_path: str | None = None) -> bool:
        """Reload the models (from ``state_path`` when given) and zero
        the account."""
        self.state_path = state_path or self.state_path
        with open(self.state_path) as fh:
            models = json.load(fh)["models"]
        self.store = {m: {r["id"]: dict(r) for r in rows} for m, rows in models.items()}
        self.next_id = 1 + max(
            (rid for recs in self.store.values() for rid in recs), default=0
        )
        self.calls = {m: 0 for m in METHODS}
        self.rows = {m: 0 for m in METHODS}
        self.busy_s = 0.0
        self.inflight = 0
        self.max_inflight = 0
        return True

    def perfbench_stats(self) -> dict:
        return {
            "calls": dict(self.calls),
            "rows": dict(self.rows),
            "busy_s": self.busy_s,
            "max_inflight": self.max_inflight,
        }

    def perfbench_dump(self, model: str) -> list:
        return sorted(self.store.get(model, {}).values(), key=lambda r: r["id"])

    # ---- Odoo wire surface --------------------------------------------
    def authenticate(self, db, login, password, _ctx):
        return UID if (db, login, password) == (DB, LOGIN, PASSWORD) else False

    def execute_kw(self, db, uid, password, model, method, args, kwargs=None):
        with self.inflight_lock:
            self.inflight += 1
            self.max_inflight = max(self.max_inflight, self.inflight)
        try:
            with self.lock:
                return self._execute(db, uid, password, model, method, args, kwargs or {})
        finally:
            with self.inflight_lock:
                self.inflight -= 1

    def _execute(self, db, uid, password, model, method, args, kwargs):
        if (db, uid, password) != (DB, UID, PASSWORD):
            raise xmlrpc.client.Fault(3, "AccessDenied")
        if method not in METHODS:
            raise xmlrpc.client.Fault(1, f"unknown method {method}")
        self.calls[method] += 1
        recs = self.store.setdefault(model, {})
        if method == "search_read":
            fields = kwargs.get("fields") or []
            out = [
                {f: r.get(f) for f in fields} if fields else dict(r)
                for r in recs.values()
                if all(_match(r, leaf) for leaf in args[0])
            ]
            self.rows[method] += len(out)
            return out
        if method == "create":
            vals_list = args[0]
            self.rows[method] += len(vals_list)
            if any(v.get("v", 0) < 0 for v in vals_list):
                raise xmlrpc.client.Fault(2, "ValidationError: negative v")
            ids = []
            for vals in vals_list:
                recs[self.next_id] = {"id": self.next_id, **vals}
                ids.append(self.next_id)
                self.next_id += 1
            return ids
        ids = args[0]
        self.rows[method] += len(ids)
        missing = [i for i in ids if i not in recs]
        if missing:
            raise xmlrpc.client.Fault(4, f"missing ids {missing}")
        if method == "write":
            vals = args[1]
            if vals.get("v", 0) < 0:
                raise xmlrpc.client.Fault(2, "ValidationError: negative v")
            for i in ids:
                recs[i].update(vals)
            return True
        for i in ids:  # unlink
            del recs[i]
        return True


class _Handler(SimpleXMLRPCRequestHandler):
    rpc_paths = ("/xmlrpc/2/common", "/xmlrpc/2/object", "/perfbench")

    def log_message(self, *args):
        pass


class _Server(ThreadingMixIn, SimpleXMLRPCServer):
    daemon_threads = True

    def _marshaled_dispatch(self, data, dispatch_method=None, path=None):
        """Busy time covers decoding, the call and encoding the reply."""
        t0 = time.perf_counter()
        try:
            return super()._marshaled_dispatch(data, dispatch_method, path)
        finally:
            if path != "/perfbench":
                with self.instance.inflight_lock:
                    self.instance.busy_s += time.perf_counter() - t0


def main() -> None:
    stub = OdooStub(sys.argv[1])
    srv = _Server(("127.0.0.1", 0), requestHandler=_Handler, allow_none=True, logRequests=False)
    srv.register_instance(stub)
    print(srv.server_address[1], flush=True)

    def watch_stdin():
        sys.stdin.read()  # returns at EOF: the parent closed the pipe or died
        srv.shutdown()

    threading.Thread(target=watch_stdin, daemon=True).start()
    srv.serve_forever()
    srv.server_close()


if __name__ == "__main__":
    main()
