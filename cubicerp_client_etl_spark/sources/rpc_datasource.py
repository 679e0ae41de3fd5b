"""RPC model scan as a Spark 4 Python DataSource (SURVEY A2/A8).

The reference's RPC extract is a single driver-side
``model.search(domain)`` + ``model.read(ids, fields)``
(cubicerpetl/cubicerpetl.py:314-328) — one process pulls everything.
This DataSource makes the same scan executor-parallel: the driver
splits the declared id space into range slices, and every executor
opens its own transport and fetches only its slice, with the slice
predicate appended to the user domain (the same polish-notation domain
language compiled by compilers/domain.py).

This is the 100 TB posture for RPC extraction: parallelism × batched
reads, no driver materialization — the driver never touches row data.

Usage::

    spark.dataSource.register(RpcModelDataSource)
    df = (spark.read.format("rpc_model")
          .option("transport", "pkg.module:factory_name")
          .option("model", "res.partner")
          .option("domain", '[["active", "=", true]]')
          .option("fields", "id,name")
          .option("schema", "id long, name string")
          .option("id_lo", "0").option("id_hi", "1000")
          .option("num_partitions", "8")
          .load())

``transport`` names a ``'module:factory'`` importable ON THE EXECUTORS
(built by ``connectors.rpc.load_transport``; the factory gets the
``transport_config`` option when one is set) returning an object with
``search_read(model, domain, fields)`` — the same protocol as
connectors/rpc.RpcTransport. Domains are JSON (lists, not tuples, over
the wire).
"""

from __future__ import annotations

import json
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from cubicerp_client_etl_spark.connectors.rpc import load_transport


class _IdSlice(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class RpcModelReader(DataSourceReader):
    def __init__(self, schema, options):
        self.options = options
        self.fields = [
            f.strip() for f in options.get("fields", "").split(",") if f.strip()
        ]
        self.model = options["model"]
        self.domain = json.loads(options.get("domain", "[]"))
        self.transport_spec = options["transport"]
        self.transport_config = options.get("transport_config")
        self.id_lo = int(options.get("id_lo", "0"))
        self.id_hi = int(options.get("id_hi", "0"))
        self.num_partitions = int(options.get("num_partitions", "1"))

    def partitions(self) -> Sequence[InputPartition]:
        n = max(1, self.num_partitions)
        span = self.id_hi - self.id_lo
        if span <= 0 or n == 1:
            return [_IdSlice(self.id_lo, self.id_hi)]
        step = -(-span // n)
        return [
            _IdSlice(lo, min(lo + step, self.id_hi))
            for lo in range(self.id_lo, self.id_hi, step)
        ]

    def read(self, partition: _IdSlice) -> Iterator[tuple]:
        # DataSource options are the only channel to executors: endpoint
        # config (URL, database, credentials or an INI path) rides the
        # ``transport_config`` option string when the factory takes one
        # argument (e.g. connectors.xmlrpc.json_config_factory)
        transport = load_transport(self.transport_spec, self.transport_config)
        domain = list(self.domain)
        if partition.hi > partition.lo:
            domain = [["id", ">=", partition.lo], ["id", "<", partition.hi]] + domain
        rows = transport.search_read(self.model, domain, self.fields)
        names = self.fields
        for r in rows:
            yield tuple(r.get(name) for name in names)


class RpcModelDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rpc_model"

    def schema(self) -> str:
        return self.options["schema"]

    def reader(self, schema) -> RpcModelReader:
        return RpcModelReader(schema, self.options)
