"""Declarative pipeline spec — the reference's server-side metadata model
re-expressed as local dataclasses (SURVEY §1.2).

Reference model → spec mapping:

| reference (RPC-fetched record)       | here                       |
|--------------------------------------|----------------------------|
| etl.server  (cubicerpetl.py:158-165) | ServerSpec                 |
| etl.resource (:98-142)               | ResourceSpec               |
| etl.resource.column (:105-109)       | ColumnSpec                 |
| etl.field (:121-139,149-154)         | FieldSpec                  |
| etl.transform (:144-156)             | TransformSpec              |
| etl.mapping(.line) (:624-649)        | MappingSpec                |
| etl.job (:74-92)                     | JobSpec                    |

The reference fetches these over XML-RPC per run and memo-caches them
(:50-57); here they are plain values handed to the interpreter — specs
are data, the engine's intelligence is spec→DataFrame compilation, and
Catalyst does the rest.

Security stance (SURVEY §4.4.6): where the reference eval/execs
server-supplied Python with live connections in scope, FieldSpec.value
is a *SQL expression string* compiled via ``F.expr`` — declarative,
optimizer-visible, no interpreter escape. Arbitrary Python enters only
through explicit ``python_hook`` callables the caller registers.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable, Literal


@dataclass(frozen=True)
class ServerSpec:
    """Connector endpoint (etl.server). etl_type selects the family:
    'fs' local/posix or FTP paths, 'db' SQL run in Spark SQL, 'rpc'
    external API.

    fs_protocol mirrors the reference's server dispatch
    (cubicerpetl.py:181-187): 'file' resolves a resource's f_filename
    under fs_path (the reference's fs_path/filename, SURVEY A7); 'ftp'
    stages through transports.ftp.FtpTransport (fetch to a local
    spool before the parallel read, put after the single-file write).
    ``encoding`` is the server-wide file encoding; a resource's own
    ``encoding`` wins over it (``interpreter._resolve_file``)."""

    name: str
    etl_type: Literal["fs", "db", "rpc"] = "fs"
    fs_path: str = ""
    fs_protocol: Literal["file", "ftp"] = "file"
    fs_host: str = ""  # ftp endpoint
    fs_port: int = 21
    login: str = "anonymous"
    password: str = ""
    spool_dir: str | None = None  # ftp staging dir; None → temp dir
    encoding: str = "UTF-8"


@dataclass(frozen=True)
class ColumnSpec:
    """File column physics (etl.resource.column): fixed-width position/
    length/align/fill plus the B4 forced value."""

    name: str
    field_name: str = ""
    txt_position: int = 0  # 1-based
    txt_length: int = 0  # the reference spells it txt_lenght [sic]
    txt_align: Literal["ljust", "rjust", "center"] = "ljust"
    txt_fill_char: str = " "
    forced_value: str | None = None


@dataclass(frozen=True)
class ResourceSpec:
    """Table/file/query descriptor (etl.resource)."""

    name: str
    etl_type: Literal["fs", "db", "rpc"] = "fs"
    # fs family ('orc'/'xml' are engine-native Spark formats beyond the
    # reference's csv/txt/dbf surface; xml matches the reference's
    # XML-RPC-era data interchange)
    f_type: Literal["csv", "txt", "dbf", "parquet", "orc", "xml"] = "parquet"
    f_filename: str = ""  # may contain {aaaa}/{mm}/{dd} date template vars
    xml_row_tag: str = "row"  # f_type='xml': element naming one record
    txt_separator: str = ","
    txt_quote: str = '"'
    txt_header: bool = False
    columns: tuple[ColumnSpec, ...] = ()
    header_columns: tuple[ColumnSpec, ...] | None = None
    footer_columns: tuple[ColumnSpec, ...] | None = None
    # db family: the reference ships sql_query to the source DB
    # (cubicerpetl.py:299-302); natively we run it in Spark SQL against
    # registered views instead
    sql_query: str = ""
    # A1 setup/teardown around the main query (cubicerpetl.py:288-302):
    # sql_begin runs (date-templated) before sql_query, then an optional
    # sql_begin_delay-second wait (staging tables that fill
    # asynchronously); sql_end runs after the extract materializes.
    sql_begin: str = ""
    sql_end: str = ""
    sql_begin_delay: float = 0.0
    # rpc family (etl_type='rpc'): the reference's model scan/load
    # (cubicerpetl.py:314-328 extract, :494-537 load). rpc_model names
    # the remote model; the declared ``domain`` ships to the server
    # VERBATIM (delegation — the reference's semantics) instead of
    # filtering locally; rpc_schema types the returned rows. The
    # transport comes from ``server`` (etl_type='rpc' ServerSpec →
    # connectors.xmlrpc.XmlRpcTransport.from_server_spec, database =
    # section name — cbc_xmlrpc.get_connection's shape) unless
    # rpc_transport names a custom 'module:factory' (K4 surface).
    rpc_model: str = ""
    rpc_schema: str = ""
    rpc_transport: str = ""
    rpc_transport_config: str = ""
    # transport endpoint; None → local filesystem ('file' semantics)
    server: "ServerSpec | None" = None
    # domain filter applied after scan (B5)
    domain: tuple = ()
    # B3: constant defaults merged under extracted values
    row_default_value: dict[str, Any] = field(default_factory=dict)
    encoding: str | None = None


@dataclass(frozen=True)
class MappingSpec:
    """Value-decode dictionary (etl.mapping + lines, C1)."""

    name: str
    lines: tuple[tuple[str | None, str], ...] = ()  # (raw value, label)
    default: str | None = None  # is_default line
    return_null: bool = False


@dataclass(frozen=True)
class FieldSpec:
    """Logical output column (etl.field): rename, SQL expression, or
    mapped decode; search_null = B9 null-aware skip."""

    name: str
    field_name: str = ""  # source column (rename/projection, B1)
    value: str = ""  # SQL expression over source columns (B2)
    mapping: str | None = None  # MappingSpec.name (C1)
    search_null: bool = False


@dataclass(frozen=True)
class TransformSpec:
    """Mapping program (etl.transform): output fields + reprocess mode +
    hooks. Hooks are explicit callables (DataFrame → DataFrame), the
    sandboxed replacement for prev/post/end_python_code (K1-K3)."""

    name: str
    fields: tuple[FieldSpec, ...] = ()
    reprocess: Literal["insert", "update", "noupdate", "onlyupdate", "delete"] = (
        "insert"
    )
    filter_domain: tuple = ()  # B7 continue_on as a declarative filter
    limit: int | None = None  # B7 break_on re-specced as a bound
    mappings: tuple[MappingSpec, ...] = ()


@dataclass(frozen=True)
class JobSpec:
    """Pipeline instance (etl.job): extract resource → transform → load
    resource, plus the run date that feeds template vars (H4/H5)."""

    name: str
    extract: ResourceSpec
    transform: TransformSpec
    load: ResourceSpec
    run_date: str = "1970-01-01"
    job_type: Literal["batch", "online"] = "batch"
    input_payload_b64: str | None = None  # online jobs (A6)
    ledger_path: str | None = None  # I7; None disables the ledger write
    pk_field: str = "id"  # merge key for reprocess modes (C4/I1)
    python_hooks: dict[str, Callable] = field(default_factory=dict)
