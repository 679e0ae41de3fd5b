"""INI connection bootstrap (SURVEY operational parity).

The reference resolves credentials per database section from
``$ETL_INI_CONFIG_PWD/config/etl.ini`` (falling back to ``$PWD``),
keys host/port/username/password (cubicerpetl/cbc_xmlrpc.py:39-55).
The engine's analogue maps an INI section onto a ``ServerSpec`` so
deployments can keep endpoints out of code; explicit keyword overrides
win over file values, mirroring the reference's argument precedence.

Recognized section keys (all optional): ``etl_type`` (fs|db|rpc),
``fs_path``, ``fs_protocol`` (file|ftp), ``host``, ``port``,
``username``, ``password``, ``spool_dir``, ``encoding``. The db family
runs its SQL in Spark SQL, so a section carries no JDBC url.
"""

from __future__ import annotations

import configparser
import os

from cubicerp_client_etl_spark.plans.spec import ServerSpec


def default_ini_path() -> str:
    """The reference's search order: $ETL_INI_CONFIG_PWD/config/etl.ini,
    then $PWD/config/etl.ini."""
    base = os.environ.get("ETL_INI_CONFIG_PWD") or os.environ.get("PWD") or "."
    return os.path.join(base, "config", "etl.ini")


def server_spec_from_ini(
    section: str, path: str | None = None, **overrides
) -> ServerSpec:
    """Build a ServerSpec from one INI section; kwargs override file
    values (the reference's explicit-argument precedence)."""
    ini = path or default_ini_path()
    parser = configparser.ConfigParser()
    if not parser.read(ini):
        raise FileNotFoundError(f"no readable INI at {ini}")
    if not parser.has_section(section):
        raise KeyError(f"section {section!r} not in {ini}")
    sec = parser[section]

    values = {
        "name": section,
        "etl_type": sec.get("etl_type", "fs"),
        "fs_path": sec.get("fs_path", ""),
        "fs_protocol": sec.get("fs_protocol", "file"),
        "fs_host": sec.get("host", ""),
        "fs_port": sec.getint("port", 21),
        "login": sec.get("username", "anonymous"),
        "password": sec.get("password", ""),
        "spool_dir": sec.get("spool_dir", None),
        "encoding": sec.get("encoding", "UTF-8"),
    }
    values.update(overrides)
    return ServerSpec(**values)
