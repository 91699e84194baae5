"""DSN alias registry — parity for the reference's ``--dsn`` connect
path (reference src/connection.rs:11-47: ``--dsn`` identifies the data
source, conflicts with the connection string, and ``--user`` /
``--password`` ride alongside it).

ODBC DSNs live in an OS/driver-manager registry; the Spark-idiomatic
equivalent is a small JSON alias file mapping a name to a JDBC URL plus
optional default credentials, so a ``--dsn``-based reference invocation
ports one-to-one:

    {"warehouse": {"url": "jdbc:postgresql://db:5432/wh",
                   "user": "etl", "password": "..."}}

Lookup order for the file: the ``ODBC2PARQUET_SPARK_DSN_FILE``
environment variable, else ``~/.odbc2parquet_spark/dsn.json``. An
unresolvable name raises an ACTIONABLE error naming the file consulted
and the aliases it defines — the failure a user hits first when porting
a ``--dsn`` script.
"""

from __future__ import annotations

import json
import os

ENV_VAR = "ODBC2PARQUET_SPARK_DSN_FILE"
DEFAULT_DSN_FILE = "~/.odbc2parquet_spark/dsn.json"


def dsn_file_path() -> str:
    """The alias file this process would consult (env override first)."""
    return os.path.expanduser(os.environ.get(ENV_VAR) or DEFAULT_DSN_FILE)


def load_dsn_registry() -> dict[str, dict]:
    """Parse the alias file into {name: {url, user?, password?}}.

    A missing file is an empty registry (the common case for users who
    never use ``--dsn``); a malformed file or entry is an error naming
    the file, not a silent skip.
    """
    path = dsn_file_path()
    if not os.path.isfile(path):
        return {}
    try:
        with open(path) as f:
            raw = json.load(f)
    except ValueError as exc:
        raise ValueError(f"DSN alias file {path!r} is not valid JSON: {exc}")
    if not isinstance(raw, dict):
        raise ValueError(f"DSN alias file {path!r} must be a JSON object mapping dsn name -> entry")
    reg: dict[str, dict] = {}
    for name, entry in raw.items():
        if isinstance(entry, str):
            entry = {"url": entry}  # shorthand: "name": "jdbc:..."
        if not isinstance(entry, dict) or "url" not in entry:
            raise ValueError(
                f"DSN alias {name!r} in {path!r} must be a JDBC URL string "
                "or an object with a 'url' key"
            )
        reg[name] = entry
    return reg


def resolve_dsn(name: str) -> dict:
    """Resolve a DSN alias to its {url, user?, password?} entry.

    The error path mirrors what an ODBC driver manager tells you about
    an unknown DSN, made actionable: which file was consulted, which
    aliases exist, and how to register the missing one.
    """
    reg = load_dsn_registry()
    if name in reg:
        return reg[name]
    known = ", ".join(sorted(reg)) if reg else "(none)"
    raise ValueError(
        f"unknown DSN {name!r}: alias file {dsn_file_path()!r} "
        f"{'defines: ' + known if reg else 'does not exist or is empty'}. "
        f"Register it as {{\"{name}\": {{\"url\": \"jdbc:...\"}}}} there, "
        f"point {ENV_VAR} at another alias file, or pass --jdbc-url directly."
    )
