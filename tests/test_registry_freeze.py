"""Registry freeze: the registered query names and their DuckDB oracle
SQL texts are a frozen contract. Simplification happens below the
registry, so any change that adds, drops or renames a query, or edits
an oracle text, fails here — on purpose, before any Spark run.

The digest is a sha256 over the queries sorted by name: for each, the
name, a NUL byte, the oracle text and a 0x01 byte. It does not depend
on PYTHONHASHSEED or on module import order."""

from __future__ import annotations

import hashlib

from geoparquet_python_spark import registry

registry.load_all()

_N_QUERIES = 307
_DIGEST = "efdeb3685e7e3d7355369ac2989b2f89479f1bebeb961e77cc7e10a849859ef0"


def test_registry_is_frozen():
    assert len(registry.QUERIES) == _N_QUERIES
    h = hashlib.sha256()
    for name in sorted(registry.QUERIES):
        oracle = registry.ORACLES.get(name, "")
        h.update(name.encode() + b"\0" + oracle.encode() + b"\1")
    assert h.hexdigest() == _DIGEST
