"""Order-insensitive result digests.

The canonical form is the one ``.dev/driver_sim.py`` uses for the oracle
check (columns sorted by name, type-tagged cells, floats to nine
significant digits, rows sorted), loaded from that file so both checks
share one rule.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os
import sys


def _load_canonicalize():
    path = os.path.join(os.getcwd(), ".dev", "driver_sim.py")
    spec = importlib.util.spec_from_file_location("_perfbench_driver_sim", path)
    module = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(module)
    finally:
        sys.path[:] = saved  # the script prepends its own repo path
    return module.canonicalize


canonicalize = _load_canonicalize()


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Row count plus a hash of the canonical rows."""
    cols, canon = canonicalize(list(columns), rows)
    h = hashlib.sha256("\x1e".join(cols).encode())
    for row in canon:
        h.update(("\x1f".join(row) + "\n").encode())
    return {"rows": len(canon), "digest": h.hexdigest()[:20]}
