"""Python side of the result digest (see Digest.scala): the rows as
tools/local_verify.py normalizes and sorts them, then a SHA-256 over
them.
"""
import functools
import hashlib
import importlib.util
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.lru_cache(maxsize=None)
def local_verify():
    """tools/local_verify.py as a module (it reads sys.argv on import)."""
    path = os.path.join(ROOT, "tools", "local_verify.py")
    spec = importlib.util.spec_from_file_location("local_verify", path)
    mod = importlib.util.module_from_spec(spec)
    argv, sys.argv = sys.argv, [path]
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.argv = argv
    return mod


def digest(tbl):
    """(sha256 hex, row count) of a pyarrow table."""
    cols, rows = local_verify().table_key(tbl)
    h = hashlib.sha256(("cols:" + ",".join(cols) + "\n").encode())
    for r in rows:
        h.update("\x00".join(r).encode() + b"\n")
    return h.hexdigest(), len(rows)
