"""Order-insensitive result digests for the analytics output check.

A result is first put in the canonical form of ``tests/conftest.py``'s
``normalize`` (columns sorted by name, dtypes widened, rows sorted by
their stringified values); that function is imported, not copied. The
digest then hashes every cell exactly (rtol=0, atol=0): floats by their
shortest round-trip repr, so two results hash equal only when every
value is bit-identical. Integral floats hash like the integer, mirroring
``assert_frame_equal(check_dtype=False)``.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import math
import os

import pandas as pd


@functools.cache
def _load_normalize(repo_root: str):
    path = os.path.join(repo_root, "tests", "conftest.py")
    spec = importlib.util.spec_from_file_location("_perfbench_conftest", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def _cell(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "\x00NA"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, float):
        if math.isnan(v):
            return "\x00NA"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, int):
        return str(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if hasattr(v, "item"):  # numpy scalar
        return _cell(v.item())
    return "s" + str(v)


def digest(pdf, repo_root: str) -> str:
    """sha256 over the normalized frame: sorted column names, then rows."""
    norm = _load_normalize(repo_root)(pdf)
    h = hashlib.sha256()
    h.update("\x1e".join(norm.columns).encode())
    for row in norm.itertuples(index=False, name=None):
        h.update(b"\x1d")
        h.update("\x1f".join(_cell(v) for v in row).encode("utf-8", "surrogatepass"))
    return f"{len(norm)}:{h.hexdigest()}"
