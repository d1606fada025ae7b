"""Temporary directories that live as long as the Python process.

Query builders land feeds, checkpoints and stores in a scratch directory
and hand back a lazy DataFrame over it, so the directory must outlive the
call; it is removed when the interpreter exits instead. This is the one
place the package calls `tempfile.mkdtemp`
(`tests/test_single_owner.py` enforces it)."""

from __future__ import annotations

import atexit
import shutil
import tempfile


def scratch_dir(prefix: str) -> str:
    """A new temporary directory, removed at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path
