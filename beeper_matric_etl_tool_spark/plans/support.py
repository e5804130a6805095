"""Helpers shared by query bodies: scratch directories for the targets and
indexes a query writes, and the join of chains run in driver threads."""

from __future__ import annotations

import atexit
import shutil
import tempfile
import warnings
from concurrent.futures import Future


def workdir(prefix: str) -> str:
    """A fresh temp directory, removed at interpreter exit — not before: a
    query returns a lazy DataFrame that may still read what was written
    there. A fresh directory per call keeps queries idempotent under re-runs."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def results(*futures: Future) -> list:
    """Every future's result, in order. Each one is waited for and read even
    when an earlier one raised; the first failure is re-raised and each later
    one is reported as a warning, so no chain's exception is dropped."""
    out, errors = [], []
    for f in futures:
        try:
            out.append(f.result())
        except BaseException as e:
            errors.append(e)
    for e in errors[1:]:
        warnings.warn(f"a sibling chain also failed: {e!r}", RuntimeWarning, stacklevel=2)
    if errors:
        raise errors[0]
    return out
