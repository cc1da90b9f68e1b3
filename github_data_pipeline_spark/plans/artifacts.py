"""Shared cache-key scheme for persisted per-sf_dir artifacts.

One helper owns the key derivation and cache-root resolution for every
persisted artifact (the near-dup pair table, the learned BPE merge
table, ...), so a future change to the scheme cannot silently apply to
one artifact and not another.  The key folds in:

* the absolute sf_dir path and the mtime of every SOURCE table the
  artifact is built from (``sources``) — regenerating any one of them
  invalidates the cache, and regenerating an unrelated table does not;
* ``extra_key`` — the governing ALGORITHM constants (thresholds, df
  caps, merge counts, pretokenizer pattern).  Without them, editing a
  constant would silently reuse a stale artifact computed under the
  old semantics (the mtime alone cannot see code changes) — a
  confusing oracle-mismatch trap that vanishes after an unrelated
  ``rm -rf .cache``.
"""

from __future__ import annotations

import hashlib
import os

from ..sources.tables import path_mtime_ns

# Bump on ANY change to producing-pipeline logic that is not visible in
# a keyed constant (new shingling rule, changed pair ordering, ...).
# Folded into every cache key so stale artifacts cannot survive a code
# change that leaves the constants untouched.
ARTIFACT_SCHEME_VERSION = "v2"


def artifact_cache_path(
    sf_dir: str, name: str, extra_key: str = "", *, sources: tuple[str, ...]
) -> str:
    """Cache path for artifact ``name`` of ``sf_dir`` (no extension),
    built from the testdata tables named in ``sources``."""
    # nanosecond mtimes: a table regenerated in-place within the same
    # integer second still invalidates the cache
    mtimes = ",".join(
        f"{t}={path_mtime_ns(os.path.join(sf_dir, f'{t}.parquet'))}"
        for t in sources
    )
    key = hashlib.md5(
        f"{ARTIFACT_SCHEME_VERSION}:{os.path.abspath(sf_dir)}:{mtimes}:"
        f"{extra_key}".encode()
    ).hexdigest()[:16]
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    base = os.environ.get("SPARK_GRAFT_CACHE_DIR") or os.path.join(
        repo_root, ".cache"
    )
    return os.path.join(base, name, key)
