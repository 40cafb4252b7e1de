"""Scheme-agnostic snapshot filesystem (S5/S9 contract).

The reference talks to two backends with one listing discipline: local
date directories (file_access.rs:144-233) and S3 per-date *prefix*
listings (file_access.rs:263-329 — one list_objects_v2 per date in the
window, bounded at 365 prefixes, never a full-bucket scan when a window is
given). This module pins that contract behind a minimal interface so the
catalog and writer are backend-blind:

  - `list_prefix(prefix)` — full paths of objects under a prefix (the
    object-store primitive; the local implementation maps it onto one
    directory listing). A nonexistent prefix lists empty, which is what
    makes window-driven date iteration correct without an existence walk.
  - `put_file(local_path, dest)` — upload/move a locally-materialized
    file to its catalog location (the writer's single-file rename step;
    S3 upload and local rename are the same operation here).
  - `exists` / `read_bytes` — download-side primitives.

`fs_for(path)` picks the backend by URL scheme; plain paths get LocalFS.
Additional schemes (s3a, mock) register via `register_scheme` — the
hadoop-aws jars aren't shipped in this sandbox, so the s3a binding stays
an exercise of the SAME interface the mock contract tests pin
(tests/test_object_store_contract.py), not untested bespoke code.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import urlsplit


class LocalFS:
    """POSIX directories speaking the prefix-listing dialect. Accepts
    both plain OS paths and `file://` URLs (normalized on entry —
    os.path/open/shutil would otherwise treat the URL as a relative
    path: empty listings, writes landing in a bogus './file:' dir)."""

    scheme = ""

    def list_prefix(self, prefix: str) -> list[str]:
        """All file keys under `prefix`, recursively — object-store
        semantics exactly: a directory is not an object, its files are
        (the same keys S3 would hold). Sorted for determinism."""
        d = strip_file_scheme(prefix).rstrip("/")
        if not os.path.isdir(d):
            return []
        out = []
        for root, dirs, files in os.walk(d):
            dirs.sort()
            for name in sorted(files):
                out.append(os.path.join(root, name))
        return sorted(out)

    def exists(self, path: str) -> bool:
        return os.path.exists(strip_file_scheme(path))

    def read_bytes(self, path: str) -> bytes:
        with open(strip_file_scheme(path), "rb") as fh:
            return fh.read()

    def put_file(self, local_path: str, dest: str) -> None:
        dest = strip_file_scheme(dest)
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        shutil.move(strip_file_scheme(local_path), dest)


_SCHEMES: dict[str, object] = {}


def register_scheme(scheme: str, fs: object) -> None:
    """Register a filesystem for `scheme://` paths (e.g. a mock object
    store in tests, or an s3a binding where hadoop-aws is present)."""
    _SCHEMES[scheme] = fs


def unregister_scheme(scheme: str) -> None:
    _SCHEMES.pop(scheme, None)


def fs_for(path: str):
    scheme = urlsplit(path).scheme
    # single-letter "schemes" are Windows drive letters, not URLs
    if len(scheme) > 1 and scheme in _SCHEMES:
        return _SCHEMES[scheme]
    if len(scheme) > 1 and scheme not in ("file",):
        raise ValueError(
            f"no filesystem registered for scheme {scheme!r} "
            "(register_scheme) — local paths need no registration"
        )
    return _LOCAL


def strip_file_scheme(path: str) -> str:
    """`file://host/p` / `file:///p` / `file:/p` → a plain OS path.

    LocalFS speaks os.path, not URLs — passing a raw `file://` URL
    through would make listings silently come back empty and
    `put_file` write to a bogus relative path, so every LocalFS
    entry point normalizes through here first."""
    if urlsplit(path).scheme != "file":
        return path
    parts = urlsplit(path)
    if parts.netloc not in ("", "localhost"):
        # `file://server/share` names a REMOTE host; silently reading the
        # local /share instead would answer about the wrong filesystem.
        raise ValueError(
            f"file:// URL names a non-local host {parts.netloc!r}: {path!r}"
        )
    if not parts.path:
        # `file://name` parses as host='name', path='' — without a path
        # there is nothing meaningful to address (defaulting to '/' made
        # exists() answer about the filesystem root).
        raise ValueError(f"file:// URL has no path component: {path!r}")
    return parts.path


_LOCAL = LocalFS()
