"""Streaming staging helpers.

The file stream source reads a DIRECTORY, while the fixtures are single
parquet files; ``_staged_dir`` stages each fixture once per process
(symlink or materialized files), keyed on the fixture's fingerprint,
and every file-stream source in the package goes through it.
``fresh_tmpdir`` hands out never-cached dirs on the same atexit
cleanup.
"""

from __future__ import annotations


_STAGED_DIRS: dict[tuple, str] = {}
_STAGED_ALL: list[str] = []


def _source_fingerprint(path: str) -> tuple:
    """(mtime_ns, size) fingerprint of the fixture a staged dir derives
    from (file or directory of part-files) — same construction as
    llm.training._probe_cache_key. Folding this into the cache key
    means rewriting a fixture at the same path rebuilds the staged
    dir instead of serving stale materialized media."""
    import os  # noqa: PLC0415

    parts: list[tuple[str, int, int]] = []
    try:
        if os.path.isdir(path):
            for root, dirs, files in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    parts.append(
                        (os.path.join(rel, f), st.st_mtime_ns, st.st_size)
                    )
        else:
            st = os.stat(path)
            parts.append(("", st.st_mtime_ns, st.st_size))
    except OSError:
        pass
    return tuple(parts)


def _staged_dir(kind: str, sf_dir: str, prefix: str, build, src: str) -> str:
    """Shared per-(kind, sf_dir, source-fingerprint) staging-directory
    cache: build once, revalidate on reuse, clean every staged dir at
    interpreter exit — repeated streaming calls share one dir instead
    of leaking a mkdtemp per call. The key folds in ``src``'s
    mtime+size fingerprint, so rewriting the fixture at the same path
    within a process rebuilds rather than serving stale contents (the
    symlink stagers were already immune; the materialized media stager
    was not)."""
    import atexit  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    key = (kind, sf_dir, _source_fingerprint(src))
    cached = _STAGED_DIRS.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    d = tempfile.mkdtemp(prefix=prefix)
    build(d)
    if not _STAGED_ALL:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _STAGED_ALL
            ]
        )
    _STAGED_DIRS[key] = d
    _STAGED_ALL.append(d)
    return d


def fresh_tmpdir(prefix: str) -> str:
    """A fresh (never cached) temp dir that rides the shared atexit
    cleanup — for sinks that MUTATE across a stream's lifetime (e.g.
    versioned-snapshot merge targets), where reusing a cached dir
    would replay on top of a previous call's history."""
    import atexit  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    d = tempfile.mkdtemp(prefix=prefix)
    if not _STAGED_ALL:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _STAGED_ALL
            ]
        )
    _STAGED_ALL.append(d)
    return d


def clear_staged_dirs() -> None:
    """Drop (and delete) every cached staged dir — the test hook
    mirroring llm.training.clear_probe_cache."""
    import shutil  # noqa: PLC0415

    for p in _STAGED_ALL:
        shutil.rmtree(p, ignore_errors=True)
    _STAGED_ALL.clear()
    _STAGED_DIRS.clear()
