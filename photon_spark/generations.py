"""Generation-pointer commit — the one on-disk protocol shared by
:class:`photon_spark.events.EventStore` rewrites and the materialized IVF
index retrain (``functions/similarity.py``).

A table at ``path`` names its live generation in ONE small ``_generation``
file holding a directory name ``gen=<k>-<nonce>`` (no pointer = the root
itself, generation 0). A rewrite writes a complete new nonce-unique
directory, then :func:`commit` swaps the pointer with one atomic
small-file replace — the object-store PUT primitive — and sweeps every
other generation. A crash at any point leaves either the old pointer (old
data intact; the half-written dir is an inert orphan the next commit
sweeps) or the new pointer (new data fully written first) — never a
half-table, and never a data-directory rename, which S3/GCS cannot do.
Readers follow only the pointer, so an orphan is never read.
"""

from __future__ import annotations

import os
import shutil
import uuid

POINTER = "_generation"


def live(path: str) -> tuple[int, str]:
    """(ordinal, directory name) of the live generation; ``""`` = root."""
    try:
        with open(os.path.join(path, POINTER)) as f:
            name = f.read().strip()
    except FileNotFoundError:
        return 0, ""
    if not name:
        return 0, ""
    return int(name.split("=", 1)[1].split("-", 1)[0]), name


def data_dir(path: str) -> str:
    """Directory of the live generation."""
    name = live(path)[1]
    return os.path.join(path, name) if name else path


def next_name(ordinal: int) -> str:
    """A fresh nonce-unique directory name for generation ``ordinal``."""
    return f"gen={int(ordinal)}-{uuid.uuid4().hex[:12]}"


def commit(path: str, name: str, expected: str) -> None:
    """Make generation ``name`` (a :func:`next_name`) live, then sweep
    every other generation: the superseded one and any orphan.

    ``expected`` is the live name the rewrite started from. If another
    rewrite committed first, the pointer no longer names it: ``name`` is
    discarded and this raises, because the winner's sweep may already
    have deleted files under ``name`` — committing it could publish a
    partial generation. When the superseded generation is the root, its
    data files go and underscore/dot markers (e.g. the store's
    ``_multi_writer``) stay."""
    if live(path)[1] != expected:
        shutil.rmtree(os.path.join(path, name), ignore_errors=True)
        raise RuntimeError(
            f"generation commit at {path}: another rewrite committed "
            "since this one read the pointer; retry on the new generation")
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, f"{POINTER}.tmp-{uuid.uuid4().hex[:8]}")
    with open(tmp, "w") as f:
        f.write(name)
    os.replace(tmp, os.path.join(path, POINTER))
    for n in os.listdir(path):
        full = os.path.join(path, n)
        if n.startswith("gen="):
            if n != name:
                shutil.rmtree(full, ignore_errors=True)
        elif not expected and not n.startswith(("_", ".")):
            (shutil.rmtree if os.path.isdir(full) else os.remove)(full)
