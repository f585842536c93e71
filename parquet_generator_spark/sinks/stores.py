"""Persisted stores: derived artifacts built once per source version
and read by every later query (the analyzed text store, the IVF-PQ
and dedup indexes, the TSDS rollups).

A served key declares its store with one call::

    root = stores.ensure("ivfpq_index", sf_dir, ["embeddings.parquet"],
                         build)

and reads ``root`` afterwards. This module owns every decision the
"reuse unless the source changed, else rebuild" contract needs:

- **root** — ``<repo>/.scratch/stores/<name>/<basename>-<sha1[:8]>``,
  keyed on the real path of ``sf_dir`` so two tables directories
  with one basename never share (and rebuild) one store;
- **fingerprint** — ``mtime_ns:size`` of each source file in
  ``sf_dir``, plus a sha1 of the package's ``*.py`` contents, so a
  store built by other code (a changed stemmer, MinHash permutation
  or band key) is never served. The design cost: any source edit
  rebuilds every store once, on its first use (the analyzed text
  store took 93 s at sf0.1 on 4 vCPUs, in a fresh session);
- **marker** — ``<root>/meta.json`` = ``{"fingerprint": ...}``;
  the store is reused when it holds the current fingerprint;
- **rebuild order** — remove the root, ``build(root)``, write the
  marker LAST, so a build that fails never leaves a valid marker.

The warm path is one ``stat`` per source plus one small JSON read;
the code hash is computed once per process.
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import pathlib
import shutil
from typing import Callable, Iterable

_BASE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)))), ".scratch", "stores")
_MARKER = "meta.json"


@functools.cache
def code_hash() -> str:
    """sha1 over the package's ``*.py`` files: each relative path and
    its contents, in sorted path order."""
    pkg = pathlib.Path(__file__).resolve().parent.parent
    h = hashlib.sha1()
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def ensure(name: str, sf_dir: str, sources: Iterable[str],
           build: Callable[[str], None]) -> str:
    """Return the root of store ``name`` for ``sf_dir``, first
    running ``build(root)`` into an empty root if the store is
    missing or its fingerprint (``sources`` — file names inside
    ``sf_dir`` — plus the package's code hash) changed."""
    sf_dir = os.path.normpath(sf_dir)
    key = hashlib.sha1(os.path.realpath(sf_dir).encode()).hexdigest()
    root = os.path.join(_BASE, name,
                        f"{os.path.basename(sf_dir)}-{key[:8]}")
    stats = [os.stat(os.path.join(sf_dir, s)) for s in sources]
    fp = " ".join([f"{st.st_mtime_ns}:{st.st_size}" for st in stats]
                  + [code_hash()])
    marker = os.path.join(root, _MARKER)
    try:
        with open(marker) as fh:
            if json.load(fh).get("fingerprint") == fp:
                return root
    except (FileNotFoundError, ValueError):
        pass
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    build(root)
    with open(marker, "w") as fh:
        json.dump({"fingerprint": fp}, fh)
    return root
