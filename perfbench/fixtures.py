"""The fixture tables the benchmark reads.

``data/sf0.01`` and ``data/sf0.1`` are byte-for-byte copies of the seed-42
fixture tables described in ``FIXTURES.md`` and ``TESTDATA.md``: the
tables behind the engine's oracle tests (sf0.01) and the ``bench.py``
history (sf0.1). They ship with the benchmark because a benchmark
checkout has no other copy of them. ``data/SHA256SUMS`` pins their
contents; a run checks it before it reads a table.
"""

from __future__ import annotations

import hashlib
import os

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def fixture_dir(sf: float) -> str:
    """The verified table directory for scale factor ``sf``.

    The directory name follows the ``sf<scale>`` convention the engine's
    scratch tags and the registry's scale-dependent queries read."""
    name = f"sf{sf:g}"
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = [s for s in map(str.split, fh) if s[1].startswith(name + "/")]
    if not sums:
        raise FileNotFoundError(f"no fixture tables listed for {name}")
    for digest, rel in sums:
        if _sha256(os.path.join(DATA, rel)) != digest:
            raise ValueError(f"fixture table {rel} does not match SHA256SUMS")
    return os.path.join(DATA, name)
