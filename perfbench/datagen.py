"""Deterministic benchmark data: the repository's synthetic test tables,
made by ``tools/gen_sf.py`` at a given scale factor and cached in the
checkout.

Row counts scale linearly: at sf 0.1 that is lineitem 600k, orders
150k, customer 15k, documents 5k and embeddings 2k. The data does not
depend on the workload seed: every table draws from its own fixed numpy
PCG64 stream, so one scale factor always yields the same bytes and
every run of every seed reads identical tables.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")

# bump when the generated bytes change, so stale cached copies are rebuilt
VERSION = 2


def sizes(sf: float) -> dict[str, int]:
    """Row counts of the keyed tables, as ``gen_sf.generate`` makes them."""
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(20_000 * sf),
    }


def ensure(sf: float, root: str) -> str:
    """Return the directory holding the tables for ``sf`` under ``root``,
    generating it first if it is missing. Generation writes to a
    temporary sibling and renames it into place, so an interrupted run
    never leaves a half-written directory behind."""
    out = os.path.join(root, f"sf{sf}-v{VERSION}")
    if os.path.isdir(out):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    sys.path.insert(0, TOOLS)
    try:
        import gen_sf
    finally:
        sys.path.remove(TOOLS)
    # gen_sf reports each table on stdout, whose last line is the result
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.generate(sf, tmp)
    os.rename(tmp, out)
    return out
