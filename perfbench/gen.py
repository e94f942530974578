"""Deterministic input tables for the benchmark.

The tables are written by the repository's own fixture generator,
``tools/gen_sf1.py``, run at a smaller scale: its row-count constants,
output directory and seed are set for the call and restored after it.
The same ``scale`` and ``seed`` always give the same files, so the
recorded output fingerprints in ``expected.json`` stay valid.

Row counts follow the generator's scale rules: every table grows 10x
per scale decade except ``region``/``nation`` (fixed) and
``embeddings`` (4x per decade).
"""

from __future__ import annotations

import contextlib
import io
import math

SIZES = ("N_CUST", "N_SUPP", "N_PART", "N_ORDERS", "N_EVENTS",
         "N_EVENT_USERS", "N_DOCS")


def row_counts(scale: float) -> dict[str, int]:
    """The generator's size constants at ``scale`` (1.0 = its sf1)."""
    from tools import gen_sf1  # noqa: PLC0415

    out = {k: max(1, round(getattr(gen_sf1, k) * scale)) for k in SIZES}
    out["N_VECS"] = max(1, round(gen_sf1.N_VECS
                                 * 4 ** math.log10(scale)))
    return out


def generate(out_dir: str, scale: float, seed: int) -> None:
    """Write the ten input tables as parquet under ``out_dir``."""
    from tools import gen_sf1  # noqa: PLC0415

    patch = {"OUT": out_dir, "SEED": seed, **row_counts(scale)}
    saved = {k: getattr(gen_sf1, k) for k in patch}
    try:
        for k, v in patch.items():
            setattr(gen_sf1, k, v)
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf1.main()
    finally:
        for k, v in saved.items():
            setattr(gen_sf1, k, v)
