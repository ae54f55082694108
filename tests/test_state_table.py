"""The append-only state table rule lives in ``caspr_spark.state``.

Every state family (gram census, key table, signature table, IVF index,
PQ code table, tombstones) reads its frames, unions them, masks
tombstones and checks its quantizer stamp through ``state.py``. A
module that builds a frame path itself would carry a second copy of
that rule, free to drift from the first.
"""

from __future__ import annotations

import pathlib
import re

PKG = pathlib.Path(__file__).resolve().parent.parent / "caspr_spark"


def test_only_state_reads_state_frames():
    """No module but ``state.py`` builds a ``state_path(...)``, picks
    ``live_frames`` or masks with ``apply_deletes_state``."""
    rule = PKG / "state.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == rule:
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            if re.search(r"\b(state_path|live_frames|apply_deletes_state)\(",
                         line):
                offenders.append(f"{path.relative_to(PKG.parent)}:{i}")
    assert not offenders, offenders
