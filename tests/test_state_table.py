"""The append-only state table rule lives in ``caspr_spark.state``.

Every state family (gram census, key table, signature table, IVF index,
PQ code table, tombstones) reads its frames, unions them, masks
tombstones and checks its stamp through ``state.py``. A module that
builds a frame path or reads a schema's stamp itself would carry a
second copy of that rule, free to drift from the first.
"""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "caspr_spark"


def _offenders(dirs, pattern, skip=()):
    out = []
    for d in dirs:
        for path in sorted((ROOT / d).rglob("*.py")):
            if path in skip:
                continue
            for i, line in enumerate(path.read_text().splitlines(), 1):
                if re.search(pattern, line):
                    out.append(f"{path.relative_to(ROOT)}:{i}")
    return out


def test_only_state_reads_state_frames():
    """No module but ``state.py`` builds a ``state_path(...)``, picks
    ``live_frames`` or masks with ``apply_deletes_state``."""
    offenders = _offenders(
        ["caspr_spark"],
        r"\b(state_path|live_frames|apply_deletes_state)\(",
        skip=[PKG / "state.py"])
    assert not offenders, offenders


def test_only_state_reads_stamps():
    """A stamp is read from a frame's schema in ``state.py`` alone
    (``frame_stamp``, ``check_stamp``): no other module looks at a
    column's ``.metadata``."""
    offenders = _offenders(["caspr_spark", "contract"], r"\.metadata\b",
                           skip=[PKG / "state.py"])
    assert not offenders, offenders


def test_no_guard_skips():
    """Every fold checks its state's stamp: no fold takes a
    ``check_state=`` option, and no frame carries an in-process
    hash-family attribute that a guard could trust instead of the
    schema."""
    attr = "_caspr_" + "hash_family"
    offenders = (_offenders(["caspr_spark", "contract"], r"\bcheck_state=")
                 + _offenders(["caspr_spark", "contract", "tests"],
                              re.escape(attr)))
    assert not offenders, offenders
