"""Slow-tier guard: the MVCC model fuzzes run only with ``-m slow``, so a
change to the code they pin could land without them. ``slow_tier_record.json``
holds the sha256 of every ``pixels_spark/mvcc/*.py`` file as of the last
green slow run; this fast-tier test fails when any of them differs.

After a green run of the recorded command, refresh the record with
``python tests/test_slow_tier_record.py``.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RECORD = os.path.join(ROOT, "tests", "slow_tier_record.json")
COMMAND = (
    "python -m pytest tests/test_mvcc.py tests/test_mvcc_model.py "
    "-q -p no:cacheprovider -m slow"
)


def _hashes() -> dict[str, str]:
    out = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "pixels_spark", "mvcc", "*.py"))):
        with open(path, "rb") as f:
            out[os.path.relpath(path, ROOT)] = hashlib.sha256(f.read()).hexdigest()
    return out


def test_mvcc_sources_match_the_last_green_slow_run():
    with open(RECORD) as f:
        want = json.load(f)["sha256"]
    got = _hashes()
    changed = sorted(p for p in set(want) | set(got) if want.get(p) != got.get(p))
    assert not changed, (
        f"{changed} changed since the last green slow-tier run: run `{COMMAND}` "
        f"and, once it passes, refresh the record with "
        f"`python tests/test_slow_tier_record.py`"
    )


if __name__ == "__main__":
    with open(RECORD, "w") as f:
        json.dump({"command": COMMAND, "sha256": _hashes()}, f, indent=2)
        f.write("\n")
    print(f"wrote {os.path.relpath(RECORD, ROOT)}")
