"""Rebuild the sample_{s3,ltsv}_* log corpus in this directory.

These files are reconstructions of the reference project's ``testdata``
corpus, built from the transliterated goldens in ``tests/golden_s3.py``
and ``tests/golden_ltsv.py``: for each format, three 5-line scenarios
(``all_match``, ``contains_unmatch``, ``all_unmatch``) as plain ``.log``,
``.log.gz`` and single-entry ``.log.zip``, plus a 3-entry
``sample_{fmt}.zip`` holding the three plain logs. Output is
byte-deterministic (fixed gzip and zip timestamps). Run from the repo
root:

    python tests/fixtures/build.py
"""

from __future__ import annotations

import gzip
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import golden_ltsv  # noqa: E402
import golden_s3  # noqa: E402

SCENARIOS = {
    "all_match": "ALL_MATCH_INPUT",
    "contains_unmatch": "CONTAINS_UNMATCH_INPUT",
    "all_unmatch": "ALL_UNMATCH_INPUT",
}
ZIP_TIME = (2023, 3, 12, 0, 0, 0)


def _zip(path: Path, entries: dict[str, bytes]) -> None:
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for name, data in entries.items():
            zf.writestr(zipfile.ZipInfo(name, ZIP_TIME), data, zipfile.ZIP_DEFLATED)


def build(out: Path = HERE) -> None:
    for fmt, golden in (("s3", golden_s3), ("ltsv", golden_ltsv)):
        plain: dict[str, bytes] = {}
        for scenario, attr in SCENARIOS.items():
            name = f"sample_{fmt}_{scenario}.log"
            data = (getattr(golden, attr) + "\n").encode()
            plain[name] = data
            (out / name).write_bytes(data)
            (out / f"{name}.gz").write_bytes(gzip.compress(data, mtime=0))
            _zip(out / f"{name}.zip", {name: data})
        _zip(out / f"sample_{fmt}.zip", plain)


if __name__ == "__main__":
    build()
