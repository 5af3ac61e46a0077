"""No block of code under pdf_spark/ is copied three times.

Every 8-line window of stripped, non-blank, non-comment code lines is
hashed; a window found at 3 or more places is a copied block that a
shared helper should replace. Windows found twice are tolerated."""

import collections
import hashlib
import pathlib

WINDOW = 8
MAX_COPIES = 2
ROOT = pathlib.Path(__file__).resolve().parent.parent / "pdf_spark"


def _windows() -> dict:
    seen = collections.defaultdict(list)
    for path in sorted(ROOT.rglob("*.py")):
        code = [(i, line.strip()) for i, line in enumerate(path.read_text().splitlines(), 1)
                if line.strip() and not line.strip().startswith("#")]
        for k in range(len(code) - WINDOW + 1):
            win = "\n".join(line for _, line in code[k:k + WINDOW])
            seen[hashlib.sha1(win.encode()).hexdigest()].append(
                f"{path.relative_to(ROOT.parent)}:{code[k][0]}")
    return seen


def test_no_block_copied_three_times():
    copied = sorted((locs for locs in _windows().values() if len(locs) > MAX_COPIES),
                    key=len, reverse=True)
    assert not copied, "\n".join(f"{len(locs)}x {locs}" for locs in copied[:10])
