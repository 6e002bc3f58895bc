"""Static gate: the text kernels' three shared decisions each have one home.

- the Python image of the ``tokens`` expression (``re.compile(r"\\s+",
  re.ASCII)`` + ``.lower()`` + drop empties) lives in
  ``functions/text_metrics.py`` (``py_tokens``, ``py_ngrams``);
- the scalar 60-bit md5 intern (``digest()[:8] >> 4`` ==
  ``int(hexdigest()[:15], 16)``) and the bounded clear-on-overflow key cache
  (500k entries / 8M key characters) live in ``functions/md5np.py``
  (``md5_60``, ``md5_64``, ``md5_hex``, ``Md5Intern``).

This test scans package sources for the spellings those decisions were
copied with, so the next kernel calls the shared helper instead of
re-copying it.
"""

from __future__ import annotations

from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "hadoop_3_0_0_beta1_gaia_spark"

HOMES = {"functions/md5np.py", "functions/text_metrics.py"}

FORBIDDEN = (
    're.compile(r"\\s+"',
    "re.compile(r'\\s+'",
    "digest()[:8]",
    "hexdigest()[:15]",
    "500_000",
)


def test_text_kernel_decisions_have_one_home():
    problems = []
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        if rel in HOMES:
            continue
        for i, line in enumerate(path.read_text().splitlines(), 1):
            problems += [f"{rel}:{i}: {pat}" for pat in FORBIDDEN if pat in line]
    assert not problems, (
        "copies of a shared text-kernel decision (use text_metrics.py_tokens /"
        " py_ngrams or md5np.md5_60 / Md5Intern instead):\n" + "\n".join(problems)
    )


def test_homes_still_define_the_helpers():
    md5np = (PKG / "functions/md5np.py").read_text()
    text_metrics = (PKG / "functions/text_metrics.py").read_text()
    for name in ("def md5_60(", "def md5_64(", "def md5_hex(", "class Md5Intern"):
        assert name in md5np, name
    for name in ("def py_tokens(", "def py_ngrams("):
        assert name in text_metrics, name
