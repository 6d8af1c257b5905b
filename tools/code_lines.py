"""Code-line counter: how many lines of a Python file hold code.

    python tools/code_lines.py [path ...]

A line counts when it holds a token other than COMMENT, NL, NEWLINE,
INDENT, DEDENT, ENCODING or ENDMARKER, and that token is not part of a
docstring. A docstring is a STRING token that forms a whole logical
line (a bare string statement), wherever it sits. Blank lines,
comment-only lines and docstring lines therefore do not count, and a
call spread over five lines counts five.

Paths may be files or directories (searched for ``*.py``). With no
path the package ``cs_tutorial_reporting_spark/`` is counted. Prints
one ``<count>  <file>`` line per file and a ``<count>  total`` line.
"""

from __future__ import annotations

import io
import sys
import tokenize
from pathlib import Path

_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}
_PACKAGE = Path(__file__).resolve().parent.parent / "cs_tutorial_reporting_spark"


def code_lines(source: str) -> int:
    """Number of code lines in ``source`` by the rule in the module docstring."""
    lines: set[int] = set()
    logical: list[tokenize.TokenInfo] = []
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type in (tokenize.NEWLINE, tokenize.ENDMARKER):
            code = [t for t in logical if t.type not in _NON_CODE]
            if not (len(code) == 1 and code[0].type == tokenize.STRING):
                for t in code:
                    lines.update(range(t.start[0], t.end[0] + 1))
            logical = []
        else:
            logical.append(tok)
    return len(lines)


def _files(paths: list[str]) -> list[Path]:
    out: list[Path] = []
    for p in map(Path, paths):
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p])
    return out


def main(argv: list[str]) -> int:
    total = 0
    for f in _files(argv or [str(_PACKAGE)]):
        n = code_lines(f.read_text(encoding="utf-8"))
        total += n
        print(f"{n:7d}  {f}")
    print(f"{total:7d}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
