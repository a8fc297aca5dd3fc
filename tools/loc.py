"""Code-line count of the engine package, per module and in total.

A code line is a physical line that carries at least one Python token
other than a comment or a docstring; blank lines, comment-only lines and
docstring lines do not count. A docstring is a string literal that forms a
whole statement (the first statement of a module, class or function, or
any bare string statement).

Run:

    python tools/loc.py              # mbrngq_spark/ of this checkout
    python tools/loc.py <pkg_dir>    # any other package directory
"""

from __future__ import annotations

import os
import sys
import tokenize

_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER}
_STMT_START = {tokenize.NEWLINE, tokenize.INDENT, tokenize.DEDENT,
               tokenize.ENCODING}


def code_lines(path: str) -> int:
    """Number of code lines in one Python source file."""
    lines: set[int] = set()
    prev = tokenize.ENCODING
    doc = None  # a string that starts a statement: a docstring if it ends it
    with open(path, "rb") as f:
        for tok in tokenize.tokenize(f.readline):
            if tok.type in (tokenize.COMMENT, tokenize.NL):
                continue
            if doc is not None and tok.type != tokenize.NEWLINE:
                lines.update(range(doc.start[0], doc.end[0] + 1))
            doc = None
            if tok.type == tokenize.STRING and prev in _STMT_START:
                doc = tok
            elif tok.type not in _SKIP:
                lines.update(range(tok.start[0], tok.end[0] + 1))
            prev = tok.type
    return len(lines)


def package_lines(root: str) -> dict[str, int]:
    """{relative module path: code lines} for every .py file under root."""
    out = {}
    for d, _, files in os.walk(root):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                out[os.path.relpath(p, os.path.dirname(root))] = code_lines(p)
    return out


def main(argv: list[str]) -> int:
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = os.path.abspath(argv[1] if len(argv) > 1
                           else os.path.join(here, "mbrngq_spark"))
    counts = package_lines(root)
    for mod in sorted(counts):
        print(f"{counts[mod]:6d}  {mod}")
    print(f"{sum(counts.values()):6d}  {os.path.basename(root)}/")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
