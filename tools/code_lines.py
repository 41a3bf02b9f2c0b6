"""Count the code lines of a Python file: lines holding at least one
token that is not a comment, with blank lines and docstrings (module,
class and function) left out.  A statement spread over several lines
counts every line it spans.

    python3 tools/code_lines.py PATH [FUNC,...]

Prints the file's count, then, for each named top-level function or
class, its own count, the sum over the named ones and the rest of the
file (the file minus the named ones).  The "net code lines removed"
figure of a change is the difference of these counts before and after.
"""

from __future__ import annotations

import ast
import io
import sys
import tokenize
from collections.abc import Sequence

_LAYOUT = {
    tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
    tokenize.DEDENT, tokenize.ENCODING, tokenize.ENDMARKER,
}
_DOCUMENTED = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def docstring_lines(tree: ast.AST) -> set[int]:
    """Line numbers covered by the docstrings of ``tree``'s module,
    classes and functions."""
    lines: set[int] = set()
    for node in ast.walk(tree):
        if isinstance(node, _DOCUMENTED) and ast.get_docstring(node) is not None:
            doc = node.body[0]
            lines.update(range(doc.lineno, doc.end_lineno + 1))
    return lines


def code_lines(source: str) -> set[int]:
    """Line numbers of ``source`` that hold code."""
    lines: set[int] = set()
    for tok in tokenize.generate_tokens(io.StringIO(source).readline):
        if tok.type not in _LAYOUT:
            lines.update(range(tok.start[0], tok.end[0] + 1))
    return lines - docstring_lines(ast.parse(source))


def count(source: str, names: Sequence[str] = ()) -> dict[str, int]:
    """``{"<file>": n, name: n, ...}`` for the whole source and each
    named top-level function or class, plus ``"<named>"`` and
    ``"<rest>"`` when names are given.  Raises ``KeyError`` for a name
    that is not defined at the top level."""
    lines = code_lines(source)
    spans = {
        node.name: range(
            min([node.lineno] + [d.lineno for d in node.decorator_list]),
            node.end_lineno + 1,
        )
        for node in ast.parse(source).body
        if isinstance(node, _DOCUMENTED[1:])
    }
    out = {"<file>": len(lines)}
    named: set[int] = set()
    for name in names:
        own = lines.intersection(spans[name])
        out[name] = len(own)
        named |= own
    if names:
        out["<named>"] = len(named)
        out["<rest>"] = len(lines - named)
    return out


def main(argv: Sequence[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        source = f.read()
    names = [n for n in argv[1].split(",") if n] if len(argv) == 2 else []
    try:
        counts = count(source, names)
    except KeyError as e:
        print(f"{argv[0]}: no top-level function or class {e}", file=sys.stderr)
        return 2
    for name, n in counts.items():
        print(f"{n:6d}  {argv[0] if name == '<file>' else name}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
