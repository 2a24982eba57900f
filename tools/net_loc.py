"""Net line deltas of the working tree against a git revision.

    python tools/net_loc.py <rev>

Prints, for ``evm_indexer_spark/``, ``tests/`` and ``tools/``, the net
change in Python lines between ``<rev>`` and the working tree (new,
untracked-but-not-ignored files included): ``raw`` counts every line,
``code`` leaves out blank lines, comment-only lines and docstrings
(module, class and function docstrings, found with ``ast``). Code moved
between files of one area nets to zero. Stdlib only; run it from
anywhere inside the repository.
"""

from __future__ import annotations

import ast
import io
import os
import subprocess
import sys
import tokenize

AREAS = ("evm_indexer_spark/", "tests/", "tools/")
_NON_CODE = {
    tokenize.COMMENT,
    tokenize.NL,
    tokenize.NEWLINE,
    tokenize.INDENT,
    tokenize.DEDENT,
    tokenize.ENCODING,
    tokenize.ENDMARKER,
}


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", *args], check=True, capture_output=True, text=True
    ).stdout


def code_lines(src: str) -> int:
    """Lines holding code: not blank, not only a comment, not part of a
    docstring. Unparseable source falls back to non-blank, non-``#``."""
    try:
        tree = ast.parse(src)
        rows: set[int] = set()
        for tok in tokenize.generate_tokens(io.StringIO(src).readline):
            if tok.type not in _NON_CODE:
                rows.update(range(tok.start[0], tok.end[0] + 1))
    except (SyntaxError, tokenize.TokenError):
        return sum(
            1 for ln in src.splitlines() if ln.strip() and not ln.lstrip().startswith("#")
        )
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ) and ast.get_docstring(node, clean=False) is not None:
            doc = node.body[0]
            rows.difference_update(range(doc.lineno, doc.end_lineno + 1))
    return len(rows)


def _counts(sources) -> tuple[int, int]:
    raw = code = 0
    for src in sources:
        raw += len(src.splitlines())
        code += code_lines(src)
    return raw, code


def net(rev: str, area: str) -> tuple[int, int]:
    """(raw, code) net line change of *area*'s .py files, *rev* → worktree."""
    old = [
        p for p in _git("ls-tree", "-r", "--name-only", rev, "--", area).splitlines()
        if p.endswith(".py")
    ]
    new = [
        p
        for p in _git(
            "ls-files", "--cached", "--others", "--exclude-standard", "--", area
        ).splitlines()
        if p.endswith(".py")
    ]

    def read(p):
        try:
            with open(p, encoding="utf-8") as f:
                return f.read()
        except FileNotFoundError:  # deleted but not yet staged
            return ""

    old_raw, old_code = _counts(_git("show", f"{rev}:{p}") for p in old)
    new_raw, new_code = _counts(read(p) for p in new)
    return new_raw - old_raw, new_code - old_code


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    os.chdir(_git("rev-parse", "--show-toplevel").strip())
    print(f"net .py lines, {argv[0]} -> working tree")
    print(f"{'area':<20}{'raw':>8}{'code':>8}")
    for area in AREAS:
        raw, code = net(argv[0], area)
        print(f"{area:<20}{raw:>+8d}{code:>+8d}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
