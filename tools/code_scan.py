#!/usr/bin/env python
"""Size and repetition counts of the engine package.

Usage:
    python tools/code_scan.py [repo_root]

Prints three numbers:

- non-docstring lines: physical lines of every package ``.py`` file,
  less the lines of module, class and function docstrings (AST);
- repeated blocks: code lines that sit in a window of 6 consecutive
  code lines occurring in at least two top-level definitions. A code
  line is a stripped physical line holding at least one token that
  is not a string literal or comment, so SQL text and docstrings do
  not count; ``copies`` is the number of maximal runs of such lines;
- micro-unit spellings: string constants outside
  ``functions/scalar.py`` and outside oracle SQL (module constants
  registered as, or named as, oracles and ``*oracle*`` builders) that
  spell the micro-unit rule ``* 1000000e0 + 0.5e0`` by hand.
"""

from __future__ import annotations

import ast
import io
import os
import sys
import tokenize
from collections import defaultdict

PKG = "real_estate_data_analysis_with_aws_data_pipeline_project_spark"
WINDOW = 6
RULE = "* 1000000e0 + 0.5e0"
_SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
         tokenize.DEDENT, tokenize.ENDMARKER, tokenize.STRING}


def _files(root: str):
    for d, _, fs in os.walk(os.path.join(root, PKG)):
        for f in sorted(fs):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _docstring_lines(tree: ast.Module) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            b = node.body
            if (b and isinstance(b[0], ast.Expr)
                    and isinstance(b[0].value, ast.Constant)
                    and isinstance(b[0].value.value, str)):
                out.update(range(b[0].lineno, b[0].end_lineno + 1))
    return out


def _code_lines(src: str, tree: ast.Module) -> list[tuple[int, str]]:
    """(owning top-level definition line, stripped text) per code line."""
    has_code = set()
    for t in tokenize.generate_tokens(io.StringIO(src).readline):
        if t.type not in _SKIP:
            has_code.add(t.start[0])
    owner = {}
    for top in tree.body:
        for ln in range(top.lineno, top.end_lineno + 1):
            owner[ln] = top.lineno
    raw = src.splitlines()
    return [(owner.get(ln, 0), raw[ln - 1].strip()) for ln in sorted(has_code)]


def _micro_spellings(rel: str, tree: ast.Module) -> int:
    if rel == os.path.join("functions", "scalar.py"):
        return 0
    oracles = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and getattr(node.func, "id", None) == "register":
            args = node.args[1:] + [k.value for k in node.keywords if k.arg == "oracle"]
            oracles.update(a.id for a in args if isinstance(a, ast.Name))
    n = 0
    for top in tree.body:
        if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if "oracle" in top.name.lower():
                continue
        elif isinstance(top, (ast.Assign, ast.AnnAssign)):
            targets = top.targets if isinstance(top, ast.Assign) else [top.target]
            if any(isinstance(t, ast.Name) and (t.id in oracles or "ORACLE" in t.id)
                   for t in targets):
                continue
        n += sum(node.value.count(RULE) for node in ast.walk(top)
                 if isinstance(node, ast.Constant) and isinstance(node.value, str))
    return n


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    lines = spellings = 0
    seqs = {}
    for path in _files(root):
        with open(path) as fh:
            src = fh.read()
        tree = ast.parse(src, path)
        lines += len(src.splitlines()) - len(_docstring_lines(tree))
        spellings += _micro_spellings(os.path.relpath(path, os.path.join(root, PKG)), tree)
        seqs[path] = _code_lines(src, tree)
    where = defaultdict(list)
    for path, seq in seqs.items():
        for i in range(len(seq) - WINDOW + 1):
            key = tuple(text for _, text in seq[i:i + WINDOW])
            where[key].append((path, i, seq[i][0]))
    covered = defaultdict(set)
    for occ in where.values():
        if len({(p, o) for p, _, o in occ}) > 1:
            for path, i, _ in occ:
                covered[path].update(range(i, i + WINDOW))
    copies = sum(
        1 for s in covered.values() for i in s if i - 1 not in s
    )
    print(f"non-docstring lines: {lines}")
    print(f"repeated blocks: {sum(map(len, covered.values()))} lines in {copies} copies")
    print(f"micro-unit spellings outside the owner: {spellings}")


if __name__ == "__main__":
    main()
