#!/usr/bin/env python
"""Regenerate API.md: every public function/class in the package with
its signature and first docstring line. Pure AST walk — no imports, no
Spark. Run after changing the public surface: `python tools/gen_api.py`.
``tests/test_plans.py::test_api_md_is_fresh`` fails while API.md is stale.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(REPO, "jsonl_dataingestion_pipeline_spark")


def first_line(doc: str | None) -> str:
    if not doc:
        return ""
    for ln in doc.strip().splitlines():
        ln = ln.strip()
        if ln:
            return ln
    return ""


def sig_of(fn: ast.FunctionDef) -> str:
    a = fn.args
    parts = [x.arg for x in a.posonlyargs + a.args]
    if a.vararg:
        parts.append("*" + a.vararg.arg)
    elif a.kwonlyargs:
        parts.append("*")
    parts += [x.arg for x in a.kwonlyargs]
    if a.kwarg:
        parts.append("**" + a.kwarg.arg)
    return f"{fn.name}({', '.join(parts)})"


def render() -> str:
    """The full text of API.md for the package as it is on disk."""
    out = [
        "# API — public surface of `jsonl_dataingestion_pipeline_spark`",
        "",
        "Generated by `tools/gen_api.py` (AST walk; regenerate after",
        "adding operators). One line per public function: signature +",
        "first docstring sentence. See each docstring for the full",
        "contract and the 100 TB plan-shape notes.",
        "",
    ]
    for root, _dirs, files in sorted(os.walk(PKG)):
        for f in sorted(files):
            if not f.endswith(".py") or f == "__init__.py":
                continue
            path = os.path.join(root, f)
            rel = os.path.relpath(path, REPO)
            tree = ast.parse(open(path).read())
            rows = []
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and not node.name.startswith(
                    "_"
                ):
                    rows.append(
                        f"- `{sig_of(node)}` — "
                        f"{first_line(ast.get_docstring(node))}"
                    )
                elif isinstance(node, ast.ClassDef) and not node.name.startswith(
                    "_"
                ):
                    rows.append(
                        f"- `class {node.name}` — "
                        f"{first_line(ast.get_docstring(node))}"
                    )
            if rows:
                mod_doc = first_line(ast.get_docstring(tree))
                out += [f"## `{rel}`", ""]
                if mod_doc:
                    out += [mod_doc, ""]
                out += rows + [""]
    return "\n".join(out)


def main() -> int:
    text = render()
    with open(os.path.join(REPO, "API.md"), "w") as fh:
        fh.write(text)
    print(f"wrote API.md ({text.count(chr(10)) + 1} lines)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
