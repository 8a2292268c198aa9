"""Print physical and code line counts for the package, the
``__spark_entry__.py`` entry module and the tests.

A code line holds at least one token that is not a comment, a docstring
or whitespace; docstring spans come from ``ast``. Usage:

    python scripts/count_lines.py
"""

from __future__ import annotations

import ast
import io
import tokenize
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SKIP = {tokenize.COMMENT, tokenize.NL, tokenize.NEWLINE, tokenize.INDENT,
        tokenize.DEDENT, tokenize.ENDMARKER, tokenize.ENCODING}


def count(path: Path) -> tuple[int, int]:
    src = path.read_text()
    doc = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if (isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                              ast.AsyncFunctionDef)) and body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)):
            doc.update(range(body[0].lineno, body[0].end_lineno + 1))
    code = set()
    for tok in tokenize.generate_tokens(io.StringIO(src).readline):
        if tok.type not in SKIP:
            code.update(range(tok.start[0], tok.end[0] + 1))
    return len(src.splitlines()), len(code - doc)


PKG = ROOT / "ai_driven_smart_grid_energy_data_pipeline_and_forecasting_spark"
GROUPS = [
    ("package", sorted(PKG.rglob("*.py"))),
    ("__spark_entry__.py", [ROOT / "__spark_entry__.py"]),
    ("tests", sorted((ROOT / "tests").rglob("*.py"))),
]

if __name__ == "__main__":
    for label, paths in GROUPS:
        phys, code = map(sum, zip(*(count(p) for p in paths)))
        print(f"{label}: {phys} physical, {code} code lines")
