"""Source-level guards over the package: the integer-embedding format
lives in one module, and every entry a registry module declares is
reachable through queries(). Both read source text only — no Spark."""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "datafusion_cyberpolka_eda_spark"
FORMAT_HOME = PKG / "operators" / "similarity.py"

# the two hand-spelled shapes the shared builders replace: floor-quantize
# at the literal scale, and the exact dot over the (q_a, q_b) pair columns
QUANTIZE = re.compile(r"F\.floor\(\s*\w+\s*\*\s*F\.lit\(\s*100_?000(\.0*)?\s*\)\s*\)")
PAIR_DOT = re.compile(r"zip_with\(\s*[\"']q_a[\"']\s*,\s*[\"']q_b[\"']")


def _sources() -> list[Path]:
    return sorted(PKG.rglob("*.py"))


def test_only_similarity_spells_the_integer_format():
    hits = []
    for path in _sources():
        if path == FORMAT_HOME:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if QUANTIZE.search(line) or PAIR_DOT.search(line):
                hits.append(f"{path.relative_to(PKG)}:{n}: {line.strip()}")
    assert not hits, "call similarity.quantize_q / int_dot instead:\n" + "\n".join(
        hits
    )


def test_one_quantization_scale_constant():
    """The scale is similarity.QSCALE alone: no module-level name
    carrying QSCALE and no other module constant equal to 1e5."""
    found = []
    for path in _sources():
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            for t in targets:
                if not isinstance(t, ast.Name):
                    continue
                is_scale = (
                    isinstance(value, ast.Constant)
                    and not isinstance(value.value, bool)
                    and value.value == 100000
                )
                if "QSCALE" in t.id or is_scale:
                    found.append((path.relative_to(PKG).as_posix(), t.id))
    assert found == [("operators/similarity.py", "QSCALE")]


def _declared_entries() -> list[str]:
    names = []
    for path in sorted((PKG / "registry").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "register"
                and node.args
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)
            ):
                names.append(node.args[0].value)
    return names


def test_every_declared_entry_is_registered():
    """A registry module whose import is dropped takes its entries out
    of queries() without failing any parity test; this notices."""
    from datafusion_cyberpolka_eda_spark.registry import queries

    declared = _declared_entries()
    assert len(declared) == len(set(declared)), "an entry name is declared twice"
    missing = sorted(set(declared) - set(queries()))
    assert not missing, f"declared but never registered: {missing}"
