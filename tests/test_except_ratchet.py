"""Ratchet on silent failures: ``except Exception`` handlers in the package
whose whole body is ``pass``. The count may only fall; lower
:data:`MAX_SILENT` when a change removes one."""

import ast
import pathlib

import linkml_store_spark

MAX_SILENT = 2


def _silent_handlers():
    root = pathlib.Path(linkml_store_spark.__file__).parent
    out = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if (
                isinstance(node, ast.ExceptHandler)
                and isinstance(node.type, ast.Name)
                and node.type.id == "Exception"
                and len(node.body) == 1
                and isinstance(node.body[0], ast.Pass)
            ):
                out.append(f"{path.relative_to(root)}:{node.lineno}")
    return out


def test_silent_broad_excepts_do_not_grow():
    found = _silent_handlers()
    assert len(found) <= MAX_SILENT, (
        f"{len(found)} `except Exception: pass` handlers (at most "
        f"{MAX_SILENT}): {found}"
    )
