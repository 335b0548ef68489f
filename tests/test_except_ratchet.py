"""Ratchets on broad failure handling in the package. Both counts may
only fall; lower the maximum when a change removes a handler.

* :data:`MAX_SILENT` — ``except Exception`` handlers whose whole body is
  ``pass``;
* :data:`MAX_BROAD` — ``except Exception`` handlers of any body (also as
  a member of a tuple): new code catches what its calls raise."""

import ast
import pathlib

import linkml_store_spark

MAX_SILENT = 0
MAX_BROAD = 6


def _broad_handlers():
    """(location, handler) of every ``except Exception`` in the package."""
    root = pathlib.Path(linkml_store_spark.__file__).parent
    out = []
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.ExceptHandler):
                continue
            types = (
                node.type.elts if isinstance(node.type, ast.Tuple)
                else [node.type]
            )
            if any(isinstance(t, ast.Name) and t.id == "Exception"
                   for t in types):
                out.append((f"{path.relative_to(root)}:{node.lineno}", node))
    return out


def test_silent_broad_excepts_do_not_grow():
    found = [
        loc for loc, node in _broad_handlers()
        if len(node.body) == 1 and isinstance(node.body[0], ast.Pass)
    ]
    assert len(found) <= MAX_SILENT, (
        f"{len(found)} `except Exception: pass` handlers (at most "
        f"{MAX_SILENT}): {found}"
    )


def test_broad_excepts_do_not_grow():
    found = [loc for loc, _node in _broad_handlers()]
    assert len(found) <= MAX_BROAD, (
        f"{len(found)} `except Exception` handlers (at most "
        f"{MAX_BROAD}): {found}"
    )
