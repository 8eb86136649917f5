"""Guard: the library's own kernels run on ``mapInArrow``.

A ``mapInPandas`` call converts every Arrow batch to pandas and back.
Under ``operators/`` and ``sources/`` one may stay only with its reason
written in a ``# pandas:`` comment on the call itself."""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "spark_extension_spark"


def _unexplained_pandas_maps(src):
    """Line numbers of ``mapInPandas`` references in ``src`` whose call
    carries no ``# pandas:`` comment on any of its lines."""
    lines = src.splitlines()
    tree = ast.parse(src)
    calls = {id(n.func): n for n in ast.walk(tree) if isinstance(n, ast.Call)}
    return sorted(
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute) and node.attr == "mapInPandas"
        and not any(
            "# pandas:" in line
            for line in lines[node.lineno - 1 : calls.get(id(node), node).end_lineno]
        )
    )


def test_guard_flags_only_unexplained_calls():
    src = (
        '"""mapInPandas in a docstring is prose, not a call."""\n'
        "a = df.mapInPandas(f, schema)\n"
        "b = df.mapInPandas(  # pandas: runs the caller's pandas function\n"
        "    f, schema)\n"
        "c = df.mapInPandas(\n"
        "    f,\n"
        "    schema,  # pandas: reason on a later line of the same call\n"
        ")\n"
        "d = df.mapInPandas\n"
    )
    assert _unexplained_pandas_maps(src) == [2, 9]


def test_internal_kernels_use_map_in_arrow():
    bad = [
        f"{path.relative_to(PKG)}:{line}"
        for sub in ("operators", "sources")
        for path in sorted((PKG / sub).rglob("*.py"))
        for line in _unexplained_pandas_maps(path.read_text())
    ]
    assert not bad, f"mapInPandas without a '# pandas:' reason on the call: {bad}"
