"""Guard: the driver reaches files one way, through ``sources.io.driver_fs``.

Pure AST, no Spark, in the style of ``test_no_dead_code.py``. ``plans/`` and
``streaming/`` make no local-file calls (``open`` or anything in ``os``,
``shutil`` or ``pathlib``): such a call reads the driver's local disk even
when Spark resolves the same path on ``hdfs://``, a ``file:`` URI or another
scheme. No code outside ``driver_fs`` names the JVM package
``org.apache.hadoop.fs``, so which filesystem serves a path is decided in
that one function. And no package module imports ``pyarrow.fs``, so a second
filesystem, one that serves some schemes itself, cannot come back.
"""
from __future__ import annotations

import ast

from test_no_dead_code import PKG, _module_name, _parse, _py_files

HADOOP_FS = "org.apache.hadoop.fs"
#: The one function allowed to name ``HADOOP_FS``.
DRIVER_FS = f"{PKG}.sources.io.driver_fs"
#: Packages whose driver-side file access must go through ``driver_fs``.
DRIVER_IO_PACKAGES = ("plans", "streaming")


def _chain(node: ast.AST) -> str:
    """``a.b.c`` for an attribute chain, whatever expression it starts on."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        parts.append(node.id)
    return ".".join(reversed(parts))


def local_file_calls(tree: ast.Module) -> list[str]:
    """The local-file calls in ``tree``: ``open`` and any call into
    ``os``, ``shutil`` or ``pathlib``."""
    return sorted(
        name for node in ast.walk(tree) if isinstance(node, ast.Call)
        for name in [_chain(node.func)]
        if name == "open" or name.split(".")[0] in ("os", "shutil", "pathlib")
    )


def hadoop_fs_users(module: str, tree: ast.Module) -> set[str]:
    """The top-level definitions of ``module`` (``<module>`` for other
    statements) that name ``org.apache.hadoop.fs``, in code or a string."""
    users = set()
    for stmt in tree.body:
        name = getattr(stmt, "name", "<module>")
        for node in ast.walk(stmt):
            text = (node.value if isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    else _chain(node) if isinstance(node, ast.Attribute)
                    else "")
            if HADOOP_FS in text:
                users.add(f"{module}.{name}")
    return users


def pyarrow_fs_imports(tree: ast.Module) -> list[str]:
    """The imports in ``tree`` that reach ``pyarrow.fs``."""
    return [
        name for node in ast.walk(tree)
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
        for name in [f"{node.module}.{a.name}"
                     if isinstance(node, ast.ImportFrom) else a.name]
        if name.startswith("pyarrow.fs")
    ]


def _sources() -> dict[str, ast.Module]:
    files = (_py_files(PKG) + _py_files("jobs") + _py_files("scripts")
             + _py_files("perfbench") + _py_files("bench.py")
             + _py_files("__spark_entry__.py"))
    return {_module_name(p): _parse(p) for p in files}


def test_driver_io_packages_make_no_local_file_calls():
    paths = [p for sub in DRIVER_IO_PACKAGES for p in _py_files(PKG, sub)]
    assert paths
    found = {_module_name(p): local_file_calls(_parse(p)) for p in paths}
    found = {module: calls for module, calls in found.items() if calls}
    assert not found, (
        "driver-side file IO must go through sources.io.driver_fs: "
        f"{found}")


def test_no_package_module_imports_pyarrow_fs():
    found = {_module_name(p): pyarrow_fs_imports(_parse(p))
             for p in _py_files(PKG)}
    found = {module: names for module, names in found.items() if names}
    assert not found, f"driver-side file IO is driver_fs alone: {found}"


def test_only_driver_fs_names_the_hadoop_filesystem():
    users = set()
    for module, tree in _sources().items():
        users |= hadoop_fs_users(module, tree)
    assert users == {DRIVER_FS}


def test_the_guards_see_what_they_forbid():
    tree = ast.parse(
        "import os\n"
        "def f(spark, p):\n"
        "    with open(p) as h:\n"
        "        pass\n"
        "    os.path.exists(p)\n"
        "    return spark._jvm.org.apache.hadoop.fs.Path(p)\n"
        "def g(jvm):\n"
        "    return getattr(jvm, 'org.apache.hadoop.fs.FileContext')\n"
        "import pyarrow.fs\n"
        "from pyarrow import fs as pafs\n"
        "from pyarrow.fs import LocalFileSystem\n"
        "from pyarrow import parquet\n"
    )
    assert local_file_calls(tree) == ["open", "os.path.exists"]
    assert hadoop_fs_users("m", tree) == {"m.f", "m.g"}
    assert pyarrow_fs_imports(tree) == [
        "pyarrow.fs", "pyarrow.fs", "pyarrow.fs.LocalFileSystem"]
