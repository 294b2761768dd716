"""Every engine module compiles with warnings turned into errors.

Invalid string escapes such as '\\s' in a non-raw SQL string are a
DeprecationWarning today and a SyntaxWarning on newer Pythons, which
plan to make them errors."""

import os
import pathlib
import warnings

PKG = pathlib.Path(__file__).resolve().parent.parent / "aproximacion_1_etl_spark"


def test_every_module_compiles_without_warnings():
    modules = sorted(PKG.rglob("*.py"))
    assert modules
    for path in modules:
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            compile(path.read_text(encoding="utf-8"), os.fspath(path), "exec")
