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


HARNESS = PKG / "streaming" / "harness.py"
STREAM_SCAFFOLD = (
    "maxFilesPerTrigger",
    "os.utime(",
    'format("memory")',
    "trigger(availableNow=True)",
)


def test_stream_scaffold_lives_only_in_the_harness():
    """Wave replays, memory-sink drains and AvailableNow runs go
    through streaming/harness.py; a key that hand-rolls them again
    fails here."""
    harness = HARNESS.read_text(encoding="utf-8")
    for token in STREAM_SCAFFOLD:
        assert token in harness
    for path in sorted(PKG.rglob("*.py")):
        if path == HARNESS:
            continue
        text = path.read_text(encoding="utf-8")
        for token in STREAM_SCAFFOLD:
            assert token not in text, (
                f"{path.relative_to(PKG)} uses {token}: "
                "go through streaming/harness.py"
            )


def test_one_fround_and_the_daily_runner_skips_the_catalog():
    """``_fround`` has one definition, and the daily runner imports it
    without loading the query catalog (every query module would
    otherwise load into the cold daily run)."""
    import subprocess
    import sys

    defs = [
        path.relative_to(PKG)
        for path in sorted(PKG.rglob("*.py"))
        if "def _fround(" in path.read_text(encoding="utf-8")
    ]
    assert defs == [pathlib.Path("functions/rounding.py")]
    probe = (
        "import sys, aproximacion_1_etl_spark.plans.runner; "
        "print('aproximacion_1_etl_spark.queries' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=PKG.parent,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.strip() == "False"
