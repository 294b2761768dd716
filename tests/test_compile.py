"""Every engine module compiles with warnings turned into errors.

Invalid string escapes such as '\\s' in a non-raw SQL string are a
DeprecationWarning today and a SyntaxWarning on newer Pythons, which
plan to make them errors."""

import os
import pathlib
import re
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
    "mkdtemp(",
)


def test_stream_scaffold_lives_only_in_the_harness():
    """Wave replays, memory-sink drains, AvailableNow runs and temp
    dirs go through streaming/harness.py; a key that hand-rolls them
    again fails here. A result read from a temp dir is cut with
    ``localCheckpoint(eager=True)``, so no second lineage-cut helper
    comes back either."""
    harness = HARNESS.read_text(encoding="utf-8")
    for token in STREAM_SCAFFOLD:
        assert token in harness
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text(encoding="utf-8")
        for helper in ("_reclaimed", "_reclaimed_dist"):
            assert f"def {helper}(" not in text, (
                f"{path.relative_to(PKG)} defines {helper}: "
                "call localCheckpoint(eager=True) directly"
            )
        if path == HARNESS:
            continue
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


def _call_sites(func: str) -> set[str]:
    """Where the query catalog calls ``func``: the artifact name when
    the call sits in a builder passed to ``artifact(...)``, else the
    name of the enclosing top-level function."""
    import ast

    def calls(node, name):
        return [
            n for n in ast.walk(node)
            if isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None)) == name
        ]

    sites = set()
    for path in sorted((PKG / "queries").glob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for top in tree.body:
            if not isinstance(top, ast.FunctionDef):
                continue
            builders = {
                c.args[4].id: ast.literal_eval(c.args[2])
                if isinstance(c.args[2], ast.Constant)
                else ast.unparse(c.args[2])
                for c in calls(top, "artifact")
                if len(c.args) == 5 and isinstance(c.args[4], ast.Name)
            }
            in_builder = set()
            for d in ast.walk(top):
                if isinstance(d, ast.FunctionDef) and d.name in builders:
                    for c in calls(d, func):
                        sites.add(builders[d.name])
                        in_builder.add(id(c))
            if any(id(c) not in in_builder for c in calls(top, func)):
                sites.add(top.name)
    return sites


def test_models_and_exact_truths_are_built_only_in_the_registry():
    """A model, exact ground truth or loop-invariant structure that a
    key reuses across calls is an artifact(): the GD trainer runs only
    in the logreg_weights builder, the brute-force top-k only in the
    two exact-truth builders, in the operator's own key and for the
    drift trigger's wave 1 (a corpus no other key shares), the
    PageRank graph only in the supplier_graph builder, the
    full-corpus IVF index only in the ivf_index_full builder and the
    nprobe planner's cell populations and truth counts only in the
    ivf_nprobe_stats builder."""
    assert _call_sites("logistic_regression_gd") == {"logreg_weights"}
    assert _call_sites("pagerank_graph") == {"supplier_graph"}
    assert _call_sites("ivf_index") == {"ivf_index_full"}
    assert _call_sites("ivf_nprobe_stats") == {"ivf_nprobe_stats"}
    assert _call_sites("ann_topk_bruteforce") == {
        "exact_topk_full",
        "retrain_exact_topk",
        "q_ann_cosine_topk",
        "q_ivf_retrain_plan",
    }


def test_ann_primitives_are_defined_once():
    """text/vector.py ranks every top-k through ``_topk``, the only
    caller of ``row_number``, and builds codebook distances only in
    the corpus assignment (``ivf_index``), the probe order
    (``_ivf_probes``), the PQ subspace expression and the two
    trainers, which assign at 9 dp. A search that grows its own
    ranking or argmin again fails here, and so does an index consumer
    (``semantic_dedup``, ``ann_topk_ivfpq``) that assigns the corpus
    itself instead of taking the persisted index."""
    import ast

    tree = ast.parse(
        (PKG / "text" / "vector.py").read_text(encoding="utf-8")
    )

    def callers(name):
        return sorted(
            top.name
            for top in tree.body
            if isinstance(top, ast.FunctionDef)
            for n in ast.walk(top)
            if isinstance(n, ast.Call)
            and getattr(n.func, "id", getattr(n.func, "attr", None)) == name
        )

    assert callers("row_number") == ["_topk"]
    assert not {"semantic_dedup", "ann_topk_ivfpq"} & set(callers("ivf_index"))
    assert callers("_dist_structs_sql") == [
        "_ivf_probes",
        "_pq_subspace_sql",
        "ivf_index",
        "train_ivf_centroids",
        "train_pq_codebooks",
    ]


GRAPH_DIRS = ("operators", "text", "queries")
# the sorted-array pair expansion written out: slice(xs, i + 2, ...)
PAIR_EXPANSION = re.compile(
    r"slice\(\s*[^,()]+(\([^()]*\))?\s*,\s*i\w*\s*\+\s*(F\.lit\()?2\b"
)
# a co-order basket: an order's parts collected into one array
CO_ORDER_BASKET = re.compile(r'collect_set\(\s*"l_partkey"\s*\)')


def test_graph_primitives_are_defined_once():
    """The graph family has one connected-components loop
    (``operators/graph.py::connected_components``, which
    ``dedup_clusters`` projects), one pairwise basket expansion
    (``array_combinations``, which builds the expression and writes no
    ``slice(xs, i + 2, ...)`` out) and one co-order basket build
    (``queries/common.py::_order_baskets``). A second min-label loop
    (a loop that groups and takes a min), a hand-written pair
    expansion or another ``collect_set("l_partkey")`` fails here."""
    import ast

    min_loops, pairs, baskets = [], [], []
    for d in GRAPH_DIRS:
        for path in sorted((PKG / d).glob("*.py")):
            src = path.read_text(encoding="utf-8")
            where = f"{d}/{path.name}"
            pairs += [where for _ in PAIR_EXPANSION.finditer(src)]
            baskets += [where for _ in CO_ORDER_BASKET.finditer(src)]
            for top in ast.walk(ast.parse(src)):
                if not isinstance(top, ast.FunctionDef):
                    continue
                for loop in ast.walk(top):
                    if not isinstance(loop, (ast.For, ast.While)):
                        continue
                    called = {
                        getattr(n.func, "attr", None)
                        for n in ast.walk(loop)
                        if isinstance(n, ast.Call)
                    }
                    if {"groupBy", "min"} <= called:
                        min_loops.append(f"{where}::{top.name}")
    assert min_loops == ["operators/graph.py::connected_components"]
    assert pairs == []
    assert baskets == ["queries/common.py"]


def test_queries_md_is_the_generator_output():
    """QUERIES.md is exactly what tools/gen_queries_md.py renders from
    the key docstrings: a docstring edit must regenerate the file."""
    import importlib.util

    root = PKG.parent
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", root / "tools" / "gen_queries_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (root / "QUERIES.md").read_text(encoding="utf-8") == gen.render()
