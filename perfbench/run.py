#!/usr/bin/env python3
"""Benchmark of the engine, run from the root of a checkout:

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 20 --trace 0

Workloads (see README.md in this directory):

- ``daily_etl``: the paper's daily run, cold, in a fresh JVM;
- ``analytics_session``: graph, ml and vector catalog keys, timed in
  warm passes after a warm-up pass that checks them against the
  DuckDB oracles.

Inputs are generated from the seed into ``.perfbench/`` and cached
there; every Spark process runs in a child (``worker.py``) with its
working files under ``.perfbench/tmp``. With ``--trace 0`` the last
line of output is a JSON object with the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run.

    python3 perfbench/run.py --reference

prints the digest of the daily tables and the hash of ``run_daily``
over them, the two values ``spec.py`` records for the daily check.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
# every run ends within 180 s once its fixtures exist
RUN_BUDGET_S = 170
LANDING_ZONES_KEPT = 3

sys.path.insert(0, HERE)

import fixture  # noqa: E402
import spec  # noqa: E402


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "aproximacion_1_etl_spark", "__init__.py"))


def ensure_tables(sf: float, digest: str | None = None) -> str:
    """The catalog tables at ``sf``; with ``digest``, they must match it."""
    out = os.path.join(STATE, "tables", f"sf{sf}")
    if not os.path.exists(out + ".complete"):
        shutil.rmtree(out, ignore_errors=True)
        fixture.make_tables(out, sf)
        if digest is not None and fixture.tree_digest(out) != digest:
            raise RuntimeError(f"tables at sf{sf} differ from the ones spec.py records")
        open(out + ".complete", "w").close()
    return out


def ensure_landing(tables_dir: str, seed: int) -> tuple[str, dict]:
    base = os.path.join(STATE, "landing")
    out = os.path.join(base, f"seed{seed}")
    manifest_path = out + ".json"
    if not os.path.exists(manifest_path):
        manifest = fixture.make_landing_zone(tables_dir, out, seed)
        manifest["days"] = fixture.DAYS
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)
        zones = sorted(
            (p for p in os.listdir(base) if p.endswith(".json")),
            key=lambda p: os.path.getmtime(os.path.join(base, p)),
        )
        for old in zones[:-LANDING_ZONES_KEPT]:
            os.remove(os.path.join(base, old))
            shutil.rmtree(os.path.join(base, old[: -len(".json")]), ignore_errors=True)
        # write the new files back now, not while the timed job reads them
        os.sync()
    with open(manifest_path) as f:
        return out, json.load(f)


def ensure_oracles(tables_dir: str, keys: list[str]) -> str:
    sys.path.insert(0, ROOT)
    from aproximacion_1_etl_spark.oracles import ALL_ORACLES
    from oracle import OracleCache

    cache_dir = os.path.join(STATE, "oracle")
    cache = OracleCache(tables_dir, cache_dir)
    for k in keys:
        cache.expected(ALL_ORACLES[k])
    cache.close()
    return cache_dir


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def spawn(cfg: dict, tag: str, deadline: float) -> dict:
    """Run one worker process to completion by ``deadline``; return its result."""
    tmp = os.path.join(STATE, "tmp", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cfg = {
        **cfg,
        "tmp_dir": tmp,
        "work_dir": os.path.join(tmp, "work"),
        "event_dir": os.path.join(tmp, "events"),
        "result_path": os.path.join(tmp, "result.json"),
    }
    cfg_path = os.path.join(tmp, "config.json")
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    env = {
        **os.environ,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    with open(os.path.join(STATE, "logs", f"{tag}.log"), "w") as log:
        cfg["t_spawn"] = time.time()
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), cfg_path],
            stdout=log, stderr=subprocess.STDOUT, env=env, cwd=ROOT,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            gone_by = time.time() + 10
            while _group_alive(proc.pid) and time.time() < gone_by:
                time.sleep(0.1)
    if proc.returncode != 0 or not os.path.exists(cfg["result_path"]):
        raise RuntimeError(
            f"worker {tag} exited with {proc.returncode}; see .perfbench/logs/{tag}.log"
        )
    with open(cfg["result_path"]) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)
    return res


def per_layer(traced: dict, plain: dict) -> dict[str, float]:
    """Every per-layer metric of a traced run; 0 for spans the
    workload does not run."""
    att = traced["attribution"]
    spans = att["spans"]
    values: dict[str, float] = {}
    for name, _unit in spec.per_layer_metrics():
        layer, metric = name.rsplit(".", 1)
        values[name] = float(spans.get(layer, {}).get(metric, 0.0))
    if spec.INGEST in spans:
        values[f"{spec.INGEST}.rows_out"] = float(traced.get("rows_out", 0))
        values[f"{spec.INGEST}.corrupt_rows"] = float(traced.get("corrupt_rows", 0))
    if spec.EXPLODE in spans:
        values[f"{spec.EXPLODE}.rows_out"] = spans[spec.EXPLODE]["output_rows"]
    for key in spec.SESSION_KEYS:
        name = spec.key_span(key)
        timed = [spans[spec.key_span(key, n)] for n in range(1, traced.get("passes", 0) + 1)]
        for m in spec.KEY_METRICS:
            values[f"{name}.{m}"] = statistics.median(t[m] for t in timed) if timed else 0.0
        values[f"{name}.cold_s"] = spans.get(f"warmup.{key}", {}).get("wall_s", 0.0)
    values["session.start_s"] = traced["start_s"]
    values["session.warmup_s"] = traced.get("warmup_s", 0.0)
    values["session.peak_rss_mb"] = traced["peak_rss_mb"]
    values["trace.unattributed_jobs"] = float(att["unattributed_jobs"])
    values["trace.attributed_pct"] = 100.0 * att["assigned_jobs"] / max(1, att["jobs"])
    values["trace.overhead_pct"] = 100.0 * (traced["wall_s"] / plain["wall_s"] - 1.0)
    return values


def reference() -> int:
    tables = ensure_tables(spec.DAILY_SF)
    cfg = {"workload": "reference", "trace": False, "setup_only": False,
           "tables_dir": tables}
    res = spawn(cfg, "reference", time.time() + RUN_BUDGET_S)
    print(json.dumps({"tables_digest": fixture.tree_digest(tables),
                      "reference": res["reference"]}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=spec.WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--reference", action="store_true",
                    help="print the daily check's reference values and exit")
    args = ap.parse_args()
    if not args.reference and (args.workload is None or args.seed is None):
        ap.error("--workload and --seed are required")
    if not engine_present():
        print("perfbench: engine package aproximacion_1_etl_spark not found "
              f"under {ROOT}", file=sys.stderr)
        return 2
    if args.reference:
        return reference()

    # Untimed fixture set-up, cached across runs of this checkout. The
    # first run builds the shared fixtures of both workloads (~30 s), so
    # later runs stay within their time limit.
    daily_tables = ensure_tables(spec.DAILY_SF, spec.DAILY_TABLES_DIGEST)
    session_tables = ensure_tables(spec.SESSION_SF)
    oracle_dir = ensure_oracles(session_tables, list(spec.SESSION_KEYS))
    keys = list(spec.SESSION_KEYS)
    random.Random(args.seed).shuffle(keys)
    cfg: dict = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": False,
        "setup_only": False,
    }
    if args.workload == "daily_etl":
        landing, manifest = ensure_landing(daily_tables, args.seed)
        cfg.update(tables_dir=daily_tables, landing_dir=landing, manifest=manifest)
    else:
        cfg.update(tables_dir=session_tables, keys=keys, oracle_dir=oracle_dir)

    tag = f"{args.workload}-seed{args.seed}"
    deadline = time.time() + RUN_BUDGET_S
    if args.trace:
        cfg["passes"] = spec.TRACE_PASSES
    plain = spawn(cfg, f"{tag}-main", deadline)
    if args.trace:
        traced = spawn({**cfg, "trace": True}, f"{tag}-traced", deadline)
        workers = [plain, traced]
        values = per_layer(traced, plain)
        metrics = {
            name: {"value": values[name], "unit": unit}
            for name, unit in spec.per_layer_metrics()
        }
        os.makedirs(os.path.join(STATE, "trace"), exist_ok=True)
        with open(os.path.join(STATE, "trace", f"{tag}.json"), "w") as f:
            json.dump({"spans": traced["spans"], "attribution": traced["attribution"]}, f)
    else:
        workers = [plain] + [
            spawn({**cfg, "setup_only": True}, f"{tag}-setup{i}", deadline)
            for i in range(1, spec.SETUP_SAMPLES[args.workload])
        ]
        values = {
            "wall_s": plain["wall_s"],
            "setup_s": statistics.median(r["setup_s"] for r in workers),
        }
        metrics = {
            name: {"value": values[name], "unit": unit} for name, unit in spec.END_TO_END
        }
    for s in plain["spans"]:
        print(f"perfbench: span {s['name']} {s['end'] - s['start']:.3f}s", file=sys.stderr)
    errors = [e for r in workers for e in r["errors"]]
    for e in errors:
        print(f"perfbench: {e}", file=sys.stderr)
    attempted = sum(r["attempted"] for r in workers)
    failed = sum(r["failed"] for r in workers)
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
