#!/usr/bin/env python3
"""Record-linkage benchmark: batch resolution and delta ingest.

Run from the repository root:

    python3 perfbench/run.py --workload batch_resolve --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``batch_resolve``: ``plans.pipeline.run_pipeline`` with the production
  ``MatcherConfig()`` over a fixture corpus that includes the license hot-key
  rows. One op = one full batch resolution into a fresh run dir.
- ``delta_ingest``: one catalog is batch-resolved and persisted during
  set-up; one op = one fixed-size delta linked against it with
  ``run_delta_pipeline(state=..., emit="delta", maintain_state=True)`` into a
  fresh run dir. Deltas are independent, so ops stay comparable.

Inputs are generated from ``--seed`` before any clock starts and read back
from parquet through ``sources.records.read_records`` inside each op. After
each op, off the clock, its output is checked (row counts, new rids, pairwise
F1 against the planted labeled pairs) and its run dir deleted. Ops repeat
until ``--seconds`` of op time has been measured.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` wraps the
engine's stage barrier and connected components from perfbench/spans.py and
prints the per-layer metrics instead. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Earlier lines
record the pinned environment, the set-up breakdown and each op's window
(host steal, load average), which are reported and never gated.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

import procfs
import spans

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
sys.path.insert(0, str(ROOT))

# Engine imports fail outside a checkout of the repository, which is the
# benchmark's "no program here" exit.
from codingchallenge_spark.eval import pairwise_f1  # noqa: E402
from codingchallenge_spark.plans import catalog_state, incremental, pipeline  # noqa: E402
from codingchallenge_spark.plans.matcher import MatcherConfig  # noqa: E402
from codingchallenge_spark.session import build_session  # noqa: E402
from codingchallenge_spark.sources import checkpoint  # noqa: E402
from codingchallenge_spark.sources.records import read_records  # noqa: E402
from fixtures.gen_repo_files import generate  # noqa: E402

F1_GATE = 0.99  # the paper's pairwise-F1 target
MAX_OPS = 50

# Input sizes. One run should stay near a minute on a 4-core host: a cold JVM
# op costs ~30 s whatever the input size and a warm op 13-20 s, so a run
# affords one warm-up op and one timed op at ``bench`` size. ``tiny`` is for
# the smoke tests.
SIZES = {
    "bench": dict(batch=1000, warm=300, catalog=2000, delta=200, deltas=4),
    "tiny": dict(batch=100, warm=100, catalog=300, delta=50, deltas=2),
}


def _emit(obj: dict) -> None:
    print(json.dumps(obj), flush=True)


def _dir_bytes_files(path: Path) -> tuple[int, int]:
    n_bytes = n_files = 0
    for dirpath, _, filenames in os.walk(path):
        for name in filenames:
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
            n_files += 1
    return n_bytes, n_files


def _write_parquet(df, path: Path) -> int:
    df.to_parquet(path, index=False)
    return path.stat().st_size


def pin_environment() -> dict:
    """Fix the engine's environment from here, not from the caller's shell:
    master, shuffle width, driver heap, shuffle/spill and temp dirs (inside
    the checkout)."""
    cores = len(os.sched_getaffinity(0))
    mem_kb = int(
        next(
            line.split()[1]
            for line in Path("/proc/meminfo").read_text().splitlines()
            if line.startswith("MemTotal:")
        )
    )
    heap_g = max(1, min(4, mem_kb // (4 << 20)))  # a quarter of RAM, ≤ 4 GB
    local_dir = WORK / "spark-local"
    tmp_dir = WORK / "tmp"
    for d in (local_dir, tmp_dir):
        d.mkdir(parents=True, exist_ok=True)
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp_dir}"
    env = {
        "CCSPARK_DRIVER_MEMORY": f"{heap_g}g",
        "CCSPARK_LOCAL_DIR": str(local_dir),
        "SPARK_LOCAL_DIRS": str(local_dir),
        "TMPDIR": str(tmp_dir),
        # the spark-submit launcher JVM that starts the driver JVM
        "SPARK_LAUNCHER_OPTS": jvm_opts,
    }
    os.environ.update(env)
    tempfile.tempdir = str(tmp_dir)
    return {
        "master": f"local[{cores}]",
        "shuffle_partitions": 2 * cores,
        "env": env,
        "conf": {
            # -XX:-UsePerfData: no hsperfdata file under the system /tmp.
            "spark.driver.extraJavaOptions": jvm_opts,
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
        },
    }


class BatchResolve:
    """Full batch resolution of a corpus with hot-key rows."""

    def __init__(self, seed: int, size: dict, inputs: Path):
        fx = generate(size["batch"], seed=seed, hot_key=True)
        warm = generate(size["warm"], seed=seed + 1_000_003)
        self.seed = seed
        self.rows = len(fx.records)
        self.records = inputs / "records.parquet"
        self.input_bytes = _write_parquet(fx.records, self.records)
        self.pairs = inputs / "labeled_pairs.parquet"
        _write_parquet(fx.labeled_pairs, self.pairs)
        self.warm = inputs / "warmup.parquet"
        _write_parquet(warm.records, self.warm)

    def setup(self, spark, runs: Path) -> dict:
        t0 = time.perf_counter()
        # One full op on a small input: class loading, codegen, the Python
        # worker pool and first JIT tiers are paid here, not by timed ops.
        self._resolve(spark, self.warm, runs / "warmup")
        shutil.rmtree(runs / "warmup")
        return {"warmup_s": time.perf_counter() - t0}

    def _resolve(self, spark, path: Path, run_dir: Path):
        return pipeline.run_pipeline(
            spark, read_records(spark, str(path)), str(run_dir),
            MatcherConfig(), input_id=f"batch-{self.seed}-{path.stem}",
        )

    def op(self, spark, i: int, run_dir: Path):
        """Returns (what check needs, input rows, input bytes)."""
        return self._resolve(spark, self.records, run_dir), self.rows, self.input_bytes

    def check(self, spark, run) -> tuple[bool, float, dict]:
        ent = run.entities
        n = ent.count()
        f1 = pairwise_f1(
            ent.select("rid", "entity_id"), spark.read.parquet(str(self.pairs))
        ).f1
        ok = n == self.rows and f1 >= F1_GATE
        return ok, f1, {"out_rows": n, "want_rows": self.rows}


class DeltaIngest:
    """Fixed-size deltas linked against one persisted catalog."""

    def __init__(self, seed: int, size: dict, inputs: Path):
        n_cat, d, k = size["catalog"], size["delta"], size["deltas"]
        fx = generate(n_cat + k * d, seed=seed)
        recs, rids = fx.records, fx.golden["rid"]
        self.seed = seed
        self.delta_rows = d
        self.catalog = inputs / "catalog.parquet"
        _write_parquet(recs.iloc[:n_cat], self.catalog)
        cat_rids = set(rids.iloc[:n_cat])
        lp = fx.labeled_pairs
        self.deltas = []
        for j in range(k):
            lo, hi = n_cat + j * d, n_cat + (j + 1) * d
            path = inputs / f"delta_{j}.parquet"
            new = set(rids.iloc[lo:hi])
            scope = cat_rids | new
            pairs = inputs / f"labeled_pairs_{j}.parquet"
            _write_parquet(
                lp[lp["rid1"].isin(scope) & lp["rid2"].isin(scope)], pairs
            )
            self.deltas.append(
                dict(
                    path=path,
                    bytes=_write_parquet(recs.iloc[lo:hi], path),
                    new_rids=new,
                    total=len(scope),
                    pairs=pairs,
                )
            )
        self.cat_dir: Path | None = None

    def setup(self, spark, runs: Path) -> dict:
        t0 = time.perf_counter()
        self.cat_dir = runs / "catalog"
        pipeline.run_pipeline(
            spark, read_records(spark, str(self.catalog)), str(self.cat_dir),
            MatcherConfig(), input_id=f"catalog-{self.seed}",
        )
        return {"catalog_s": time.perf_counter() - t0}

    def op(self, spark, i: int, run_dir: Path):
        """Returns (what check needs, delta rows, delta input bytes)."""
        j = i % len(self.deltas)
        delta = self.deltas[j]
        state = catalog_state.load_catalog_state(spark, str(self.cat_dir))
        pipeline.run_delta_pipeline(
            spark, None, read_records(spark, str(delta["path"])),
            str(run_dir), MatcherConfig(),
            input_id=f"delta-{self.seed}-{j}", state=state,
            emit="delta", maintain_state=True,
        )
        return (str(run_dir), delta), self.delta_rows, delta["bytes"]

    def check(self, spark, out) -> tuple[bool, float, dict]:
        run_dir, delta = out
        upserts = spark.read.parquet(pipeline.delta_entities_path(run_dir))
        got = {r.rid for r in upserts.select("rid").collect()}
        missing = len(delta["new_rids"] - got)
        labels = pipeline.current_entities(spark, run_dir).select("rid", "entity_id")
        n = labels.count()
        f1 = pairwise_f1(labels, spark.read.parquet(str(delta["pairs"]))).f1
        ok = missing == 0 and n == delta["total"] and f1 >= F1_GATE
        return ok, f1, {
            "missing_new_rids": missing, "catalog_rows": n,
            "want_catalog_rows": delta["total"],
        }


WORKLOADS = {"batch_resolve": BatchResolve, "delta_ingest": DeltaIngest}


def install_tracer() -> spans.Tracer:
    tracer = spans.Tracer()

    def stage_result(span, res):
        span.attrs.update(rows=res.rows, path=res.path)

    def cc_result(span, res):
        span.attrs["iterations"] = res.iterations

    tracer.wrap(
        checkpoint, "write_stage",
        lambda df, run_dir, stage, *a, **k: stage, stage_result,
    )
    # connected_components is called through the names these modules import
    for module in (pipeline, incremental):
        tracer.wrap(
            module, "connected_components",
            lambda *a, **k: "connected_components", cc_result,
        )
    return tracer


def layer_metrics(op_spans: list[spans.Span], input_rows: int) -> dict[str, float]:
    """Per-layer metrics of one traced op: self times plus the counts the
    stage sinks and CC results carry."""
    m = spans.layer_times(op_spans)
    rows = {s.name: s.attrs["rows"] for s in op_spans if "rows" in s.attrs}
    paths = {s.name: Path(s.attrs["path"]) for s in op_spans if "path" in s.attrs}
    sizes = {name: _dir_bytes_files(p) for name, p in paths.items()}
    candidates = rows.get("pairs", rows.get("pairs_delta", 0))
    edges = rows.get("edges", rows.get("edges_delta", 0))
    m.update(
        {
            "normalize.rows": rows.get("normalize", rows.get("normalize_delta", 0)),
            "blocking.token_pairs": rows.get("block_token", 0),
            "blocking.sn_pairs": rows.get("block_sn", 0),
            "blocking.candidates": candidates,
            "scoring.survivors": rows.get("score", rows.get("score_delta", 0)),
            "scoring.edge_ratio": edges / candidates if candidates else 0.0,
            "cc.iterations": sum(
                s.attrs.get("iterations", 0) for s in op_spans
            ),
            "catalog_state.bytes": sum(
                sizes[s][0] for s in spans.CATALOG_STATE_STAGES if s in sizes
            ),
            "incremental.pairs_per_delta_row": (
                rows.get("pairs_delta", 0) / input_rows
                if "pairs_delta" in rows else 0.0
            ),
            "checkpoint.bytes": sum(b for b, _ in sizes.values()),
            "checkpoint.files": sum(f for _, f in sizes.values()),
        }
    )
    return m


PER_LAYER_UNITS = {
    "normalize.s": "s", "normalize.rows": "count",
    "blocking.token_s": "s", "blocking.sn_s": "s", "blocking.union_s": "s",
    "blocking.token_pairs": "count", "blocking.sn_pairs": "count",
    "blocking.candidates": "count",
    "scoring.s": "s", "scoring.edges_s": "s", "scoring.survivors": "count",
    "scoring.edge_ratio": "ratio",
    "cc.s": "s", "cc.iterations": "count",
    "emit.s": "s",
    "catalog_state.s": "s", "catalog_state.bytes": "bytes",
    "incremental.pairs_s": "s", "incremental.score_s": "s",
    "incremental.cc_s": "s", "incremental.emit_s": "s",
    "incremental.pairs_per_delta_row": "ratio",
    "pipeline.driver_s": "s",
    "checkpoint.bytes": "bytes", "checkpoint.files": "count",
    "trace.op_s": "s", "trace.overhead_s": "s",
}


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process it forked, and wait for
    each to end."""
    from pyspark import SparkContext

    pids = procfs.tree_pids() - {os.getpid()}
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if Path(f"/proc/{p}").exists()}
        time.sleep(0.1)
    for p in pids:  # stragglers: UDF workers whose JVM is gone
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(Path(f"/proc/{p}").exists() for p in pids):
        time.sleep(0.1)


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def run(args) -> dict:
    env = pin_environment()
    inputs, runs = WORK / "inputs", WORK / "runs"
    for d in (inputs, runs):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)

    t0 = time.perf_counter()
    wl = WORKLOADS[args.workload](args.seed, SIZES[args.size], inputs)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = build_session(
        app_name="perfbench", master=env["master"],
        shuffle_partitions=env["shuffle_partitions"], extra_conf=env["conf"],
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    try:
        setup = wl.setup(spark, runs)
        setup_s = time.perf_counter() - t0
        _emit({"env": env, "setup": {"input_gen_s": gen_s, "session_s": session_s,
                                     **setup, "setup_s": setup_s}})
        tracer = install_tracer() if args.trace else None
        ops, measured = [], 0.0
        while len(ops) < MAX_OPS and (not ops or measured < args.seconds):
            i = len(ops)
            run_dir = runs / f"op_{i}"
            line = {"op": i, "ok": False, "pairwise_f1": 0.0}
            try:
                with procfs.OpSampler() as sampler:
                    if tracer:
                        tracer.begin_op(i)
                    t = time.perf_counter()
                    try:
                        out, rows, in_bytes = wl.op(spark, i, run_dir)
                    finally:
                        wall = time.perf_counter() - t
                        if tracer:
                            tracer.end_op()
                w = sampler.window
                line.update(
                    wall_s=wall, rows=rows, cpu_s=w.cpu_s, steal_s=w.steal_s,
                    load1=w.load1, peak_rss_mb=w.peak_rss_mb,
                    bytes_written=_dir_bytes_files(run_dir)[0],
                    input_bytes=in_bytes,
                )
                if tracer:
                    op_spans = tracer.op_spans(i)
                    lm = layer_metrics(op_spans, rows)
                    lm["trace.op_s"] = op_spans[0].end - op_spans[0].start
                    lm["trace.overhead_s"] = tracer.overhead_s[i]
                    line["layers"] = lm
                ok, f1, detail = wl.check(spark, out)
                line.update(ok=ok, pairwise_f1=f1, **detail)
            except Exception as exc:  # an op that raises counts as failed
                line["error"] = f"{type(exc).__name__}: {exc}"[:500]
            measured += line.get("wall_s", 0.0)
            ops.append(line)
            _emit(line)
            shutil.rmtree(run_dir, ignore_errors=True)
        if tracer:
            tracer.uninstall()
            trace_file = WORK / f"trace-{args.workload}-{args.seed}.jsonl"
            with open(trace_file, "w") as f:
                for s in tracer.spans:
                    f.write(json.dumps(s.__dict__, default=str) + "\n")
    finally:
        stop_spark(spark)

    failed = sum(not o["ok"] for o in ops)
    done = [o for o in ops if "wall_s" in o]
    if args.trace:
        layers = [o["layers"] for o in done]
        metrics = {
            name: (_median(lm[name] for lm in layers), unit)
            for name, unit in PER_LAYER_UNITS.items()
        }
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_s": (_median(o["wall_s"] for o in done), "s"),
            "rows_per_s": (_median(o["rows"] / o["wall_s"] for o in done), "1/s"),
            "cpu_s_per_krow": (
                _median(1000 * o["cpu_s"] / o["rows"] for o in done), "s"
            ),
            "pairwise_f1": (_median(o["pairwise_f1"] for o in done), "ratio"),
            "bytes_written_per_input_byte": (
                _median(o["bytes_written"] / o["input_bytes"] for o in done),
                "ratio",
            ),
            "peak_rss_mb": (max((o["peak_rss_mb"] for o in done), default=0.0), "MB"),
            "success_rate": (1 - failed / len(ops), "ratio"),
        }
    return {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="bench")
    _emit(run(ap.parse_args(argv)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
