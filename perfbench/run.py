"""Scanner benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload catalog_full_scan --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the seed
(cached with their DuckDB oracle under ``.perfbench_cache/``), starts a
local Spark session pinned to the CPUs it may use, warms it up with
untimed iterations, then times iterations until ``--seconds`` have
passed. Every iteration's output is checked against the oracle; an
exception or a mismatch counts as a failed attempt.

``--trace 0`` reports the end-to-end metrics (medians over iterations).
``--trace 1`` alternates plain and traced iterations and reports the
per-layer metrics (medians over traced iterations) plus the tracing
overhead; its spans go to ``.perfbench_out/``.

The last stdout line is the result object; the line before it records
the run (nproc, Spark version, driver heap, seed, phase times, samples,
oracle mismatches, peak memory, CPU steal). Scratch files live under
``.perfbench_work/`` and are removed at exit, after the Spark JVM and
every other process the run started have ended.
"""

from __future__ import annotations

import argparse
import ctypes
import errno
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

# pyspark and the scanner package are imported only after
# pin_environment: the package reads SPARK_GRAFT_CPUS at import time.

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

#: Driver heap. Room for these inputs several times over on a 4-core,
#: 15 GiB machine.
DRIVER_MEMORY = "2g"
#: Untimed iterations before timing: at least this many, and after the
#: first, cold one at least WARMUP_WARM_S seconds of them. The first run
#: of every plan pays its code generation and class loading (~4x a warm
#: iteration); the ones after it keep getting faster while the JIT
#: compiles the planner, for a while rather than a number of iterations
#: (full scan after the cold one: 8.3, 6.9, 6.4, 5.8, 5.9, 5.5 s; the
#: documents, ~4 s an iteration, were still speeding up after three).
#: Longer warm-up would not fit the benchmark's time budget; the JVM's
#: lowered compile thresholds (``start_session``) shorten the slope.
WARMUP_ITERATIONS = 3
WARMUP_WARM_S = 12.0
#: Fewest timed iterations per run (plain, and traced with --trace 1),
#: whatever ``--seconds`` says.
MIN_ITERATIONS = 3

END_TO_END = {"setup_s": "s", "wall_s": "s", "input_mb_per_s": "MB/s"}
#: CPU steal share above which a run is flagged in its record and on
#: stderr: its times say more about the host than about the scanner.
HIGH_STEAL = 0.05

#: Per-layer metrics: metric -> (span, count key or None for busy time,
#: unit).
PER_LAYER = {
    "sources.melt.busy_s": ("sources.melt", None, "s"),
    "sources.melt.cells": ("sources.melt", "cells", "count"),
    "sources.melt.input_bytes": ("sources.melt", "input_bytes", "B"),
    "operators.findings.dedup.busy_s":
        ("operators.findings.dedup", None, "s"),
    "operators.findings.dedup.distinct_values":
        ("operators.findings.dedup", "distinct_values", "count"),
    "operators.findings.dedup.dedup_ratio":
        ("operators.findings.dedup", "dedup_ratio", "ratio"),
    "operators.rules.extract.busy_s": ("operators.rules.extract", None, "s"),
    "operators.rules.extract.candidates":
        ("operators.rules.extract", "candidates", "count"),
    "operators.rules.extract.validated_frac":
        ("operators.rules.extract", "validated_frac", "ratio"),
    "operators.findings.rollup.busy_s":
        ("operators.findings.rollup", None, "s"),
    "operators.findings.rollup.rows":
        ("operators.findings.rollup", "rows", "count"),
    "operators.incremental.fingerprint.busy_s":
        ("operators.incremental.fingerprint", None, "s"),
    "operators.incremental.fingerprint.columns_total":
        ("operators.incremental.fingerprint", "columns_total", "count"),
    "operators.redaction.contexts.busy_s":
        ("operators.redaction.contexts", None, "s"),
    "operators.redaction.contexts.distinct_contexts":
        ("operators.redaction.contexts", "distinct_contexts", "count"),
    "operators.ner.signals.busy_s": ("operators.ner.signals", None, "s"),
    "operators.embeddings.embed.busy_s":
        ("operators.embeddings.embed", None, "s"),
    "operators.embeddings.embed.rows":
        ("operators.embeddings.embed", "rows", "count"),
    "operators.ensemble.fuse.busy_s": ("operators.ensemble.fuse", None, "s"),
    "operators.ensemble.fuse.predictions":
        ("operators.ensemble.fuse", "predictions", "count"),
    "sinks.findings_store.merge.busy_s":
        ("sinks.findings_store.merge", None, "s"),
    "sinks.findings_store.merge.bytes_written":
        ("sinks.findings_store.merge", "bytes_written", "B"),
    "sinks.findings_store.merge.files_written":
        ("sinks.findings_store.merge", "files_written", "count"),
    "sinks.findings_store.fingerprints.busy_s":
        ("sinks.findings_store.fingerprints", None, "s"),
    "sinks.writeback.apply.busy_s": ("sinks.writeback.apply", None, "s"),
    "sinks.writeback.apply.api_calls":
        ("sinks.writeback.apply", "api_calls", "count"),
}
#: Every per-layer metric's unit, the whole-iteration ones included.
LAYER_UNITS = {m: unit for m, (_, _, unit) in PER_LAYER.items()}
LAYER_UNITS.update({"spark.tasks": "count", "spark.failed_tasks": "count",
                    "trace.overhead_s": "s"})


def pin_environment(work: str) -> dict:
    """Environment every run gets, set before pyspark or the scanner
    package is imported (the package reads SPARK_GRAFT_CPUS at import)."""
    nproc = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "warehouse", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    py_path = [ROOT, HERE] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Python workers import the package by name
        "PYTHONPATH": os.pathsep.join(py_path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.environ.pop("SPARK_MASTER", None)
    return {"nproc": nproc, "driver_memory": DRIVER_MEMORY}


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    to init, so ``stop_descendants`` can wait for every one of them:
    Spark's Python workers outlive the JVM that forked them."""
    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop the Spark JVM and every other process this run started, and
    wait until each has ended.

    The JVM exits on its own once its stdin pipe closes, which without
    this would happen only as the benchmark exits, leaving the JVM (and
    its Python workers) shutting down after the run has returned.
    """
    from tracing import descendants
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext
        gateway = SparkContext._gateway
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            try:
                proc.stdin.close()  # the JVM exits at EOF on its stdin
                proc.wait(timeout=grace_s)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        # reap whatever has ended; orphans were re-parented to us
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError as e:
                if e.errno != errno.ESRCH:
                    raise
        time.sleep(0.2)


def start_session(work: str):
    from catalog_pii_scanner_spark.session import get_spark
    # a fixed heap size, so collector resizing does not vary the timing;
    # JIT compilation at a quarter of the usual invocation counts, so the
    # warm-up reaches steady speed within the run's time budget; no
    # perf-data file in /tmp, so the run writes only under its root
    java_opts = (f"-Xms{DRIVER_MEMORY} -XX:CompileThresholdScaling=0.25 "
                 f"-XX:-UsePerfData "
                 f"-Dderby.system.home={os.path.join(work, 'derby')} "
                 f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": java_opts,
    })


# --- workloads: untimed preparation, the timed call, the check ---------------

class Workload:
    """One workload's inputs, iteration state and oracle check."""

    name = ""

    def __init__(self, spark, meta: dict, work: str):
        import oracle
        import workloads
        from catalog_pii_scanner_spark.config import load_config
        from catalog_pii_scanner_spark.operators.rules import rules_for_types
        self.spark, self.meta, self.work = spark, meta, work
        self.W, self.oracle = workloads, oracle
        # the CLI's rule set, without CPS_* environment overrides
        self.rules = rules_for_types(
            load_config(None, environ={}).rules.enabled_types)

    @staticmethod
    def generate(seed: int, out_dir: str) -> dict:
        """Write the inputs under ``out_dir``; returns the cached meta
        (oracle rows and anything else the check needs)."""
        raise NotImplementedError

    def prepare(self) -> dict:
        return {}

    def call(self, st: dict, tracer=None):
        raise NotImplementedError

    def check(self, st: dict, out) -> int:
        """Oracle mismatch rows of one iteration's output."""
        raise NotImplementedError


class CatalogFullScan(Workload):
    name = "catalog_full_scan"

    def __init__(self, spark, meta: dict, work: str):
        super().__init__(spark, meta, work)
        self.input_dir = os.path.join(meta["dir"], "catalog")
        self.schema = {t: [tuple(c) for c in cols]
                       for t, cols in meta["schema"].items()}
        self.input_bytes = self.W.parquet_bytes(self.input_dir, self.schema)
        self._n = 0

    @staticmethod
    def generate(seed: int, out_dir: str) -> dict:
        import gen
        import oracle
        cat = os.path.join(out_dir, "catalog")
        gen.write_catalog(seed, cat)
        schema = gen.catalog_schema()
        return {"schema": schema, **oracle.catalog_oracle(cat, schema)}

    def prepare(self) -> dict:
        from catalog_pii_scanner_spark.sinks.writeback import \
            FakeCatalogClient
        self._n += 1
        store = os.path.join(self.work, f"store-{self._n}")
        shutil.rmtree(store, ignore_errors=True)
        return {"store": store, "client": FakeCatalogClient()}

    def call(self, st: dict, tracer=None):
        args = (self.spark, self.rules, self.input_dir, self.schema,
                st["store"], st["client"])
        if tracer is None:
            return self.W.full_scan(*args)
        return self.W.traced_full_scan(tracer, *args)

    def check(self, st: dict, out) -> int:
        """The collected findings and the store read back must equal the
        oracle, exactly the stored columns must carry PII tags, and the
        sidecar must hold every column with its distinct-value count."""
        from catalog_pii_scanner_spark.sinks.findings_store import (
            read_column_fingerprints, read_merged_findings)
        from catalog_pii_scanner_spark.sinks.writeback import PII_FLAG_KEY
        o = self.oracle
        want = o.findings_rows(self.meta["findings"])
        got = o.findings_rows((r.column_ref, r.types, r.confidence,
                               r.hit_rate) for r in out)
        stored = read_merged_findings(self.spark, st["store"]).select(
            "column_ref", "types", "confidence", "hit_rate").collect()
        fps = read_column_fingerprints(self.spark, st["store"])
        fp_rows = [] if fps is None else [
            (r.column_ref, r.n_values)
            for r in fps.select("column_ref", "n_values").collect()]
        shutil.rmtree(st["store"], ignore_errors=True)
        tagged = {f"spark://{t}/{c}" for (_, t, c), props in
                  st["client"].properties.items()
                  if props.get(PII_FLAG_KEY) == "true"}
        return (o.mismatch(got, want)
                + o.mismatch(o.findings_rows(stored), want)
                + len(tagged ^ {r.column_ref for r in stored})
                + o.mismatch(fp_rows, [tuple(r) for r in
                                       self.meta["distinct_values"]]))


class DocumentEnsemble(Workload):
    name = "document_ensemble"

    def __init__(self, spark, meta: dict, work: str):
        super().__init__(spark, meta, work)
        self.input_dir = os.path.join(meta["dir"], "docs")
        self.input_bytes = self.W.parquet_bytes(self.input_dir,
                                                ["documents"])

    @staticmethod
    def generate(seed: int, out_dir: str) -> dict:
        import gen
        import oracle
        docs = os.path.join(out_dir, "docs")
        gen.write_documents(seed, docs)
        return {"oracle": oracle.document_predictions(docs)}

    def call(self, st: dict, tracer=None):
        if tracer is None:
            return self.W.document_ensemble(self.spark, self.rules,
                                            self.input_dir)
        return self.W.traced_document_ensemble(tracer, self.spark,
                                               self.rules, self.input_dir)

    def check(self, st: dict, out) -> int:
        o = self.oracle
        got = o.prediction_rows((r.column_ref, r.value, r.pii_type,
                                 r.match_text, r.label, r.score)
                                for r in out)
        return o.mismatch(got, o.prediction_rows(self.meta["oracle"]))


WORKLOADS = {w.name: w for w in (CatalogFullScan, DocumentEnsemble)}


# --- inputs and oracles ------------------------------------------------------

def _source_digest() -> str:
    """Digest of everything an input or oracle depends on: the
    benchmark's files and the scanner package's sources."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, n) for n in sorted(os.listdir(HERE))
             if n.endswith(".py")]
    pkg = os.path.join(ROOT, "catalog_pii_scanner_spark")
    for dirpath, _, names in sorted(os.walk(pkg)):
        files += [os.path.join(dirpath, n) for n in sorted(names)
                  if n.endswith(".py")]
    for f in files:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def prepare_inputs(workload: type[Workload], seed: int) -> dict:
    """The workload's inputs and oracle, generated once per (sources,
    workload, seed) and read from the cache afterwards."""
    d = os.path.join(CACHE_DIR,
                     f"{workload.name}-{seed}-{_source_digest()}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        tmp = f"{d}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = workload.generate(seed, tmp)
        meta["dir"] = d
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    with open(meta_path) as f:
        return json.load(f)


# --- measurement -------------------------------------------------------------

def measure(args, record: dict, work: str) -> dict:
    from tracing import RssSampler, Tracer, cpu_times, steal_share
    t0 = time.perf_counter()
    kind = WORKLOADS[args.workload]
    meta = prepare_inputs(kind, args.seed)
    record["prepare_s"] = time.perf_counter() - t0
    attempted = failed = mismatched = 0
    walls, traced_walls, peaks, spans = [], [], [], []
    layers: dict[str, list[float]] = {k: [] for k in LAYER_UNITS}

    def attempt(wl, rss, tracer=None):
        """One checked iteration; its timed seconds, or None if failed."""
        nonlocal attempted, failed, mismatched
        attempted += 1
        try:
            st = wl.prepare()
            with rss.sampling() if tracer is None else nullcontext():
                t0 = time.perf_counter()
                if tracer is None:
                    out = wl.call(st)
                else:
                    # one root span per traced iteration
                    with tracer.span(wl.name):
                        out = wl.call(st, tracer)
                dt = time.perf_counter() - t0
            bad = wl.check(st, out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
            return None
        if bad:
            print(f"oracle mismatch: {bad} rows", file=sys.stderr)
            mismatched += bad
            failed += 1
            return None
        return dt

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(work)
        try:
            record["session_s"] = time.perf_counter() - t0
            wl = kind(spark, meta, work)
            attempt(wl, rss)  # cold: the first run of every plan
            warm0, n = time.perf_counter(), 1
            while (n < WARMUP_ITERATIONS
                   or time.perf_counter() - warm0 < WARMUP_WARM_S):
                attempt(wl, rss)
                n += 1
            setup_s = time.perf_counter() - t0
            record["warmup_s"] = setup_s - record["session_s"]
            record["spark_version"] = spark.version
            rss.take_peak()
            ticks = cpu_times()
            start, i = time.perf_counter(), 0
            while (time.perf_counter() - start < args.seconds
                   or len(walls) < MIN_ITERATIONS
                   or (args.trace and len(traced_walls) < MIN_ITERATIONS)):
                if attempted > 4 * MIN_ITERATIONS and failed * 2 > attempted:
                    break
                i += 1
                if args.trace and i % 2 == 0:
                    tr = Tracer(spark, f"{args.workload}-{args.seed}-{i}")
                    dt = attempt(wl, rss, tr)
                    if dt is not None:
                        traced_walls.append(dt)
                        spans.append(tr.to_json())
                        _collect_layers(tr, layers)
                else:
                    dt = attempt(wl, rss)
                    if dt is not None:
                        walls.append(dt)
                        peaks.append(rss.take_peak())
            steal = steal_share(ticks, cpu_times())
            record["cpu_steal_share"] = steal
            record["high_steal"] = steal > HIGH_STEAL
            if steal > HIGH_STEAL:
                print(f"warning: CPU steal {steal:.1%} during timing",
                      file=sys.stderr)
        finally:
            spark.stop()

    if not walls or (args.trace and not traced_walls):
        raise RuntimeError(f"no iteration succeeded ({failed} failed)")
    wall = statistics.median(walls)
    if args.trace:
        layers["trace.overhead_s"] = [statistics.median(traced_walls) - wall]
        os.makedirs(OUT_DIR, exist_ok=True)
        with open(os.path.join(OUT_DIR, f"trace-{args.workload}-"
                               f"{args.seed}.json"), "w") as f:
            json.dump(spans, f)
        metrics = {k: {"value": statistics.median(v), "unit": LAYER_UNITS[k]}
                   for k, v in layers.items()}
    else:
        values = {"setup_s": setup_s, "wall_s": wall,
                  "input_mb_per_s": wl.input_bytes / 1e6 / wall}
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in values.items()}
    record.update({"workload": args.workload, "seed": args.seed,
                   "iterations": len(walls),
                   "traced_iterations": len(traced_walls),
                   "wall_s_samples": walls,
                   "input_mb": wl.input_bytes / 1e6,
                   "peak_rss_mb": statistics.median(peaks),
                   "error_rate": failed / attempted,
                   "oracle_mismatch_rows": mismatched})
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def _collect_layers(tr, layers: dict) -> None:
    """One traced iteration's per-layer numbers. A layer with no span in
    this workload reports 0 (it did no work)."""
    busy = tr.self_times()
    counts: dict[str, dict[str, float]] = {}
    for s in tr.spans:
        c = counts.setdefault(s.name, {})
        for k, v in s.counts.items():
            c[k] = c.get(k, 0) + v
    for metric, (span, key, _) in PER_LAYER.items():
        layers[metric].append(busy.get(span, 0.0) if key is None
                              else counts.get(span, {}).get(key, 0))
    layers["spark.tasks"].append(sum(s.tasks for s in tr.spans))
    layers["spark.failed_tasks"].append(
        sum(s.failed_tasks for s in tr.spans))


def main(argv=None) -> int:
    # a terminated run still stops Spark and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    if importlib.util.find_spec("catalog_pii_scanner_spark") is None:
        print(f"no scanner package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    become_subreaper()
    record = pin_environment(work)
    try:
        result = measure(args, record, work)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
