"""KG-construction benchmark: runs one workload and prints its metrics.

    python3 perfbench/run.py --workload build_fixed_vocab --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. Load is a closed loop with one client: one
driver process on ``local[<cores>]`` runs one job at a time, and each
operation (a full build, or one incremental-update batch) starts only
after the previous one committed. Every operation's output is checked
against the corpus ground truth; a failed check is a failed operation.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json. ``--trace 1``
prints its per-layer metrics: operations alternate untraced and traced
(spans around each layer call, Spark event log on for the whole run), and
the difference of their median walls is reported as the trace overhead.
The last stdout line is the result object; the line before it is a
human-readable summary. Scratch data lives in ``.bench_work/`` at the
repository root.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import uuid
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
SETUPS = 3  # session builds per run; setup_s is their median
# untimed, checked warm-up operations at the start of every run. The
# updates also follow an init_state; the first update after it is still
# cold, and its wall spreads run to run several times as much as the
# second's.
WARMUPS = {"build_fixed_vocab": 1, "update_zipf_state": 1}
# timed operations per untraced run, at least (an update costs ~4 builds)
MIN_OPS = {"build_fixed_vocab": 3, "update_zipf_state": 1}
# untraced/traced operation pairs per traced run
TRACED_PAIRS = {"build_fixed_vocab": 2, "update_zipf_state": 1}
WARMUP_THREADS = ("hades-worker-warmup", "hades-jvm-warmup")
DIAG_OP = 1000  # span op id of the traced diagnostic passes
HEAP = "1g"  # driver JVM heap, fully committed at launch


def load_spec(path: Path = ROOT / "BENCHMARK.json") -> dict:
    return json.loads(path.read_text())


def validate_metrics(metrics: dict, spec: dict, trace: bool) -> None:
    """Raise ValueError unless ``metrics`` ({name: {"value", "unit"}}) holds
    exactly the metrics BENCHMARK.json declares for this mode, with their
    declared units and finite numeric values."""
    declared = {m["name"]: m["unit"]
                for m in spec["per_layer" if trace else "end_to_end"]}
    missing = sorted(set(declared) - set(metrics))
    extra = sorted(set(metrics) - set(declared))
    if missing or extra:
        raise ValueError(f"metric names differ from BENCHMARK.json: "
                         f"missing {missing}, undeclared {extra}")
    for name, m in metrics.items():
        if m["unit"] != declared[name]:
            raise ValueError(f"{name}: unit {m['unit']!r} != declared "
                             f"{declared[name]!r}")
        v = m["value"]
        if isinstance(v, bool) or not isinstance(v, (int, float)) \
                or not math.isfinite(v):
            raise ValueError(f"{name}: value {v!r} is not a finite number")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set size (VmHWM) of a process, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu counters (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return 100.0 * d[7] / sum(d) if sum(d) else 0.0


@dataclass
class Op:
    kind: str  # "warmup", "op" or a diagnostic pass name
    wall: float
    triples: int
    ok: bool
    traced: bool = False
    precision: float = 1.0
    recall: float = 1.0
    problems: list = field(default_factory=list)


class Run:
    """One benchmark invocation: its session, scratch dirs and results."""

    def __init__(self, args, spec: dict) -> None:
        self.args = args
        self.spec = spec
        self.run_id = (f"{args.workload}-s{args.seed}-t{args.trace}-"
                       f"{uuid.uuid4().hex[:8]}")
        self.work = ROOT / ".bench_work"
        self.dir = self.work / "runs" / self.run_id
        self.log = self.work / "logs" / f"{self.run_id}.log"
        self.cores = len(os.sched_getaffinity(0))
        self.ops: list[Op] = []
        self.layer: dict[str, float] = {}
        self.setups: list[tuple[float, float]] = []
        self.corpus_s = 0.0  # corpus generation, outside any timing
        self.t0 = time.perf_counter()
        self.spark = None
        self.tracer = None

    # ---------------------------------------------------------- session
    def prepare_env(self) -> None:
        for sub in ("tmp", "local", "eventlog"):
            (self.dir / sub).mkdir(parents=True, exist_ok=True)
        self.log.parent.mkdir(parents=True, exist_ok=True)
        # python workers import the engine from this checkout and every
        # temp file stays inside it
        sys.path.insert(1, str(ROOT))
        path = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path
                                                if path else "")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "local")
        os.environ["TMPDIR"] = str(self.dir / "tmp")
        # the JVM spark-submit starts first to build the driver command
        os.environ["SPARK_LAUNCHER_OPTS"] = (
            f"-XX:-UsePerfData -Djava.io.tmpdir={self.dir / 'tmp'}")
        tempfile.tempdir = None

    def conf(self) -> dict:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": HEAP,
            "spark.local.dir": str(self.dir / "local"),
            "spark.driver.extraJavaOptions": " ".join([
                f"-Dlog4j.configurationFile=file:{BENCH / 'log4j2.properties'}",
                f"-Dperfbench.log={self.log}",
                f"-Djava.io.tmpdir={self.dir / 'tmp'}",
                "-XX:-UsePerfData",
                # the whole heap resident from the start: peak RSS then
                # moves with off-heap and driver memory, not with where
                # GC happened to leave the heap high-water mark
                f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            ]),
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (self.dir / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
            })
        return conf

    def setup(self) -> None:
        """Build the session SETUPS times (the first launches the JVM),
        each time waiting out get_spark's warm-up threads."""
        from hades_spark.session import get_spark

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                                   extra_conf=self.conf())
            t1 = time.perf_counter()
            for t in threading.enumerate():
                if t.name in WARMUP_THREADS:
                    t.join()
            self.setups.append((t1 - t0, time.perf_counter() - t1))

    def shutdown(self) -> float:
        """Stop Spark and the JVM, wait for it to exit; returns the peak
        RSS of this process plus the JVM, in MB."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        rss = vm_hwm_mb() + (vm_hwm_mb(proc.pid) if proc else 0.0)
        self.spark.stop()
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        return rss

    # ------------------------------------------------------- operations
    def tracers(self):
        from tracing import Tracer

        sc = self.spark.sparkContext
        self.tracer = Tracer(self.run_id, sc, enabled=bool(self.args.trace))
        return Tracer(self.run_id, sc, enabled=False), self.tracer

    def corpus(self, c) -> Path:
        import workloads as wl

        t0 = time.perf_counter()
        d = wl.corpus_dir(self.spark, self.work / "corpus",
                          wl.generator_hash(ROOT), self.args.seed, c)
        self.corpus_s += time.perf_counter() - t0
        return d

    def timed(self, kind: str, tr, fn, check) -> Op:
        """Run one operation, time it, then check its output (untimed)."""
        t0 = time.perf_counter()
        triples = fn()
        wall = time.perf_counter() - t0
        chk, extra = check(triples)
        op = Op(kind, wall, triples, chk.ok, tr.enabled, chk.precision,
                chk.recall, chk.problems + extra)
        self.ops.append(op)
        return op

    def loop(self, run_op, tr_untraced, tr_traced,
             limit: int = 10_000) -> None:
        """Repeated operations after WARMUPS warm-ups. Untraced runs loop
        until --seconds have passed and at least MIN_OPS ran, at most
        ``limit`` timed operations. Traced runs make TRACED_PAIRS pairs of
        one untraced and one traced operation in ABBA order, so a warm-up
        trend over the run cancels out of the overhead."""
        for _ in range(WARMUPS[self.args.workload]):
            run_op(tr_untraced, "warmup")
        if self.args.trace:
            for i in range(TRACED_PAIRS[self.args.workload]):
                tr_traced.op = i
                order = (tr_untraced, tr_traced)
                for tr in order if i % 2 == 0 else order[::-1]:
                    run_op(tr)
            return
        t0 = time.perf_counter()
        n = 0
        while n < limit and (n < MIN_OPS[self.args.workload] or
                             time.perf_counter() - t0 < self.args.seconds):
            run_op(tr_untraced)
            n += 1

    # -------------------------------------------------------- workloads
    def build_fixed_vocab(self) -> None:
        import workloads as wl

        spark = self.spark
        c = wl.FIXED
        pages = spark.read.parquet(str(self.corpus(c)))
        exp = wl.expected_kg(c.pages, self.args.seed, c.vocab)
        plain, traced = self.tracers()
        io_files, io_mb = [], []

        def run_op(tr, kind="op"):
            out = self.dir / f"edges{len(self.ops)}"

            def check(n_raw):
                extra = [] if n_raw == exp.raw_triples else [
                    f"raw triples {n_raw} != expected {exp.raw_triples}"]
                if tr.enabled:
                    files = list(out.rglob("*.parquet"))
                    io_files.append(len(files))
                    io_mb.append(sum(f.stat().st_size for f in files) / 1e6)
                return wl.check_edges(spark.read.parquet(str(out)), exp), extra

            self.timed(kind, tr, lambda: wl.build_kg(pages, str(out), tr),
                       check)
            shutil.rmtree(out)

        self.loop(run_op, plain, traced)
        if not self.args.trace:
            return

        traced.op = DIAG_OP
        self.layer.update(wl.lsh_components_pass(pages, traced))
        mat_dir = self.dir / "materialized"
        t0 = time.perf_counter()
        persist, mat_edges = wl.materialize_pass(spark, pages, mat_dir,
                                                 traced)
        wall = time.perf_counter() - t0
        chk = wl.check_edges(mat_edges, exp)
        self.ops.append(Op("materialize", wall, 0, chk.ok, True,
                           chk.precision, chk.recall, chk.problems))
        self.layer.update(persist)
        self.layer.update(self.kg_counts(c.pages, exp, io_files, io_mb,
                                         wl.LOCAL_THRESHOLD))

    def kg_counts(self, n_pages, exp, io_files, io_mb,
                  local_threshold) -> dict:
        tr = self.tracer
        extract_s = tr.median_self("triples.extract")
        raw = exp.raw_triples
        edges = len(exp.edges)
        return {
            "triples.extract_s": extract_s,
            "triples.rows": raw,
            "triples.pages_per_s": n_pages / extract_s if extract_s else 0.0,
            "canonicalize.map_s": tr.median_self("canonicalize.map"),
            "canonicalize.distributed":
                float(exp.distinct_norms > local_threshold),
            "canonicalize.distinct_norms": exp.distinct_norms,
            "kg.edges_s": tr.median_self("kg.edges"),
            "kg.edges": edges,
            "kg.dedup_ratio": raw / edges,
            "io.write_s": tr.median_self("io.write"),
            "io.files": statistics.median(io_files),
            "io.mb_written": statistics.median(io_mb),
        }

    def update_zipf_state(self) -> None:
        import workloads as wl

        spark = self.spark
        seed = self.args.seed
        base = self.corpus(wl.ZIPF_BASE)
        batches = self.corpus(wl.ZIPF_BATCHES)
        state = str(self.dir / "state")
        plain, traced = self.tracers()
        stats: list[dict] = []

        def state_check(n_pages):
            exp = wl.expected_kg(n_pages, seed, wl.ZIPF_BASE.vocab)
            return wl.check_edges(spark.read.parquet(f"{state}/edges"), exp)

        init = self.timed("warmup", plain,
                          lambda: wl.init_kg_state(spark, base, state),
                          lambda _: (state_check(wl.ZIPF_BASE.pages), []))
        applied = 0  # batches folded into the state so far

        def run_op(tr, kind="op"):
            nonlocal applied
            k = applied

            def fn():
                st = wl.update_kg_state(spark, batches / f"batch={k}", state,
                                        f"b{k}", tr)
                if tr.enabled:
                    stats.append(st)
                return st["stages"]["extract"]["rows"]

            self.timed(kind, tr, fn, lambda _: (state_check(
                wl.ZIPF_BASE.pages + (k + 1) * wl.BATCH_PAGES), []))
            applied += 1

        self.loop(run_op, plain, traced, limit=wl.MAX_BATCHES
                  - WARMUPS["update_zipf_state"])
        if not self.args.trace:
            return

        all_pages = spark.read.parquet(
            str(base), *[str(batches / f"batch={k}")
                         for k in range(applied)])
        t0 = time.perf_counter()
        same = wl.rebuild_matches_state(spark, all_pages, state)
        self.ops.append(Op("rebuild", time.perf_counter() - t0, 0, same,
                           problems=[] if same else
                           ["state edges differ from a full rebuild"]))
        traced.op = DIAG_OP
        base_pages = spark.read.parquet(str(base))
        self.layer.update(wl.lsh_components_pass(base_pages, traced))
        self.zipf_build_pass(base_pages)
        self.layer["incremental_kg.init_s"] = init.wall
        for stage in ("extract", "norms", "hash", "verify", "scope",
                      "components", "edges", "commit"):
            self.layer[f"incremental_kg.{stage}_s"] = statistics.median(
                st["stages"][stage]["sec"] for st in stats)
        for key in ("edges_rewritten", "changed_norms"):
            self.layer[f"incremental_kg.{key}"] = statistics.median(
                st[key] for st in stats)

    def zipf_build_pass(self, pages) -> None:
        """One traced build of the Zipf base with canonical_norm_map's
        distributed path forced (local_threshold=0): the path a
        vocabulary above LOCAL_THRESHOLD norms takes, at a size the run
        affords. Gives the build-layer numbers of this workload."""
        import workloads as wl

        exp = wl.expected_kg(wl.ZIPF_BASE.pages, self.args.seed,
                             wl.ZIPF_BASE.vocab)
        out = self.dir / "zipf_edges"
        t0 = time.perf_counter()
        n_raw = wl.build_kg(pages, str(out), self.tracer, local_threshold=0)
        wall = time.perf_counter() - t0
        files = list(out.rglob("*.parquet"))
        chk = wl.check_edges(self.spark.read.parquet(str(out)), exp)
        problems = chk.problems + ([] if n_raw == exp.raw_triples else [
            f"zipf build: raw triples {n_raw} != {exp.raw_triples}"])
        self.ops.append(Op("zipf_build", wall, n_raw, not problems, True,
                           chk.precision, chk.recall, problems))
        self.layer.update(self.kg_counts(
            wl.ZIPF_BASE.pages, exp, [len(files)],
            [sum(f.stat().st_size for f in files) / 1e6], 0))

    # ----------------------------------------------------------- report
    def end_to_end(self, rss_mb: float) -> dict:
        reps = [op for op in self.ops if op.kind == "op"]
        checked = [op for op in self.ops if op.kind in ("warmup", "op")]
        return {
            "setup_s": statistics.median(b + w for b, w in self.setups),
            "op_s": statistics.median(op.wall for op in reps),
            "triples_per_s": statistics.median(op.triples / op.wall
                                               for op in reps),
            "precision": min(op.precision for op in checked),
            "recall": min(op.recall for op in checked),
            "peak_rss_mb": rss_mb,
        }

    def per_layer(self, events: dict, steal: float) -> dict:
        tr = self.tracer
        reps = [op for op in self.ops if op.kind == "op"]
        plain = statistics.median(op.wall for op in reps if not op.traced)
        traced = statistics.median(op.wall for op in reps if op.traced)
        out = {name: 0.0 for name in
               (m["name"] for m in self.spec["per_layer"])}
        out.update(self.layer)
        out.update({
            "session.build_s": statistics.median(b for b, _ in self.setups),
            "session.warm_s": statistics.median(w for _, w in self.setups),
            "lsh.pairs_s": tr.median_self("lsh.pairs"),
            "components.cc_s": tr.median_self("components.cc"),
            "trace.overhead_frac": (traced - plain) / plain,
            "trace.spans": len(tr.spans),
            "host.steal_pct": steal,
        })
        for layer, m in events.items():
            n_ops = max(1, tr.ops_of(layer))
            for key, v in m.items():
                # shuffle/spill/gc per traced operation; skew as is
                out[f"{layer}.{key}"] = v if key == "task_skew" else v / n_ops
        return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    spec = load_spec()
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        p.error(f"unknown workload {args.workload!r}")
    if args.seconds < 1:
        p.error("--seconds must be >= 1")

    run = Run(args, spec)
    try:
        run.prepare_env()
        import workloads  # noqa: F401  (fails fast without the engine)
        from tracing import read_event_logs

        ticks0 = cpu_ticks()
        try:
            run.setup()
            getattr(run, args.workload)()
        finally:
            rss = run.shutdown() if run.spark is not None else 0.0
        steal = steal_pct(ticks0, cpu_ticks())
        if args.trace:
            events = read_event_logs(run.dir / "eventlog", run.run_id)
            run.tracer.dump(run.work / "traces" / f"{run.run_id}.json")
            values = run.per_layer(events, steal)
            section = "per_layer"
        else:
            values = run.end_to_end(rss)
            section = "end_to_end"
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    units = {m["name"]: m["unit"] for m in spec[section]}
    metrics = {k: {"value": float(v), "unit": units.get(k, "?")}
               for k, v in values.items()}
    validate_metrics(metrics, spec, bool(args.trace))

    failed = sum(not op.ok for op in run.ops)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "fail_frac": failed / len(run.ops), "steal_pct": round(steal, 3),
        "setups_s": [round(b + w, 3) for b, w in run.setups],
        "corpus_s": round(run.corpus_s, 3),
        "total_s": round(time.perf_counter() - run.t0, 3),
        "ops": [(op.kind, round(op.wall, 3), op.traced) for op in run.ops],
        "problems": [p for op in run.ops for p in op.problems],
    }))
    print(json.dumps({"correct": failed == 0, "attempted": len(run.ops),
                      "failed": failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
