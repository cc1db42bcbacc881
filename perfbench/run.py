#!/usr/bin/env python3
"""The repository benchmark: one KG workload per invocation, on local[<cores>].

    python3 perfbench/run.py --workload html_fused --seed 1 --seconds 6 --trace 0

Run from the repository root. One invocation prepares the seed's input
table (generated once, then reused from ``.perfbench/inputs``), starts the
session, makes ``WARMUPS`` untimed warm-up runs and then timed runs back to back
until ``--seconds`` have passed, checking every run's output, and ends with
``SETUPS`` session restarts whose median is ``setup_s``. It prints a
readable report and, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` does the same
runs, then one traced run with spans around each call into the package and
layer probes; it reports the per-layer metrics and writes the spans to
``.perfbench/traces``. Metric names and units are in ``metrics.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
SETUPS = 5
# Untimed runs before the timed ones: the first pays Python worker start
# and codegen, and on cli_resumable the second still runs about 10% slower
# than later ones while the JIT catches up.
WARMUPS = 2


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and Python write inside ``WORK``;
    let Python workers import the package and the benchmark."""
    for d in ("spark-local", "tmp", "inputs", "traces", "cli"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE"):
        os.environ.pop(var, None)


sys.path.insert(0, str(ROOT))

from perfbench import check  # noqa: E402
from perfbench.metrics import END_TO_END, LAYERS, PER_LAYER  # noqa: E402
from perfbench.trace import NullTracer, Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS, timed  # noqa: E402


# -- processes -----------------------------------------------------------------


def _descendants(pid: int) -> list:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                stat = Path(f"/proc/{d}/stat").read_text()
            except OSError:
                continue
            kids[int(stat.rsplit(")", 1)[1].split()[1])].append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        return Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class PeakRss:
    """Peak summed memory of this process's descendants (the driver JVM and
    the Python workers it forks), sampled every ``interval`` seconds.

    Each process counts its proportional set size: the workers are forked
    from one daemon and share most of their pages, which a plain RSS sum
    would count once per worker alive.
    """

    # Reading the JVM's smaps_rollup takes about 10 ms of kernel time and
    # holds its memory map; sampling more often slows the runs measured.
    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        total = 0
        for pid in _descendants(os.getpid()):
            try:
                rollup = Path(f"/proc/{pid}/smaps_rollup").read_text()
            except OSError:  # the process has just ended
                continue
            pss = next((ln for ln in rollup.splitlines() if ln.startswith("Pss:")), None)
            total += int(pss.split()[1]) * 1024 if pss else 0
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _start_session(wl, cores: int):
    from cmc_knowledge_graph_text2ttl_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
    }
    spark = get_spark(app_name=f"perfbench-{wl.name}", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop Spark, end the JVM gateway and wait until every process it
    started (the JVM, the Python worker daemon and workers) has ended."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- measurement ---------------------------------------------------------------


def _quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


class Runner:
    def __init__(self, wl, cores: int, tracer) -> None:
        self.wl = wl
        self.cores = cores
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self._reference = None

    def setup(self) -> None:
        """Launch the JVM, start the session and compile the workflows."""
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            self.spark = _start_session(self.wl, self.cores)
            with self.tracer.span("workflow.compile"):
                self.programs = self.wl.compile()
            self.first_setup_s = time.perf_counter() - t0
        self.expected = self.wl.expected_keys(self.programs)

    def restart_setups(self) -> list:
        """``SETUPS`` set-ups in the warm JVM: stop the session, start a new
        one and compile the workflows again. Returns their seconds."""
        times = []
        for _ in range(SETUPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = _start_session(self.wl, self.cores)
            self.programs = self.wl.compile()
            times.append(time.perf_counter() - t0)
        return times

    def attempt(self, tracer):
        """One checked run; returns its Outcome, or None if it raised or
        its output check failed."""
        self.attempted += 1
        try:
            out = self.wl.run_once(self.spark, self.programs, tracer)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return None
        problems = list(out.problems)
        bad = check.mismatch(self.expected, out.sample_keys)
        if bad:
            problems.append(bad)
        if self._reference is None:
            self._reference = out.fingerprint
        elif out.fingerprint != self._reference:
            problems.append(f"result {out.fingerprint} != first result {self._reference}")
        if problems:
            print("check failed: " + "; ".join(problems), file=sys.stderr)
            self.failed += 1
            return None
        return out

    def timed_runs(self, seconds: float) -> list:
        for _ in range(WARMUPS):
            self.attempt(NullTracer())
        outs = []
        with PeakRss() as rss:
            t0 = time.perf_counter()
            while True:
                outs.append(self.attempt(NullTracer()))
                if time.perf_counter() - t0 >= seconds:
                    break
        self.peak_rss = rss.peak
        good = [o for o in outs if o is not None]
        if not good:
            raise RuntimeError(f"no timed run of {self.wl.name} succeeded")
        return good


def end_to_end(r: Runner, outs: list, setups: list) -> tuple:
    walls = [o.wall_s for o in outs]
    wall = statistics.median(walls)
    p25, p75 = _quartiles(walls)
    triples = statistics.median(o.triples for o in outs)
    m = {
        "wall_s": wall,
        "docs_per_s": r.wl.docs / wall,
        "triples_per_s": triples / wall,
        "peak_rss_mb": r.peak_rss / 2**20,
        "setup_s": statistics.median(setups),
    }
    lines = [
        f"wall_s         {wall:.4f} s  (p25 {p25:.4f}, p75 {p75:.4f}, n={len(walls)} timed runs after {WARMUPS} warm-ups)",
        f"docs_per_s     {m['docs_per_s']:.1f} 1/s  ({r.wl.docs} docs / median wall)",
        f"triples_per_s  {m['triples_per_s']:.1f} 1/s  ({triples} final triples / median wall)",
        f"peak_rss_mb    {m['peak_rss_mb']:.1f} MB  (PSS of the driver JVM + Python workers, timed runs)",
        f"setup_s        {m['setup_s']:.4f} s  (median of {SETUPS} session restarts + compiles after the "
        f"runs; the first set-up, with JVM launch: {r.first_setup_s:.3f} s)",
        f"failed_run_ratio {r.failed / r.attempted:.4f}  ({r.failed} failed / {r.attempted} attempted)",
    ]
    if "resume_s" in outs[0].extra:
        resumes = [o.extra["resume_s"] for o in outs]
        q = _quartiles(resumes)
        lines += [
            f"resume_s       {statistics.median(resumes):.4f} s  (p25 {q[0]:.4f}, p75 {q[1]:.4f}, n={len(resumes)})",
            f"write_amplification {outs[0].extra['write_amplification']:.4f}  "
            f"(bytes under the workdir / {r.wl.input_bytes} input parquet bytes)",
        ]
    return m, lines


def per_layer(r: Runner, untraced: list, traced, tracer: Tracer) -> tuple:
    compiles = []
    for _ in range(SETUPS):
        t, _ = timed(tracer, "workflow.compile", r.wl.compile)
        compiles.append(t)
    m = {"workflow.compile_s": statistics.median(compiles)}
    with tracer.span("probes"):
        r.wl.probe(r.spark, r.programs, tracer, m, traced)
    m = dict.fromkeys(PER_LAYER, 0.0) | m  # counters a workload never bumps read 0
    m.update({f"{layer}.self_s": s for layer, s in tracer.self_times().items()})
    root = tracer.find(f"workload.{r.wl.name}")
    m["trace.wall_s"] = root["end"] - root["start"]
    m["trace.untraced_s"] = statistics.median(o.wall_s for o in untraced)
    m["trace.overhead_s"] = m["trace.wall_s"] - m["trace.untraced_s"]
    m["trace.coverage"] = tracer.coverage(root)
    unknown = set(m) - set(PER_LAYER)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")

    lines = []
    for layer, module in LAYERS.items():
        lines.append(f"[{layer}]  {module}")
        lines += [
            f"  {name:40s} {m[name]:.6g} {PER_LAYER[name]}"
            for name in PER_LAYER
            if name.startswith(layer + ".")
        ]
    cands, wins = m["run.candidate_triples"], m["run.winner_triples"]
    lines += [
        "[trace]",
        *(f"  {n:40s} {m[n]:.6g} {PER_LAYER[n]}" for n in PER_LAYER if n.startswith("trace.")),
        "ratios and their bases:",
        f"  run.useful_triple_ratio = {wins:.0f} winner / {cands:.0f} candidate triples",
        f"  trace.coverage = top-level spans / {m['trace.wall_s']:.4f} s traced wall",
        f"  tracing overhead = {m['trace.overhead_s']:+.4f} s against the untraced median "
        f"{m['trace.untraced_s']:.4f} s ({m['trace.overhead_s'] / m['trace.untraced_s']:+.1%})",
        f"  sources share = sources.scan_s / run.kernel_s = "
        f"{m['sources.scan_s']:.4f} / {m['run.kernel_s']:.4f} s ({m['sources.scan_s'] / m['run.kernel_s']:.1%})",
        f"  pipeline.write_amplification = workdir bytes / {r.wl.input_bytes} input bytes",
    ]
    return m, lines


def _value(v):
    return int(v) if float(v).is_integer() and abs(v) < 2**53 else float(v)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _prepare_env()
    cores = len(os.sched_getaffinity(0))
    run_id = f"{int(time.time())}-{os.getpid()}"
    tracer = Tracer(args.workload, run_id) if args.trace else NullTracer()
    wl = WORKLOADS[args.workload](WORK, args.seed, cores)
    meta = wl.prepare()
    r = Runner(wl, cores, tracer)
    report = [
        f"perfbench {wl.name} seed={args.seed} cores={cores} docs={wl.docs} trace={args.trace}",
        f"input {wl.table.name}: {meta['rows']} rows, {meta['bytes']} B, sha256 {meta['input_hash'][:16]}, "
        f"gen_s {meta['gen_s']:.3f} ({'cached' if meta['cached'] else 'generated'})",
    ]
    r.setup()
    try:
        outs = r.timed_runs(args.seconds)
        if args.trace:
            traced = r.attempt(tracer)
            if traced is None:
                raise RuntimeError("the traced run failed")
            metrics, lines = per_layer(r, outs, traced, tracer)
            units = PER_LAYER
            tracer.dump(WORK / "traces" / f"{wl.name}-s{args.seed}-{run_id}.json")
        else:
            metrics, lines = end_to_end(r, outs, r.restart_setups())
            units = END_TO_END
    finally:
        _shutdown(r.spark)
    print("\n".join(report + lines))
    print(
        json.dumps(
            {
                "correct": r.failed == 0,
                "attempted": r.attempted,
                "failed": r.failed,
                "metrics": {k: {"value": _value(metrics[k]), "unit": u} for k, u in units.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
