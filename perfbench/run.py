"""kgforge benchmark: one seeded workload, measured as a closed loop.

    python3 perfbench/run.py --workload batch_build --seed 1 --seconds 5 --trace 0

Builds its inputs from ``--seed`` (cached under ``perfbench/.cache``),
starts Spark on ``local[4]`` inside this process, sets up (``get_spark`` +
the workload's operation on unit fixtures: ``setup_s``), then runs
operations back to back until ``--seconds`` have passed (and at least
MIN_OPS of them; TRACE_MIN_OPS when traced), checking each output. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Everything it writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
MASTER = "local[4]"
MIN_OPS = 1
#: a traced run alternates traced and untraced operations; its overhead
#: metric needs one of each
TRACE_MIN_OPS = 2
HEAP = "2g"
#: what the metrics need from an operation's facts (outputs are dropped after the check)
KEEP = ("op_span", "wall_s", "work_items", "eval_s", "train_s", "extras", "traced")
PAGE_MB = os.sysconf("SC_PAGE_SIZE") / 1e6


def _isolate(work: str) -> dict[str, str]:
    """Point every scratch location of Python, Spark and the JVM into ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM (launcher and driver): no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return {
        # a fixed, pre-touched heap: the JVM's RSS no longer depends on when
        # the collector chose to grow the heap, so peak_rss_mb moves with
        # the program's own memory (driver, Python workers), not GC timing
        "spark.driver.memory": HEAP,
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.hadoop.hadoop.tmp.dir": tmp,
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


# -- process tree ------------------------------------------------------------


def _procs() -> dict[int, tuple[int, int, int]]:
    """pid -> (parent pid, virtual size, resident pages) of every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            out[int(name)] = (int(fields[1]), int(fields[20]), int(fields[21]))
        except (OSError, IndexError, ValueError):
            continue
    return out


def _descendants(root: int, procs=None) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in (procs or _procs()).items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], list(kids.get(root, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _tree_rss_mb(root: int) -> float:
    """Summed RSS of ``root`` and its descendants. A child with its parent's
    virtual size shares the parent's pages and is not counted again: the
    JVM starts every shell command (Hadoop's chmod) through a child that
    holds the JVM's whole address space until it execs."""
    procs = _procs()
    pages = procs.get(root, (0, 0, 0))[2]
    for p in _descendants(root, procs):
        ppid, vsize, rss = procs[p]
        if procs.get(ppid, (0, -1, 0))[1] != vsize:
            pages += rss
    return pages * PAGE_MB


class PeakRss:
    """Samples the summed RSS of this process and all its descendants
    (the Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# -- set-up --------------------------------------------------------------------


def _setup(conf: dict, make_workload):
    """``get_spark`` (which launches the JVM) + the workload's unit-fixture
    warm-up: everything a user pays before the first operation can start.
    Returns the workload, the warm-up's span, and the two times."""
    from kgforge.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(MASTER, app_name="perfbench", shuffle_partitions=8, extra_conf=conf)
    t1 = time.perf_counter()
    wl = make_workload(spark)
    with wl.tr.span("session", layer=False) as session:
        wl.warm_up()
        t2 = time.perf_counter()
    return wl, session, t1 - t0, t2 - t1


def _teardown() -> None:
    """Stop Spark, end the JVM and wait for every child process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in _descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except OSError:
            pass
    while _descendants(os.getpid()) and time.time() < deadline + 10:
        time.sleep(0.1)


# -- metrics -------------------------------------------------------------------


def _log(msg: str, t0: float) -> None:
    print(f"[perfbench {time.perf_counter() - t0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


def _tail(xs: list[float]) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and its value."""
    n = len(xs)
    if n < 11:
        return 0.0, 0.0
    k = n - 11  # index of the sample with exactly ten above it
    return 100.0 * (k + 1) / n, sorted(xs)[k]


def _end_to_end(ops: list[dict], setup_s: float, peak_rss: float) -> dict:
    walls = [o["wall_s"] for o in ops]
    per_s = [o["work_items"] / o.get("eval_s", o["wall_s"]) for o in ops]
    return {
        "setup_s": (setup_s, "s"),
        "op_s": (_median(walls), "s"),
        "work_per_s": (_median(per_s), "1/s"),
        "spark_jobs": (_median([o["op_span"].counters["jobs"] for o in ops]), "jobs/op"),
        "shuffle_mb": (_median([o["op_span"].counters["shuffle_write_mb"] for o in ops]), "MB/op"),
        "peak_rss_mb": (peak_rss, "MB"),
    }


def _summary(name: str, ops: list[dict], e2e: dict, attempted: int, failed: int) -> list[str]:
    """The per-workload metric names of the design notes (build_s, append_s_p50,
    eval_s, ...), one per line, for people reading the log."""
    walls = [o["wall_s"] for o in ops]
    lines = [f"workload {name}: {len(ops)} operations"]
    if name == "batch_build":
        lines += [f"build_s {e2e['op_s'][0]:.4f} s", f"triples_per_s {e2e['work_per_s'][0]:.1f} triples/s"]
    elif name == "incremental_append":
        pct, val = _tail(walls)
        lines += [f"append_s_p50 {e2e['op_s'][0]:.4f} s",
                  f"append_s_tail {val:.4f} s (p{pct:.0f}, n={len(walls)})"
                  if pct else f"append_s_tail n/a (n={len(walls)} < 11)"]
    else:
        lines += [f"eval_s {_median([o['eval_s'] for o in ops]):.4f} s",
                  f"train_s {_median([o['train_s'] for o in ops]):.4f} s"]
    lines += [
        f"spark_jobs {e2e['spark_jobs'][0]:.0f} jobs/op",
        f"shuffle_mb {e2e['shuffle_mb'][0]:.3f} MB/op",
        f"peak_rss_mb {e2e['peak_rss_mb'][0]:.0f} MB",
        f"setup_s {e2e['setup_s'][0]:.4f} s",
        f"error_rate {failed / attempted if attempted else 1.0:.4f} ratio",
    ]
    return lines


def _per_layer(tracer, traced: list[dict], untraced: list[dict], session: dict) -> dict:
    from spans import COUNTERS
    from workloads import LAYER_EXTRAS

    out = {}
    by_op: list[dict[str, dict[str, float]]] = []
    for o in traced:
        sums: dict[str, dict[str, float]] = {}
        for sp in tracer.spans:
            if sp.parent == o["op_span"].span_id:
                acc = sums.setdefault(sp.name, dict.fromkeys(COUNTERS, 0.0))
                for c in COUNTERS:
                    acc[c] += sp.counters[c]
        by_op.append(sums)
    for layer, extras in LAYER_EXTRAS.items():
        for c in COUNTERS:
            if layer == "session":
                v = session["counters"][c]
            else:
                v = _median([s[layer][c] for s in by_op if layer in s])
            out[f"{layer}.{c}"] = (v, _unit(c))
        for x in extras:
            key = f"{layer}.{x}"
            if layer == "session":
                v = session[x]
            else:
                v = _median([o["extras"][key] for o in traced if key in o.get("extras", {})])
            out[key] = (v, _unit(x))
    shares = [
        sum(s[c]["wall_s"] for c in s) / o["wall_s"] for s, o in zip(by_op, traced)
    ]
    overhead = (
        _median([o["wall_s"] for o in traced]) - _median([o["wall_s"] for o in untraced])
        if untraced else tracer.bookkeeping_s / max(1, len(traced))
    )
    out["trace.attributed_min"] = (min(shares) if shares else 0.0, "ratio")
    out["trace.overhead_s"] = (overhead, "s")
    out["trace.bookkeeping_s"] = (tracer.bookkeeping_s / max(1, len(traced)), "s")
    return out


def _unit(metric: str) -> str:
    if metric in ("jobs", "tasks", "rows_out", "candidates", "rounds"):
        return "count"
    if metric.endswith("_mb"):
        return "MB"
    if metric.endswith("_s"):
        return "s"
    return "ratio"


# -- main ----------------------------------------------------------------------


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "unit"), default="bench",
                    help="input size; 'unit' is for the smoke test")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage each output before its check (smoke test)")
    args = ap.parse_args()
    if args.seed < 0:
        ap.error("--seed must be >= 0 (it seeds NumPy generators)")

    if not os.path.isdir(os.path.join(ROOT, "kgforge")):
        print(f"kgforge package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from inputs import input_dir
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(BENCH_DIR, ".work", run_id)
    shutil.rmtree(work, ignore_errors=True)
    conf = _isolate(work)
    t_run = time.perf_counter()
    try:
        inputs = input_dir(os.path.join(BENCH_DIR, ".cache"), args.workload, args.size, args.seed)
        if not os.path.exists(os.path.join(inputs, "_SUCCESS")):
            # a child process, so the generator's worker pool ends with it
            subprocess.run(
                [sys.executable, os.path.join(BENCH_DIR, "inputs.py"),
                 os.path.dirname(inputs), args.workload, args.size, str(args.seed)],
                check=True,
            )
        _log(f"inputs ready: {inputs}", t_run)
        fixtures_dir = os.path.join(ROOT, "fixtures", "openke" if args.workload == "kg_eval" else "unit")

        def make_workload(spark):
            return WORKLOADS[args.workload](
                spark, Tracer(spark, run_id, layers=False), inputs,
                os.path.join(work, "op"), fixtures_dir, args.seed,
            )

        wl, session, start_s, warmup_s = _setup(conf, make_workload)
        tracer = wl.tr
        setup_s = start_s + warmup_s
        _log(f"set up: start {start_s:.2f}s, warm-up {warmup_s:.2f}s", t_run)
        wl.prepare()
        _log("prepared", t_run)

        ops, failed, attempted = [], 0, 0
        min_ops = TRACE_MIN_OPS if args.trace else MIN_OPS
        with PeakRss() as rss:
            start = time.perf_counter()
            i = 0
            while wl.has_input(i):
                tracer.layers = bool(args.trace) and i % 2 == 0
                attempted += 1
                try:
                    facts = wl.op(i)
                    facts["traced"] = tracer.layers
                    ok = wl.check(facts, args.corrupt)
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    break
                failed += 0 if ok else 1
                ops.append({k: facts[k] for k in KEEP if k in facts})
                i += 1
                if time.perf_counter() - start >= args.seconds and i >= min_ops:
                    break
            tracer.layers = False
            _log(f"{len(ops)} operations: {[round(o['wall_s'], 2) for o in ops]}", t_run)
            if ops and not wl.finish(args.corrupt):
                failed = attempted
        if not ops:
            print("no operation completed", file=sys.stderr)
            return 1

        if args.trace:
            session = {
                "counters": {**session.counters, "wall_s": setup_s},
                "start_s": start_s, "warmup_s": warmup_s,
            }
            traced = [o for o in ops if o["traced"]]
            untraced = [o for o in ops if not o["traced"]]
            metrics = _per_layer(tracer, traced, untraced, session)
            out_dir = os.path.join(BENCH_DIR, ".out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write_jsonl(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = _end_to_end(ops, setup_s, rss.peak)
            for line in _summary(args.workload, ops, metrics, attempted, failed):
                print(line)
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        _teardown()
        shutil.rmtree(work, ignore_errors=True)
        _log("stopped", t_run)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
