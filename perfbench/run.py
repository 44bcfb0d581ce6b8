"""Closed-loop benchmark of alphalens_spark's dataflows.

Run from the repository root:

    python3 perfbench/run.py --workload factor_tear_sheet --seed 1 --seconds 5 --trace 0

One Python process drives ``local[nproc]`` with a single client: every
iteration waits for the previous one to finish. A run

1. records the host (nproc, single-thread and all-core CPU probes,
   loadavg before and after);
2. starts Spark through the library's ``get_spark`` and sets the
   workload up from the seeded inputs;
3. runs one untimed warm iteration, whose output fingerprint is the
   reference every timed iteration must match (as must the fingerprint
   recorded in ``fingerprints.json`` for this workload, scale and seed);
4. repeats timed iterations until ``--seconds`` have passed;
5. stops Spark and waits until every process it started (JVM, Python
   workers, probe pool) has ended, on every way out, errors included.

The warm iteration pays for Python workers and code generation and takes
about twice as long as later ones, but JIT compilation keeps shortening
iterations for about five more (11.2, 9.6, 9.1, 8.4, 8.2 s for
factor_tear_sheet on four cores), so the timed iterations are not yet at
a plateau; reaching it would cost more than a run's share of the time
budget. Every iteration takes more than 5 s on four cores, so with
``--seconds 5`` every run times exactly one, the second: the sample
count, and with it the point on that curve, does not depend on the
host's speed. A second timed iteration per run did not narrow the
spread across runs (10 seeds: 0.115 with one, 0.106 with two), because
the host's speed drifts over minutes and both iterations share it.

``setup_s`` is the time from process start to the first timed
iteration: interpreter and JVM start, input generation, set-up and the
warm iteration, so work moved out of the iterations into any of them
shows.

With ``--trace 0`` the last stdout line carries the end-to-end metrics:
``iter_s`` (median wall time of one iteration, result collected),
``cpu_s`` (median CPU seconds per iteration over the whole process tree:
driver, JVM and Python workers), ``cache_mb`` (Spark block storage held
at the end of an iteration's action phase) and ``setup_s``. With
``--trace 1`` every timed iteration is traced, and the last line carries
the per-layer metrics (see ``trace.py``), including ``trace.iter_s``,
the median traced iteration: the tracing overhead is ``trace.iter_s``
minus the untraced ``iter_s`` of the same workload and seed.
The line before it is a detail record: host, seed, sample counts, the
failed ratio, set-up phases and fingerprints.

The one setting the benchmark overrides is the driver heap: 2g instead
of ``get_spark``'s 16g, unless ``SPARK_DRIVER_MEMORY`` is set. With 16g
the JVM grows to about 5.5 GB resident on a 15 GB host for inputs that
cache under 3 MB, and the benchmark should leave that memory to its
neighbours. Set ``SPARK_DRIVER_MEMORY=16g`` to measure the default.

``--sf`` sets the input scale (default 0.01; the self-test uses 0.001).
``--record`` stores the warm iteration's fingerprint in
``fingerprints.json`` when the output checks pass, for a new
(workload, scale, seed).
"""

from __future__ import annotations

import argparse
import contextlib
import ctypes
import hashlib
import io
import json
import math
import multiprocessing as mp
import os
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")
DEFAULT_SF = 0.01
END_TO_END_UNITS = {"iter_s": "s", "cpu_s": "s", "cache_mb": "MB", "setup_s": "s"}


# -- host record --------------------------------------------------------------

def _burn(_: int = 0) -> int:
    s = 0
    for i in range(3_000_000):
        s += i
    return s


def host_probe() -> dict:
    """Single-thread and all-core CPU probes: the same fixed integer loop
    on one core, then on every core at once."""
    n = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    _burn()
    st = time.perf_counter() - t0
    # fork, not spawn: spawn starts a resource-tracker process that would
    # outlive the run
    with mp.get_context("fork").Pool(n) as pool:
        pool.map(_burn, range(n))  # start the workers before timing
        t0 = time.perf_counter()
        pool.map(_burn, range(n))
        mt = time.perf_counter() - t0
    return {"nproc": n, "st_probe_s": st, "mt_probe_s": mt}


def _ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of one process, in clock ticks."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(c for c, p in parent.items() if p == pid)
    total = 0
    for pid in tree:
        try:
            total += _ticks(pid)
        except OSError:
            continue
    return total / os.sysconf("SC_CLK_TCK")


def _process_age_s() -> float:
    with open("/proc/self/stat") as f:
        start = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        up = float(f.read().split()[0])
    return up - start / os.sysconf("SC_CLK_TCK")


# -- output check -------------------------------------------------------------

def _norm(v):
    if isinstance(v, float) or type(v).__name__.startswith("float"):
        v = float(v)
        if math.isnan(v):
            return "nan"
        if abs(v) < 1e-9:
            return 0.0
        return float(f"{v:.6g}")
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(sorted((_norm(x) for x in v), key=repr))
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def fingerprint(tables: dict) -> dict:
    """Per table: row count and an order-insensitive hash of its values
    rounded to 6 significant digits."""
    out = {}
    for name in sorted(tables):
        pdf = tables[name]
        rows = sorted(repr(tuple(_norm(v) for v in r)) for r in pdf.itertuples(index=False))
        h = hashlib.sha256("\n".join([repr(list(pdf.columns))] + rows).encode())
        out[name] = [len(pdf), h.hexdigest()[:16]]
    return out


def recorded_fingerprint(workload: str, sf: float, seed: int) -> dict | None:
    if not os.path.exists(FINGERPRINTS):
        return None
    with open(FINGERPRINTS) as f:
        return json.load(f).get(workload, {}).get(repr(sf), {}).get(str(seed))


def record_fingerprint(workload: str, sf: float, seed: int, fp: dict) -> None:
    data = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS) as f:
            data = json.load(f)
    data.setdefault(workload, {}).setdefault(repr(sf), {})[str(seed)] = fp
    with open(FINGERPRINTS, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


# -- harness ------------------------------------------------------------------

def _configure_env() -> None:
    """Keep every file Spark and its workers write inside the checkout."""
    local = os.path.join(WORK, "local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={local} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")  # see the module docstring


class Session:
    """The Spark session plus the bookkeeping that returns the block
    manager to its post-set-up state after every iteration."""

    def __init__(self, spark) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        self.spark = spark
        self.sc = spark.sparkContext
        self.persisted: list = []
        self._baseline: set[int] = set()
        owner = self

        def persist(df, *args, **kwargs):
            owner.persisted.append(df)
            return persist.orig(df, *args, **kwargs)

        def cache(df):
            owner.persisted.append(df)
            return cache.orig(df)

        persist.orig, cache.orig = DataFrame.persist, DataFrame.cache
        DataFrame.persist, DataFrame.cache = persist, cache

    def cache_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / 2**20

    def free(self) -> None:
        """Unpersist every frame cached since the last mark, then every
        RDD block (local checkpoints) not present at the mark."""
        for df in self.persisted:
            df.unpersist(blocking=True)
        self.persisted.clear()
        for rid, rdd in self.sc._jsc.getPersistentRDDs().items():
            if rid not in self._baseline:
                rdd.unpersist(True)

    def mark(self) -> None:
        self.persisted.clear()
        self._baseline = set(self.sc._jsc.getPersistentRDDs().keys())

    def wait_listeners(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


PR_SET_CHILD_SUBREAPER = 36


def _adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    exits first (Python workers after the JVM), so ``_reap_children``
    can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list[int]:
    me, kids = os.getpid(), []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        kids.append(int(name))
            except OSError:
                continue
    return kids


def _reap_children(grace_s: float = 30.0) -> None:
    """Wait until every process this run started has ended: give them
    ``grace_s`` to exit, then SIGTERM, then SIGKILL after 10 s more."""
    start = time.monotonic()
    sent = None
    while kids := _children():
        for pid in kids:
            with contextlib.suppress(ChildProcessError):
                os.waitpid(pid, os.WNOHANG)
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > grace_s + 10 else
               signal.SIGTERM if waited > grace_s else None)
        if sig is not None and sig != sent:
            for pid in _children():
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, sig)
            sent = sig
        time.sleep(0.05)


def _stop(spark) -> None:
    """Stop Spark, then close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _collect(out: dict) -> dict:
    """Result tables as pandas frames (cached Spark results are read back)."""
    return {k: v if hasattr(v, "itertuples") else v.toPandas() for k, v in out.items()}


def run(args) -> tuple[dict, dict]:
    host = host_probe()
    host["loadavg_before"] = os.getloadavg()

    from alphalens_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    jvm_s = time.perf_counter() - t0
    try:
        return _measure(args, spark, host, jvm_s)
    finally:
        _stop(spark)


def _measure(args, spark, host: dict, jvm_s: float) -> tuple[dict, dict]:
    from perfbench import checks
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload]
    sess = Session(spark)
    quiet = contextlib.redirect_stdout(io.StringIO())

    t0 = time.perf_counter()
    with quiet:
        state = w.setup(spark, args.seed, args.sf)
    setup_run_s = time.perf_counter() - t0
    sess.mark()

    t0 = time.perf_counter()
    with quiet:
        warm = _collect(w.iterate(state))
    warm_s = time.perf_counter() - t0
    sess.free()
    reference = fingerprint(warm)
    problems = checks.check(args.workload, warm, state)
    recorded = recorded_fingerprint(args.workload, args.sf, args.seed)
    if recorded is not None and recorded != reference:
        problems.append("warm fingerprint differs from the recorded one")
    if args.record and not problems:
        record_fingerprint(args.workload, args.sf, args.seed, reference)
    setup_s = _process_age_s()

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer(spark)
    samples, cpus, caches, layer_recs = [], [], [], []
    attempted = failed = 0
    t_end = time.perf_counter() + args.seconds
    while attempted < 1 or time.perf_counter() < t_end:
        if tracer:
            tracer.begin(attempted)
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with quiet:
            out = w.iterate(state)
        dt = time.perf_counter() - t0
        c1 = tree_cpu_s()
        if tracer:
            tracer.end()
        caches.append(sess.cache_mb())
        tables = _collect(out)
        sess.free()
        attempted += 1
        samples.append(dt)
        cpus.append(c1 - c0)
        if fingerprint(tables) != reference:
            failed += 1
            problems.append(f"iteration {attempted}: output differs from the warm iteration")
        if tracer:
            sess.wait_listeners()
            layer_recs.append(tracer.layer_record(attempted - 1, dt))

    detail = {
        "workload": args.workload, "seed": args.seed, "sf": args.sf,
        "trace": args.trace,
        "host": host | {"loadavg_after": os.getloadavg()},
        "jvm_start_s": jvm_s, "workload_setup_s": setup_run_s, "warm_iter_s": warm_s,
        "samples": len(samples),
        "iter_s_all": samples,
        "tail_percentile": None,  # fewer than 10 samples beyond any tail
        "failed_ratio": failed / attempted,
        "problems": problems,
        "fingerprint": reference,
        "fingerprint_recorded": recorded is not None,
    }
    if tracer is None:
        metrics = {
            "iter_s": statistics.median(samples),
            "cpu_s": statistics.median(cpus),
            "cache_mb": statistics.median(caches),
            "setup_s": setup_s,
        }
        units = END_TO_END_UNITS
    else:
        from perfbench.trace import medians, per_layer_units

        metrics = medians(layer_recs)
        metrics["trace.iter_s"] = statistics.median(samples)
        units = per_layer_units()
        spans_path = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
        tracer.close()
    ok = not problems
    result = {
        "correct": ok,
        "attempted": attempted,
        "failed": failed if ok else max(failed, 1),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return detail, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF)
    ap.add_argument("--record", action="store_true",
                    help="store the warm iteration's fingerprint in fingerprints.json")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import alphalens_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the library under test: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    _configure_env()
    _adopt_orphans()
    try:
        detail, result = run(args)
    finally:
        _reap_children()
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
