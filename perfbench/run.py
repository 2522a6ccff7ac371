"""Benchmark entry point: one workload, one fresh process, one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload extract_stored --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10  # each workload

Workloads (see ``BENCHMARK.json`` for why each exists):

- ``extract_stored``: stored parquet docs table → ``extract_combined``
  → noop sink, with a few giant documents.
- ``ingest_job``: copies of ``fixtures/files_corpus`` through
  ``jobs.extract_job.main`` (scan, route, checkpointed chunks,
  manifests, report) and ``operators.sinks.export_markdown_files``.

Sizes are small on purpose: a run pays ~15-20 s of Spark set-up and a
first pass of 13-30 s before any steady pass, and every workload runs
22 times in one benchmark budget (see ``workloads.py``).

A run is one fresh process: set up Spark with ``get_spark(cores=nproc)``
and the library defaults, generate the seeded inputs (cached, untimed),
run one first pass, one untimed warm-up pass, then a number of steady
passes that grows with ``--seconds`` (see ``PASSES_PER_S``), then the
workload's correctness gate.  ``spark.catalog.clearCache()`` runs after every
pass.  With ``--trace 0`` the last stdout line carries every end-to-end
metric; with ``--trace 1`` steady passes alternate untraced and traced,
and it carries every per-layer metric instead: spans around each layer
call, Spark's SQL and stage metrics read from the status store after
each pass, pure-Python probes over fixed samples, the share of a traced
pass's wall time the spans attribute to named layers, and the tracing
overhead against the untraced passes of the same run.

Every end-to-end time is steal-free (wall time scaled down by the share
of busy CPU time the hypervisor gave to other guests meanwhile, see
:func:`timed`) and then scaled to a reference CPU speed: an untraced
run times a fixed pure-Python loop on every core (:func:`cpu_burn_s`)
once before it starts Spark and once after Spark has stopped, and
multiplies its times by ``REF_BURN_S`` over the mean of these burns and
those of the runs in the same checkout in the last ``BURN_WINDOW_S``
(:func:`recent_burn_s`).  On a shared host the same
pass drifts by a fifth within minutes and by more between hours; the
program causes neither.  Set-up and the first
pass are measured once per run: a cold start happens once per process,
and a second process per run does not fit the run budget.

Everything the run writes stays under ``.perfbench/`` in the checkout
(inputs cache, Spark local dirs, JVM temp files, job outputs).  Every
result also records the box (nproc, cores used, driver memory, Spark
and pyarrow versions) and the input sizes.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
# a traced run needs one untraced and one traced steady pass
MIN_STEADY_PASSES = {0: 1, 1: 2}
# untimed passes between the first and the steady ones: the JIT still
# speeds up the second pass by up to a quarter
WARMUP_PASSES = 1
KEEP_INPUTS = 6  # cached generated inputs kept per checkout
# steady passes per second of --seconds: at 15 s, three extract passes
# (~3.5 s each on a 4-vCPU box) and three ingest passes (~8 s each,
# whose dozen small Spark jobs swing more from pass to pass)
PASSES_PER_S = {"extract_stored": 3 / 15, "ingest_job": 3 / 15}
# the speed control: loop length, and the burn time it is scaled to
# (on the 4-vCPU box it read 0.8-1.4 s)
BURN_LOOPS = 8_000_000
REF_BURN_S = 1.0
BURNS_EACH_SIDE = 1  # burns before set-up and after Spark has stopped
# burns of earlier runs in this checkout that still count: the host's
# speed drifts over minutes, while one burn swings by a tenth from one
# second to the next
BURN_WINDOW_S = 600


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 of stat; 2 fields precede here
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    age = uptime - start_ticks / os.sysconf("SC_CLK_TCK")
    return time.time() - age


def cpu_ticks() -> tuple[int, int]:
    """(steal, non-idle) jiffies summed over all CPUs, from /proc/stat.
    Non-idle counts every state but idle and iowait, steal included."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f) - f[3] - f[4]


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the time our CPUs wanted to run that the hypervisor gave
    to other guests, between two :func:`cpu_ticks` readings.  Idle CPUs
    accrue no steal, so the share is of non-idle time: it is the factor
    by which a run's busy stretches were drawn out."""
    busy = after[1] - before[1]
    return (after[0] - before[0]) / busy if busy > 0 else 0.0


def timed(fn, *args):
    """(result, wall seconds, steal-free seconds) of ``fn(*args)``.

    Steal-free time is wall time scaled by the share of busy CPU time
    the hypervisor did not give to other guests meanwhile (``steal`` in
    /proc/stat).  On a shared host that share swings between ~5% and
    ~30% from one minute to the next; the program does not cause it, so
    timings leave it out."""
    before, t0 = cpu_ticks(), time.time()
    result = fn(*args)
    wall = time.time() - t0
    return result, wall, wall * (1.0 - steal_frac(before, cpu_ticks()))


BURN_CODE = (
    "import time\n"
    "t0 = time.perf_counter(); x = 0\n"
    "for i in range({n}): x += i % 7\n"
    "print(time.perf_counter() - t0)\n"
)


def cpu_burn_s(workers: int) -> float:
    """Steal-free seconds for a fixed pure-Python loop (~1 s), run at
    once in ``workers`` child processes; the median child counts.

    It is the speed control (see :func:`recent_burn_s`): on a shared
    host the same pass drifts by a fifth within minutes, with little
    steal to show for it; a burn shorter than ~1 s swings more with the
    host's second-to-second noise than with that drift."""
    code = BURN_CODE.format(n=BURN_LOOPS)
    before = cpu_ticks()
    procs = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                              text=True) for _ in range(workers)]
    times = [float(p.communicate(timeout=60)[0]) for p in procs]
    return statistics.median(times) * (1.0 - steal_frac(before, cpu_ticks()))


def recent_burn_s(burns: list[float]) -> float:
    """Mean of ``burns`` and of the burns other runs in this checkout
    logged in the last ``BURN_WINDOW_S``; logs ``burns`` for later runs.

    One burn is ~1 s of the host's speed and swings with it by a tenth
    from one second to the next; the program's passes drift with the
    host over minutes.  The window keeps the drift and averages the
    swings away."""
    now = time.time()
    log = os.path.join(WORK, "burns.jsonl")
    recent = []
    if os.path.exists(log):
        with open(log) as fh:
            recent = [e for e in map(json.loads, fh)
                      if now - BURN_WINDOW_S <= e["t"] <= now]
    recent.append({"t": now, "burns": burns})
    os.makedirs(WORK, exist_ok=True)
    with open(log + ".tmp", "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in recent)
    os.replace(log + ".tmp", log)
    return statistics.fmean(b for e in recent for b in e["burns"])


def _children() -> dict[int, list[int]]:
    tree: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        tree.setdefault(ppid, []).append(int(name))
    return tree


def descendants(pid: int) -> list[int]:
    tree, out, todo = _children(), [], [pid]
    while todo:
        for child in tree.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process tree every
    ``interval`` seconds on a background thread; keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def start(self):
        self._thread.start()

    def stop(self):
        self._stop.set()
        self._thread.join(timeout=10)


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process
    this run started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 60
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def load_manifest() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def quartiles(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"q1": v, "median": v, "q3": v, "n": len(values)}
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"q1": q1, "median": med, "q3": q3, "n": len(values)}


def measure(args, n_steady: int, proc_start: float,
            ticks_start: tuple[int, int]) -> dict:
    """Set-up, first pass, ``n_steady`` steady passes, gate, all in this
    process.  Returns the raw numbers for :func:`main`."""
    manifest = load_manifest()
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen  # noqa: E402  (these need the program on sys.path)
    from tracing import Tracer, self_time_by_name  # noqa: E402
    from workloads import WORKLOADS  # noqa: E402

    # Python workers are started with the environment, not sys.path;
    # temp and shuffle files stay inside the checkout
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"

    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.time()
        from parserpdf_spark.session import get_spark

        cores = len(os.sched_getaffinity(0))  # what `nproc` prints
        spark = get_spark(cores=cores)
        get_spark_s = time.time() - t0
        spark.range(1).count()
        setup_wall = time.time() - proc_start
        setup_s = setup_wall * (1.0 - steal_frac(ticks_start, cpu_ticks()))

        tracer = Tracer(enabled=False)
        wl = WORKLOADS[args.workload](spark, ROOT, WORK, args.seed, tracer)
        gen.evict(os.path.join(WORK, "inputs"), KEEP_INPUTS)
        wl.prepare()

        res, first_wall, first_pass_s = timed(wl.run_pass, 0)
        wl.end_pass()
        attempted, missing, errors = res["docs"], res["missing"], res["errors"]

        untraced: list[float] = []  # steal-free seconds per pass
        traced: list[float] = []
        walls: list[float] = []
        layer_rows: list[dict] = []
        status = wl.status
        for k in range(1, WARMUP_PASSES + n_steady + 1):
            warm = k <= WARMUP_PASSES
            trace_this = bool(args.trace) and not warm and (k - WARMUP_PASSES) % 2 == 0
            tracer.enabled = trace_this
            tracer.spans = []
            mark = status.mark() if trace_this else None
            jobs0 = _job_count(spark) if trace_this else 0
            res, wall, free = timed(wl.run_pass, k)
            if not warm:
                (traced if trace_this else untraced).append(free)
                walls.append(wall)
            attempted += res["docs"]
            missing += res["missing"]
            errors += res["errors"]
            if trace_this:
                row = wl.layers(tracer.spans, mark)
                spans_self = self_time_by_name(tracer.spans)
                for name, secs in spans_self.items():
                    row[f"{name}_s"] = row.get(f"{name}_s", 0.0) + secs
                attributed = sum(spans_self.values())
                stages = status.stages(mark)
                row.update({
                    "spark.jobs": float(_job_count(spark) - jobs0),
                    "spark.failed_tasks": float(sum(s["failed_tasks"] for s in stages)),
                    "spark.gc_s": sum(s["gc_s"] for s in stages),
                    "trace.pass_s": wall,
                    "trace.unattributed_s": max(0.0, wall - attributed),
                    "trace.attributed_frac": attributed / wall if wall else 0.0,
                })
                layer_rows.append(row)
            wl.end_pass()
        peak_rss = sampler.peak
        # a failed Spark task is a failed operation even when its retry won
        failed = missing + status.failed_tasks((-1, -1))

        t0 = time.time()
        problems = wl.gate()
        gate_wall = time.time() - t0
        layers = {}
        if args.trace and not problems:
            layers = {
                name: statistics.median([r.get(name, 0.0) for r in layer_rows])
                for name in (m["name"] for m in manifest["per_layer"])
            }
            layers.update(wl.probes())
            layers["session.get_spark_s"] = get_spark_s
            layers["trace.overhead_frac"] = (
                statistics.median(traced) / statistics.median(untraced) - 1.0)
            layers["process.peak_rss_mb"] = peak_rss / 1e6
        meta = {k: v for k, v in wl.meta.items() if k != "giant_doc_ids"}
        meta.update({
            "nproc": cores,
            "cpu_count": os.cpu_count(),
            "cores": cores,
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "spark": spark.version,
            "pyarrow": __import__("pyarrow").__version__,
            "setup_wall_s": setup_wall,
            "first_pass_wall_s": first_wall,
            "steady_pass_wall_s": quartiles(walls),
            "steady_pass_steal_free_s": quartiles(untraced),
            "peak_rss_mb": peak_rss / 1e6,
            "gate_wall_s": gate_wall,
        })
        wl.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
    return {
        "problems": problems,
        "attempted": attempted,
        "failed": failed,
        "errors": errors,
        "setup_s": setup_s,
        "first_pass_s": first_pass_s,
        "steady_s": untraced,
        "docs": wl.meta["docs"],
        "layers": layers,
        "meta": meta,
    }


def main(argv=None) -> int:
    proc_start, ticks_start = process_start_time(), cpu_ticks()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    if not os.path.isdir(os.path.join(ROOT, "parserpdf_spark")):
        print(f"perfbench: no program sources under {ROOT}", file=sys.stderr)
        return 2
    manifest = load_manifest()
    if args.workload not in PASSES_PER_S:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # a fixed pass count per (workload, --seconds), not a deadline:
    # memory and warm-up effects then depend on the work done alone
    n_steady = max(MIN_STEADY_PASSES[args.trace],
                   round(args.seconds * PASSES_PER_S[args.workload]))
    # the speed control runs while no JVM or Python worker of this run
    # is alive, so neither the program nor its background threads touch
    # it; set-up time leaves the first burn out
    cores = len(os.sched_getaffinity(0))  # what `nproc` prints
    burns = []
    if not args.trace:
        t0 = time.time()
        burns += [cpu_burn_s(cores) for _ in range(BURNS_EACH_SIDE)]
        proc_start += time.time() - t0
        ticks_start = cpu_ticks()
    m = measure(args, n_steady, proc_start, ticks_start)
    if not args.trace:
        burns += [cpu_burn_s(cores) for _ in range(BURNS_EACH_SIDE)]

    for p in m["problems"]:
        print(f"perfbench: gate failed: {p}", file=sys.stderr)
    if m["problems"]:
        print(json.dumps({"correct": False, "attempted": max(1, m["attempted"]),
                          "failed": max(1, m["failed"]), "metrics": {}}))
        return 1

    if args.trace:
        values = m["layers"]
        wanted = manifest["per_layer"]
    else:
        speed = REF_BURN_S / recent_burn_s(burns)
        values = {
            "setup_s": m["setup_s"] * speed,
            "first_pass_s": m["first_pass_s"] * speed,
            "docs_per_s": m["docs"] / (statistics.median(m["steady_s"]) * speed),
            "ok_frac": 1.0 - (m["errors"] + m["failed"]) / m["attempted"],
        }
        wanted = manifest["end_to_end"]
    metrics = {w["name"]: {"value": float(values.get(w["name"], 0.0)), "unit": w["unit"]}
               for w in wanted}
    result = {"correct": True, "attempted": m["attempted"], "failed": m["failed"],
              "metrics": metrics}
    run = dict(m["meta"], workload=args.workload, seed=args.seed, seconds=args.seconds,
               cpu_burn_s=burns, setup_steal_free_s=m["setup_s"],
               first_pass_steal_free_s=m["first_pass_s"])
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    record = os.path.join(
        results, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}.json")
    with open(record, "w") as fh:
        json.dump(dict(result, run=run), fh, indent=1, sort_keys=True)
    print(f"perfbench: run record in {record}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def run_all(args) -> int:
    """Every workload of BENCHMARK.json, each in a fresh process; one
    ``<workload> <result JSON>`` line each."""
    rc = 0
    for w in load_manifest()["workloads"]:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w["name"],
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True, check=False,
        )
        lines = out.stdout.strip().splitlines()
        print(w["name"], lines[-1] if lines else "{}", flush=True)
        rc = rc or out.returncode
    return rc


def _job_count(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup())


if __name__ == "__main__":
    sys.exit(main())
