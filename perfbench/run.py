"""Repo benchmark: the mover round trip into a live PostgreSQL, and the
relational and LLM-operator query mixes. See perfbench/README.md.

    python3 perfbench/run.py --workload {mover_roundtrip,query_mix} \\
        --seed N --seconds S --trace {0,1}

Run from anywhere; the checkout is this file's parent directory. It must
hold the program (``mover_spark/`` and ``__spark_entry__.py``). Apart from
Python's ``__pycache__``, every file a run writes stays under
``<checkout>/.perfbench/``.

Stdout ends with two JSON lines: ``{"perfbench": {...}}`` recording the
configuration, host load and every end-to-end number by name, then the
result ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end set; with ``--trace 1`` the per-layer set,
taken from a run with Spark's event log on.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HEAP = "2g"  # fixed driver heap (-Xms = -Xmx); leaves room for PG on a 15 GB host

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
#: (name, unit) of the metrics a run prints, as BENCHMARK.json declares them
E2E = [(m["name"], m["unit"]) for m in _SPEC["end_to_end"]]
PER_LAYER = [(m["name"], m["unit"]) for m in _SPEC["per_layer"]]
MOVER_TABLES = ["customer", "orders", "lineitem", "part", "supplier", "nation", "region"]


def parse_args(argv):
    from workloads import DEFAULT_SEED, WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10.0,
                   help="measured window: warm rounds repeat until it has passed,"
                   " and at least the workload's fixed count (workloads.WARM_ROUNDS)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("standard", "smoke"), default="standard")
    p.add_argument("--tamper", action="store_true",
                   help="corrupt one expected result; the run must count it failed")
    return p.parse_args(argv)


def _term(signum, frame):
    raise SystemExit(128 + signum)  # unwind through every finally


def _adopt_orphans() -> None:
    """Become the subreaper of every process this run starts, so that one
    whose parent exits first (the PG postmaster after pg_ctl, Spark's Python
    workers after the JVM) is still this process's to stop and wait for."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap_all(grace: float = 10.0) -> None:
    """Stop every process still descended from this one and wait for each
    to end: SIGTERM, then SIGKILL after ``grace`` seconds."""
    from measure import descendants

    deadline, sig = time.monotonic() + grace, signal.SIGTERM
    while True:
        while True:  # collect the ones that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return
            if pid == 0:
                break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _steal() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _configure_env(run_dir: str, trace: bool) -> str:
    tmp = os.path.join(run_dir, "tmp")
    events = os.path.join(run_dir, "events")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, events, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(_nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # every JVM, the launcher's included: temp files inside the run
    # directory and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    confs = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # the whole heap is committed up front, so RSS tracks memory outside
        # it rather than when the collector happens to touch new regions
        "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()) + " pyspark-shell"
    return events


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit,
    also when the session no longer answers."""
    from pyspark import SparkContext

    try:
        if spark is not None:
            spark.stop()
    finally:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _storage_bytes(sc) -> int:
    return sum(int(i.memSize()) for i in sc._jsc.sc().getRDDStorageInfo())


class Harness:
    """Closed loop over a workload's operations; records every invocation."""

    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.invocations: list[dict] = []
        self.current = -1
        self.cached_peak = 0

    def invoke(self, op, phase: str, rnd: int) -> None:
        idx = len(self.invocations)
        if op.prepare is not None:
            op.prepare()
        op.info = {}
        tags = [f"pb-inv-{idx}"] if self.trace else []
        for t in tags:
            self.sc.addJobTag(t)
        self.current = idx
        out, error = None, None
        t0 = time.time()
        try:
            out = op.run()
        except Exception as exc:  # a failing operation must not end the run
            error = f"{op.name}: {type(exc).__name__}: {exc}"
            traceback.print_exc()
        t1 = time.time()
        for t in tags:
            self.sc.removeJobTag(t)
        if error is None:
            try:
                error = op.check(out)
            except Exception as exc:
                error = f"{op.name} check: {type(exc).__name__}: {exc}"
                traceback.print_exc()
        if error:
            print(f"perfbench: FAILED {error}", file=sys.stderr)
        if self.trace:
            self.cached_peak = max(self.cached_peak, _storage_bytes(self.sc))
        self.invocations.append({
            "idx": idx, "op": op.name, "family": op.family, "phase": phase,
            "round": rnd, "t0": t0, "t1": t1, "seconds": t1 - t0,
            "error": error, "info": dict(op.info),
        })

    def measure(self, ops, seconds: float, min_rounds: int) -> int:
        start = time.monotonic()
        for op in ops:
            self.invoke(op, "first", 0)
        rnd = 0
        while rnd < min_rounds or time.monotonic() - start < seconds:
            rnd += 1
            for op in ops:
                self.invoke(op, "warm", rnd)
        return rnd


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _layer_metrics(h: Harness, spans, jobs, setup, e2e, first, warm) -> dict:
    from measure import SPARK_METRICS
    from workloads import FAMILIES, FAMILY

    m: dict[str, float] = {}
    for k in ("session.get_spark_s", "catalog.init_s", "bench.warmup_s", "pg.setup_s"):
        m[k] = setup.get(k, 0.0)
    for phase in ("extract", "load", "reload"):
        m[f"mover.{phase}_s"] = warm.get(phase, 0.0)
    for fam in FAMILIES:
        m[f"{fam}.first_s"] = sum(v for o, v in first.items() if FAMILY[o] == fam)
        m[f"{fam}.warm_s"] = sum(v for o, v in warm.items() if FAMILY[o] == fam)

    warm_inv = [i for i in h.invocations if i["phase"] == "warm"]
    rounds = sorted({i["round"] for i in warm_inv})

    def per_round(op: str, value) -> float:
        """Median over warm rounds of value(invocation) for one operation."""
        return _median(value(i) for i in warm_inv if i["op"] == op)

    def span_s(layer: str, table: str | None = None):
        def value(inv):
            return sum(b - a for name, idx, a, b, t in spans
                       if name == layer and idx == inv["idx"] and (table is None or t == table))
        return value

    m["closure.extract_closure_s"] = per_round("extract", span_s("closure.extract_closure"))
    m["closure.jobs"] = per_round("extract", lambda i: sum(
        1 for j in jobs.tagged(f"pb-inv-{i['idx']}")
        if "pb-layer-closure.extract_closure" in j["tags"]))
    counts = {t: per_round("extract", lambda i, t=t: i["info"].get("counts", {}).get(t, 0))
              for t in MOVER_TABLES}
    m["closure.rows"] = sum(counts.values())
    for t in MOVER_TABLES:
        m[f"closure.rows.{t}"] = counts[t]
    m["sanitize.sanitize_df_s"] = per_round("extract", span_s("sanitize.sanitize_df"))
    m["sanitize.rows"] = counts["customer"] + counts["supplier"]
    m["jsonio.write_envelope_s"] = per_round("extract", span_s("jsonio.write_envelope"))
    m["jsonio.bytes_written"] = per_round("extract", lambda i: i["info"].get("bytes", 0))
    m["jsonio.read_envelopes_s"] = per_round("load", span_s("jsonio.read_envelopes"))
    m["jsonio.coerce_to_schema_s"] = per_round("load", span_s("jsonio.coerce_to_schema"))
    m["jdbc.bulk_upsert_s"] = per_round("load", span_s("jdbc.bulk_upsert"))
    for t in MOVER_TABLES:
        m[f"jdbc.bulk_upsert_s.{t}"] = per_round("load", span_s("jdbc.bulk_upsert", t))
    m["jdbc.reload_bulk_upsert_s"] = per_round("reload", span_s("jdbc.bulk_upsert"))
    for op, prefix in (("load", "pg."), ("reload", "pg.reload_")):
        for k in ("commits", "rows_sent", "rows_inserted"):
            m[prefix + k] = per_round(op, lambda i, k=k: i["info"].get(k, 0))
        sent = m[prefix + "rows_sent"]
        m[prefix + "insert_ratio"] = m[prefix + "rows_inserted"] / sent if sent else 0.0
    sent_pk = per_round("reload", lambda i: i["info"].get("rows_sent_pk", 0))
    ins_pk = per_round("reload", lambda i: i["info"].get("rows_inserted_pk", 0))
    m["pg.reload_insert_ratio_pk"] = ins_pk / sent_pk if sent_pk else 0.0

    first_inv = [i for i in h.invocations if i["phase"] == "first"]
    s_first = jobs.summarize(first_inv)
    by_round = [jobs.summarize([i for i in warm_inv if i["round"] == r]) for r in rounds]
    for k in SPARK_METRICS:
        m[f"spark.{k}"] = _median(s[k] for s in by_round)
        m[f"spark.{k}_first"] = s_first[k]
    m["spark.untagged_jobs"] = jobs.untagged_during(h.invocations)
    m["spark.overrun_tasks"] = jobs.overrun_tasks
    m["storage.cached_mb_peak"] = h.cached_peak / 2**20
    for n, _ in E2E:
        m[f"trace.{n}"] = e2e[n]
    return m


def bench(args, run_dir: str) -> tuple[dict, dict]:
    events = _configure_env(run_dir, bool(args.trace))
    sys.path.insert(1, ROOT)
    import fixture
    import workloads
    from measure import JobTable, LayerSpans, RssSampler, read_event_log

    cache = os.path.join(WORK, "cache")
    mix_dir, mover_dir, stamp = fixture.ensure(cache, args.size)
    warmup_dir = fixture.ensure(cache, "smoke")[0]
    ctx = workloads.Context(
        root=ROOT, run_dir=run_dir, size=args.size, seed=args.seed, mix_dir=mix_dir,
        mover_dir=mover_dir, warmup_dir=warmup_dir, stamp=stamp, cache_dir=cache,
        tamper=args.tamper)
    wl = workloads.make(args.workload, ctx)
    job = subprocess.run([sys.executable, os.path.join(HERE, "expect.py")],
                         input=json.dumps(wl.expectation_job()), capture_output=True,
                         text=True)
    if job.returncode != 0:
        sys.stderr.write(job.stderr)
        raise RuntimeError(f"expected outputs: expect.py exited {job.returncode}")
    wl.set_expected(json.loads(job.stdout))

    import pyspark

    from mover_spark.session import get_spark

    load0, steal0 = os.getloadavg(), _steal()
    spark, spans, layers = None, [], None
    times: dict[str, float] = {}
    try:
        with RssSampler() as rss:
            t0 = time.time()
            spark = get_spark(f"perfbench-{args.workload}", cpus=str(_nproc()))
            times["session.get_spark_s"] = time.time() - t0
            spark.sparkContext.setLogLevel("ERROR")
            wl.setup(spark, times)
            times["total"] = time.time() - t0
            print(f"perfbench: set-up {times['total']:.2f}s", file=sys.stderr)
            h = Harness(spark, bool(args.trace))
            if args.trace:
                layers = LayerSpans(spark.sparkContext, lambda: h.current)
                layers.install()
            try:
                rounds = h.measure(wl.ops(spark), args.seconds,
                                   workloads.WARM_ROUNDS[args.workload])
            finally:
                if layers is not None:
                    layers.uninstall()
                    spans = layers.spans
            app_id = spark.sparkContext.applicationId
    finally:
        try:
            wl.close()
        finally:
            _stop_spark(spark)
    load1, steal1 = os.getloadavg(), _steal()

    first = {i["op"]: i["seconds"] for i in h.invocations if i["phase"] == "first"}
    warm = {op: _median(i["seconds"] for i in h.invocations
                        if i["op"] == op and i["phase"] == "warm") for op in first}
    errors = [i["error"] for i in h.invocations if i["error"]]
    e2e = {
        "setup_s": times["total"],
        "first_s": sum(first.values()),
        "warm_s": sum(warm.values()),
        "peak_rss_mb": rss.peak / 2**20,
    }
    correct = not errors
    if args.trace:
        jobs = JobTable(read_event_log(events, app_id))
        metrics = _layer_metrics(h, spans, jobs, times, e2e, first, warm)
        if metrics["spark.untagged_jobs"] != 0:
            errors.append(f"{metrics['spark.untagged_jobs']} jobs ran untagged in an operation")
        if metrics["spark.overrun_tasks"] != 0:
            errors.append("tasks whose named times exceed their run time, so other_ms"
                          f" is no remainder: {metrics['spark.overrun_tasks']}")
        correct = not errors
        declared = PER_LAYER
    else:
        metrics, declared = e2e, E2E
    if set(metrics) != {n for n, _ in declared}:
        raise RuntimeError("metrics computed differ from BENCHMARK.json:"
                           f" {sorted(set(metrics) ^ {n for n, _ in declared})}")

    pg_version = subprocess.run(["postgres", "--version"], capture_output=True,
                                text=True).stdout.strip()  # mover needs it anyway
    summary = {
        "workload": args.workload, "seed": args.seed, "size": args.size,
        "seconds": args.seconds, "trace": args.trace, "cpus": _nproc(), "heap": HEAP,
        "spark": pyspark.__version__, "python": sys.version.split()[0],
        "postgres": pg_version,
        "loadavg_start": list(load0), "loadavg_end": list(load1),
        "steal_jiffies_delta": steal1 - steal0, "fixture": stamp,
        "setup": times, "warm_rounds": rounds,
        "e2e": {
            **e2e,
            "extract_s": warm.get("extract"), "load_s": warm.get("load"),
            "reload_s": warm.get("reload"),
            "failed_frac": len([i for i in h.invocations if i["error"]]) / len(h.invocations),
        },
        "first": first, "warm_median": warm, "errors": errors[:20],
        "invocations": [[i["op"], i["round"], round(i["seconds"], 4)] for i in h.invocations],
    }
    result = {
        "correct": correct,
        "attempted": len(h.invocations),
        "failed": len([i for i in h.invocations if i["error"]]),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in declared},
    }
    return result, summary


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isfile(os.path.join(ROOT, "mover_spark", "__init__.py"))):
        print(f"perfbench: {ROOT} holds no mover_spark checkout", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    signal.signal(signal.SIGTERM, _term)
    _adopt_orphans()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, summary = bench(args, run_dir)
    finally:
        try:
            _reap_all()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump({"perfbench": summary, "result": result}, f, indent=1)
    print(json.dumps({"perfbench": summary}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
