"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15

A run generates the workload's inputs from ``--seed`` (cached under
``.perfbench_work/`` at the checkout root), then starts sessions one after
another until ``--seconds`` of timed work is done. Each session is a fresh
process with a fresh host-sized Spark session, as a CLI user gets: set-up
(imports, JVM launch, session, first job) is timed as ``setup_s``, then one
iteration is timed from input to a committed result, then its outputs are
counted and checked outside the timed region. The run reports the medians
over its sessions.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (BENCHMARK.json's end_to_end metrics with
``--trace 0``, its per_layer metrics with ``--trace 1``). A traced run is a
single session: one cold iteration, one warm untraced iteration, then the
workload's layers one call at a time under spans and job groups; spans are
written to ``.perfbench_work/spans/``. ``--workload all`` runs every
workload and prints one row per workload; it exits non-zero if any output
check fails.
"""

from __future__ import annotations

import time

# set-up is timed from process start: imports count, as they do for a CLI user
T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
# the program's env knobs; unset so every run measures the defaults
PROGRAM_KNOBS = ("SPARK_GRAFT_EXTRA_CONF", "SPARK_GRAFT_PREFER_SMJ",
                 "SPARK_GRAFT_ADVISORY_PARTITION",
                 "SPARK_GRAFT_MAX_PARTITION_BYTES", "KG_MOCK_FAIL",
                 "KG_MOCK_FAIL_IF_CHUNK_GT", "KG_MOCK_SLEEP_PER_CHUNK",
                 "KG_MOCK_SLEEP_AST", "KG_MOCK_FAIL_ONCE")
LAYERS = ["sources", "routing", "extract", "pipeline", "linking", "cc",
          "manifests", "board"]


def host_env() -> dict:
    """Pin a host-sized environment before the JVM starts: local[cores],
    driver heap a quarter of physical RAM (1-8 GiB), every scratch file
    inside the work dir, console progress off."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:"))
    heap_mb = min(max(mem_kb // 4096, 1024), 8192)
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    for k in PROGRAM_KNOBS:
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    return {
        "master": f"local[{cpus}]",
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            # no hsperfdata file: HotSpot would write it to /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        },
    }


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched and the Python workers under
    it, and wait until every one of them has exited."""
    from pyspark import SparkContext

    from tracing import descendants
    pids = descendants(os.getpid())
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 60
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def session(name: str, seed: int, traced: bool, canary: bool) -> dict:
    """One fresh Spark session: set-up, one timed iteration, its checks;
    with ``traced``, then a warm iteration and the traced layer drive."""
    import contextlib

    import workloads
    from tracing import RssSampler, StatusStore, cpu_canary

    wl = workloads.WORKLOADS[name](WORK, seed)  # inputs are cached by now
    conf = host_env()
    res: dict = {"attempted": 0, "failed": 0, "errors": []}

    def iterate(store, rss) -> float:
        """One iteration, timed; its outputs are counted and checked after."""
        group = f"iteration{res['attempted']}"
        res["attempted"] += 1
        if rss is not None:
            rss.reset()
        with store.group(group):
            t0 = time.perf_counter()
            out = wl.iteration()
            dt = time.perf_counter() - t0
        if rss is not None:
            res["peak_rss_mb"] = rss.peak_mb()
        res["items"] = wl.items(out)
        errs = wl.check(out, first=res["attempted"] == 1)
        if errs:
            res["failed"] += 1
            res["errors"].extend(errs)
        res["shuffle_mb"] = store.read(group)["shuffle_mb"]
        return dt

    # RSS is a per-layer metric: sample /proc only in traced sessions
    with RssSampler() if traced else contextlib.nullcontext() as rss:
        from smart_pdf_md_spark.session import build_session
        spark = build_session(app_name=f"perfbench-{name}",
                              master=conf["master"],
                              extra_conf=conf["extra_conf"])
        try:
            wl.start(spark)
            spark.range(1000).count()  # first job: executors are up
            res["setup_s"] = time.perf_counter() - T_PROCESS
            store = StatusStore(spark)
            res["wall_s"] = iterate(store, rss)
            if canary:
                res["canary_cpu_s"] = cpu_canary(spark)
            if traced:
                warm = iterate(store, rss)
                tr = workloads.Tracer(spark)
                layer, errs = wl.trace(tr)
                res["attempted"] += 1
                res["failed"] += bool(errs)
                res["errors"].extend(errs)
                layer.update(workloads.group_metrics(tr, LAYERS))
                layer.update({
                    "host.canary_cpu_s": res.get("canary_cpu_s", 0.0),
                    "host.peak_rss_mb": res["peak_rss_mb"],
                    "trace.cold_wall_s": res["wall_s"],
                    "trace.untraced_wall_s": warm,
                    "trace.overhead_s": layer["trace.traced_wall_s"] - warm,
                })
                res["layer"] = layer
                write_spans(name, seed, tr)
        except Exception:  # reported as a failed attempt, not a crash
            res["attempted"] = max(res["attempted"], 1)
            res["failed"] += 1
            res["errors"].append(traceback.format_exc(limit=4))
        finally:
            stop_spark(spark)
            shutil.rmtree(os.path.join(WORK, "runs", f"{name}_{os.getpid()}"),
                          ignore_errors=True)
    return res


def write_spans(name: str, seed: int, tr) -> None:
    """Spans and per-call stage metrics, written once at the end."""
    d = os.path.join(WORK, "spans")
    os.makedirs(d, exist_ok=True)
    self_times = tr.spans.self_times()
    with open(os.path.join(d, f"{name}_s{seed}.json"), "w") as f:
        json.dump({"spans": tr.spans.export(), "calls": tr.calls,
                   "self_s": self_times}, f, indent=1, default=str)
    top = sorted(self_times.items(), key=lambda kv: -kv[1])[:5]
    print(f"[perfbench] {name}: largest self times "
          + ", ".join(f"{k}={v:.2f}s" for k, v in top), file=sys.stderr)


def run(name: str, seed: int, seconds: float, traced: bool) -> dict:
    """Sessions back to back (closed loop) until ``seconds`` of timed work."""
    import workloads
    workloads.WORKLOADS[name](WORK, seed)  # generate and cache the inputs
    sessions: list[dict] = []
    while not sessions or (not traced and not sessions[-1]["failed"] and sum(
            s["wall_s"] for s in sessions) < seconds):
        cmd = [sys.executable, os.path.abspath(__file__), "--session",
               "--workload", name, "--seed", str(seed),
               "--trace", str(int(traced)), "--canary", str(int(not sessions))]
        # own process group, so a hung session takes its JVM and Python
        # workers down with it
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=170)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise RuntimeError(f"{name}: session timed out") from None
        try:
            sessions.append(json.loads(out.strip().splitlines()[-1]))
        except (IndexError, json.JSONDecodeError) as e:
            raise RuntimeError(f"{name}: session exited {proc.returncode} "
                               f"without a result") from e
    for s in sessions:
        for e in s["errors"]:
            print(f"[perfbench] {name}: check failed: {e}", file=sys.stderr)
    done = [s for s in sessions if "wall_s" in s]
    print(f"[perfbench] {name} seed={seed}: "
          f"setup_s={[round(s['setup_s'], 3) for s in done]} "
          f"wall_s={[round(s['wall_s'], 3) for s in done]} "
          f"host.canary_cpu_s={sessions[0].get('canary_cpu_s', 0.0):.3f}",
          file=sys.stderr)

    def median(key: str) -> float:
        return statistics.median(s[key] for s in done) if done else 0.0

    wall = median("wall_s")
    values = sessions[0].get("layer", {}) if traced else {
        "setup_s": median("setup_s"),
        "wall_s": wall,
        "triples_per_s": median("items") / wall if wall else 0.0,
        "shuffle_mb": median("shuffle_mb"),
    }
    return {"attempted": sum(s["attempted"] for s in sessions),
            "failed": sum(s["failed"] for s in sessions), "values": values}


def run_all(args, spec: dict) -> int:
    """Every workload in turn; one row per workload."""
    metrics = spec["end_to_end"]
    print("workload".ljust(15) + "".join(
        f"{m['name']}[{m['unit']}]".rjust(26) for m in metrics)
        + "err_rate".rjust(10))
    bad = False
    for w in spec["workloads"]:
        try:
            res = run(w["name"], args.seed, args.seconds, traced=False)
        except RuntimeError as e:
            print(f"{w['name'].ljust(15)}failed: {e}")
            bad = True
            continue
        bad |= res["failed"] > 0
        print(w["name"].ljust(15) + "".join(
            f"{res['values'][m['name']]:.4f}".rjust(26) for m in metrics)
            + f"{res['failed'] / res['attempted']:.4f}".rjust(10))
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--session", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--canary", type=int, default=1, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "smart_pdf_md_spark")):
        print("perfbench: smart_pdf_md_spark not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    spec = load_spec()
    sys.path[:0] = [ROOT, HERE]
    if args.workload == "all":
        return run_all(args, spec)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}",
              file=sys.stderr)
        return 2
    if args.session:
        print(json.dumps(session(args.workload, args.seed, bool(args.trace),
                                 bool(args.canary))), flush=True)
        return 0
    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    declared = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": float(res["values"].get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in declared}
    correct = res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}),
          flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
