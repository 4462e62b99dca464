"""Benchmark command for spark-docext.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The command generates the
workload's inputs from the seed (cached under .perfbench/), runs the
workload in a fresh process pinned to this host's cores at
local[<nproc>], checks every output, and prints one JSON object as the
last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
measured with tracing off; each such run is appended, with the host
record, the seed and a digest of the source it ran, to
.perfbench/runs.jsonl. With --trace 1 a traced run in a fresh process
gives the per-layer metrics of BENCHMARK.json, and trace_overhead_frac
against the median wall of the logged untraced runs of the same
workload, seed and source (one untraced run is made first when none is
logged); the spans, switch labels and host record are written to
.perfbench/trace/<workload>-s<seed>.json.

Environment: SPARK_DRIVER_MEM (default 3g) sets the driver heap. The
session's own 24g default does not fit a small host.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from tracing import descendants  # noqa: E402

WORKLOADS = ("pipeline_recrawl", "registry")
REQUIRED = ("document_ai_spark/session.py", "__spark_entry__.py",
            "scripts/check_oracle.py")
STATE = ".perfbench"
RUNS_LOG = os.path.join(STATE, "runs.jsonl")
# the source a run executes: the package, the registry entry module, the
# oracle scripts and the benchmark itself
SOURCE = ("document_ai_spark", "__spark_entry__.py", "scripts",
          os.path.relpath(HERE))


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_record(cpus: list[int]) -> dict:
    """Host facts recorded beside every run so drift is visible: the
    core count, RAM, and a single-thread kernel probe with no Spark."""
    from document_ai_spark.datagen import gen_rows
    from document_ai_spark.kernel.extract import extract_document

    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    pages = [r.html for r in gen_rows(200, seed=0, clean_paras=(8, 25))]
    t0 = time.perf_counter()
    for p in pages:
        extract_document(p)
    probe = (time.perf_counter() - t0) * 1e6 / len(pages)
    return {"nproc": len(cpus), "cpus": cpus, "ram_gb": mem_kb / 2**20,
            "kernel_probe_us_per_doc": probe}


def code_revision() -> str:
    """Digest of every file of SOURCE, so that logged runs of other code
    are never compared with this one."""
    files = []
    for root in SOURCE:
        if os.path.isfile(root):
            files.append(root)
        for d, dirs, names in os.walk(root):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            files += sorted(os.path.join(d, n) for n in names
                            if not n.endswith(".pyc"))
    h = hashlib.sha256()
    for path in files:
        with open(path, "rb") as f:
            h.update(path.encode() + b"\0" + f.read() + b"\0")
    return h.hexdigest()[:16]


def start_time(pid: int) -> str | None:
    """Start time of a running process; None once it has ended (a zombie
    has ended too)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == "Z" else fields[19]


def end_tree(seen: dict[int, str], grace_s: float) -> None:
    """Wait until every process seen in a worker's tree has ended. The
    JVM outlives the worker by a few seconds; whatever still runs after
    `grace_s` is killed."""
    deadline = time.monotonic() + grace_s
    while alive := [p for p, st in seen.items() if start_time(p) == st]:
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.2)


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def run_worker(workload: str, inputs: str, seed: int, seconds: float,
               cpus: list[int],
               trace_dir: str | None) -> tuple[dict, float]:
    """Run worker.py in a fresh process pinned to `cpus`; return its
    result and the peak RSS of its process tree in MB: the largest sum,
    over 0.5 s samples, of VmHWM of the tree's live processes."""
    work = os.path.abspath(os.path.join(STATE, "work", workload))
    tmp = os.path.abspath(os.path.join(STATE, "tmp"))
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(os.path.join(tmp, "local"))
    out = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(len(cpus)),
        "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM", "3g"),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            [os.getcwd()] + ([env["PYTHONPATH"]]
                             if env.get("PYTHONPATH") else [])),
    })
    cmd = ["taskset", "-c", ",".join(map(str, cpus)), sys.executable,
           os.path.join(HERE, "worker.py"), "--workload", workload,
           "--inputs", inputs, "--work", work, "--seconds", str(seconds),
           "--seed", str(seed), "--out", out]
    if trace_dir:
        cmd += ["--trace-dir", trace_dir]
    peak_kb = 0
    seen: dict[int, str] = {}
    log_path = os.path.join(STATE, f"worker-{workload}.log")
    with open(log_path, "wb") as wlog:
        proc = subprocess.Popen(cmd, env=env, stdout=wlog, stderr=wlog)
        try:
            while proc.poll() is None:
                # peaks of the processes alive together: Python workers
                # that exited before others forked never shared memory
                tree = [proc.pid, *descendants(proc.pid)]
                peak_kb = max(peak_kb, sum(vm_hwm_kb(p) for p in tree))
                for p in tree:
                    st = start_time(p)
                    if st is not None:
                        seen.setdefault(p, st)
                time.sleep(0.5)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
            end_tree(seen, grace_s=30 if proc.returncode == 0 else 0)
    if proc.returncode != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise RuntimeError(f"worker exited with {proc.returncode}; "
                           f"log in {log_path}")
    with open(out) as f:
        res = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    return res, peak_kb / 1024


def declared(kind: str) -> list[dict]:
    """The metrics BENCHMARK.json declares under `kind`."""
    with open("BENCHMARK.json") as f:
        return json.load(f)[kind]


def end_to_end(res: dict, rss_mb: float) -> dict:
    """docs_per_s is the pages the workload extracts over the wall of the
    calls that extract them: the whole pipeline call, or the registry's
    two extraction leaves."""
    calls = res["calls"]
    got = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(c["wall_s"] for c in calls),
        "docs_per_s": statistics.median(c["docs"] / c["docs_wall_s"]
                                        for c in calls),
        "peak_rss_mb": rss_mb,
    }
    return {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
            for m in declared("end_to_end")}


def per_layer(res: dict, untraced_wall: float) -> dict:
    """Metrics of a layer the workload does not run print as 0."""
    got = res.get("layer_metrics", {})
    traced = statistics.median(c["wall_s"] for c in res["calls"])
    got["trace_overhead_frac"] = traced / untraced_wall - 1
    return {m["name"]: {"value": float(got.get(m["name"], 0.0)),
                        "unit": m["unit"]} for m in declared("per_layer")}


def record_run(entry: dict) -> None:
    """Append one untraced run to the checkout's run log, host record
    included, so host drift shows beside the numbers it affected."""
    with open(RUNS_LOG, "a") as f:
        f.write(json.dumps(entry) + "\n")


def untraced_walls(key: dict) -> list[float]:
    """Walls of the logged untraced runs that match `key`: workload,
    size, seed and source digest."""
    try:
        with open(RUNS_LOG) as f:
            runs = [json.loads(line) for line in f]
    except FileNotFoundError:
        return []
    return [r["metrics"]["wall_s"]["value"] for r in runs
            if all(r.get(k) == v for k, v in key.items())]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=sorted(gen.SIZES), default="full",
                    help="input size; 'tiny' is for the self-test")
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        log(f"not a spark-docext checkout (missing {', '.join(missing)}); "
            "run from the repository root")
        return 2
    sys.path.insert(0, os.getcwd())
    cpus = sorted(os.sched_getaffinity(0))
    host = host_record(cpus)
    log(f"host {json.dumps(host)}")

    t0 = time.perf_counter()
    inputs, stats = gen.generate(args.workload, args.seed, args.size,
                                 os.path.abspath(os.path.join(STATE,
                                                              "inputs")))
    log(f"inputs {inputs} {json.dumps(stats)} "
        f"gen_s={time.perf_counter() - t0:.2f} (harness set-up, untimed)")

    attempted = failed = 0
    key = {"workload": args.workload, "size": args.size, "seed": args.seed,
           "code": code_revision()}
    # a traced run compares against the median of the untraced runs this
    # checkout already made of the same key, and makes one first when
    # there is none
    if not args.trace or not untraced_walls(key):
        res, rss = run_worker(args.workload, inputs, args.seed,
                              args.seconds, cpus, None)
        metrics = end_to_end(res, rss)
        attempted += sum(c["ops"] for c in res["calls"])
        failed += sum(c["failed"] for c in res["calls"])
        log(f"untraced calls {[round(c['wall_s'], 3) for c in res['calls']]}")
        if "export_digest" in res:
            log(f"export digest {res['export_digest']}")
        record_run({**key, "host": host, "failed": failed,
                    "metrics": metrics})
    if args.trace:
        trace_dir = os.path.abspath(os.path.join(STATE, "trace", "run"))
        shutil.rmtree(trace_dir, ignore_errors=True)
        tres, _ = run_worker(args.workload, inputs, args.seed, args.seconds,
                             cpus, trace_dir)
        attempted += sum(c["ops"] for c in tres["calls"])
        failed += sum(c["failed"] for c in tres["calls"])
        base = statistics.median(untraced_walls(key))
        metrics = per_layer(tres, base)
        artifact = os.path.join(STATE, "trace",
                                f"{args.workload}-s{args.seed}.json")
        with open(artifact, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host": host, "untraced_median_wall_s": base,
                       "setup_s": tres["setup_s"], "per_layer": metrics,
                       "labels": tres.get("labels", {}),
                       "spans": tres.get("spans", [])},
                      f, indent=1, default=str)
        shutil.rmtree(trace_dir, ignore_errors=True)
        log(f"labels {json.dumps(tres.get('labels', {}))}; "
            f"trace in {artifact}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
