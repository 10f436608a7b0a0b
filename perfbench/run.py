"""kinbaku_spark benchmark: one seeded workload, one closed-loop client.

Run from the root of a kinbaku_spark checkout:

    python3 perfbench/run.py --workload graph_iterative --seed 1 --seconds 10 --trace 0

The workloads are ``graph_iterative`` and ``online_mixed`` (see
``workloads.py``). Inputs are generated from ``--seed`` at sf 0.002. The
run happens in a fresh child process (``worker.py``) on Spark ``local[2]``
with a 1 GB driver (at this size two task slots are faster than four, and
they leave a 4-vCPU machine room for the driver, JIT and GC threads). This
process counts the child's Spark ERROR log lines, enforces the time limit,
stops every process the child started, and prints:

- one ``receipt`` line: machine, settings, seed, source version, the CPU
  time the host stole from this machine during the run, every
  end-to-end metric, and the workload's own figures (``ops_per_s``, point
  read and write latencies, micro-batch latency, ingest rate, per-query
  medians, ``error_rate``) by name and unit;
- as the last line, one JSON object with ``correct``, ``attempted``,
  ``failed`` and ``metrics``: the end-to-end metrics of ``BENCHMARK.json``
  with ``--trace 0``, its per-layer metrics with ``--trace 1``.

End-to-end metrics (every workload reports every one; a *pass* is the
workload's unit of repeated work, an *op* one call into the engine):

- ``setup_s``: engine imports, plus the cold set-up of a Spark session (JVM
  launch included) and the base tables, plus the workload's preparation;
- ``first_pass_s``: the first pass after set-up (the cold path: derived
  state builds, code generation);
- ``pass_s``: median warm pass;
- ``query_geomean_s``: geometric mean of each query's (op type's, ingest
  function's) median warm time;
- ``peak_rss_mb``: peak resident memory of the Python process plus its JVM.

Traced runs (``--trace 1``) switch Spark's event log on, record a span and
a Spark job group around each call into a layer, alternate traced and
untraced warm passes (``trace.overhead_s`` is the difference of their
medians), and write the spans to ``spans.jsonl`` in the run directory.
Every run leaves its receipt and each timed sample, by query or op type
(``samples.json``), in its run directory under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

from tracing import event_log_args
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
CPUS = "2"
DRIVER_MEM = "1g"
SF = 0.002
SMOKE_SF = 0.001
TIME_LIMIT_S = 170.0
WORK_ROOT = ".bench_work"
_SPARK_ERROR = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def _declared(root: str) -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric units by name, from BENCHMARK.json."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help=f"tiny sizes at sf{SMOKE_SF}, for the self-check")
    return p.parse_args(argv)


def _source_version(root: str) -> str:
    """git HEAD when the checkout is a repository, else a digest of the
    engine's sources."""
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                             text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    for dp, dirs, files in sorted(os.walk(os.path.join(root, "kinbaku_spark"))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dp, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return "src-sha1:" + h.hexdigest()


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    machine's CPUs (0 where ``/proc/stat`` has no steal column). A rise
    during a run means the host, not the engine, slowed it."""
    try:
        with open("/proc/stat") as fh:
            cols = fh.readline().split()
        return int(cols[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the child's process group (its JVM and
    Python workers) and wait until the group is gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "kinbaku_spark", "__init__.py")):
        print("perfbench: no kinbaku_spark package here; run from the root of a "
              "kinbaku_spark checkout", file=sys.stderr)
        return 2
    t_start = time.monotonic()
    steal_start = _steal_s()
    e2e_units, layer_units = _declared(root)
    sf = SMOKE_SF if args.smoke else SF
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.abspath(os.path.join(root, WORK_ROOT, tag))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, sub))
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={work}/tmp"]
    if args.trace:
        submit += event_log_args(os.path.join(work, "eventlog"))
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYSPARK_SUBMIT_ARGS=shlex.join(submit + ["pyspark-shell"]),
        PYTHONUNBUFFERED="1",
        PYTHONHASHSEED="0",
    )
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--sf", str(sf), "--work-dir", work] + (["--smoke"] if args.smoke else [])

    lines: list[str] = []
    error_lines = [0]

    def drain_out(stream):
        for line in stream:
            lines.append(line)

    def drain_err(stream):
        for line in stream:
            if _SPARK_ERROR.match(line):
                error_lines[0] += 1
            sys.stderr.write(line)

    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    readers = [threading.Thread(target=drain_out, args=(proc.stdout,), daemon=True),
               threading.Thread(target=drain_err, args=(proc.stderr,), daemon=True)]
    for r in readers:
        r.start()
    try:
        proc.wait(timeout=max(1.0, TIME_LIMIT_S - (time.monotonic() - t_start)))
    except subprocess.TimeoutExpired:
        print("perfbench: run exceeded its time limit", file=sys.stderr)
    finally:
        _stop_group(proc)
        for r in readers:
            r.join(timeout=10)
    for sub in ("data", "state", "tmp", "spark-local", "eventlog"):
        shutil.rmtree(os.path.join(work, sub), ignore_errors=True)

    result = None
    for line in reversed(lines):
        if line.startswith("{"):
            result = json.loads(line)
            break
    if proc.returncode != 0 or result is None:
        print(f"perfbench: worker failed (exit {proc.returncode})", file=sys.stderr)
        return 1

    for err in result["errors"]:
        print(f"perfbench: {err}", file=sys.stderr)
    attempted, failed = result["attempted"], result["failed"]
    e2e = result["e2e"]
    report = {k: [e2e[k], u] for k, u in e2e_units.items()}
    report.update(result["report"])
    report["error_rate"] = [failed / attempted if attempted else 1.0, "ratio"]
    receipt = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": sf, "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": CPUS, "SPARK_DRIVER_MEM": DRIVER_MEM,
        "source": _source_version(root),
        "passes": "one cold pass after set-up, then warm passes (graph_iterative: "
                  "the first two unrecorded)",
        "session_tables_s": result["session_tables_s"], "import_s": result["import_s"],
        "prep_s": result["prep_s"],
        "warm_pass_s": result["warm_pass_s"],
        "workload_run_s": result["run_s"], "worker_wall_s": result["wall_s"],
        "total_wall_s": time.monotonic() - t_start,
        "host_steal_s": _steal_s() - steal_start,
        "spark_error_log_lines": error_lines[0],
        "metrics": report,
    }
    with open(os.path.join(work, "receipt.json"), "w") as fh:
        json.dump(receipt, fh, indent=1)
    print(json.dumps({"receipt": receipt}))

    if args.trace:
        # a layer the workload never calls reports 0
        layer = dict(result["layer"], **{"spark.error_log_lines": error_lines[0]})
        metrics = {k: {"value": layer.get(k, 0), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
