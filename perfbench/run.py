"""The repository benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload stream_consume --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates the workload's inputs from
``--seed``, then runs fresh worker processes (``worker.py``) one after the
other, a closed loop with a single client, until the timed work adds up to
``--seconds`` (at least one worker). Each worker sets up a session, runs the
workload once, and the first one checks the outputs outside the timed
region.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs one
untraced and one traced worker and prints the per-layer metrics, including
the tracing overhead. The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The line before it stamps
the host. The full record (every worker, every span) is written to
``.perfbench/out/``.

Spark runs on ``local[nproc]`` (``SPARK_GRAFT_CPUS`` = nproc) with the
driver heap pinned to ``SPARK_GRAFT_DRIVER_MEM`` (default 3g; the session's
own default is 48g).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
from workloads import WORKLOAD_NAMES, StreamShape, make_corpus, make_stream  # noqa: E402

#: Files of the program the benchmark calls into; without them it refuses.
REQUIRED = (
    "data_pipeline_with_spark_kafka_spark/run.py",
    "tools/gen_scale_fixtures.py",
    "tests/oracle_compare.py",
)
#: ``--smoke`` input for ``stream_consume`` (``--smoke`` corpus runs take two queries)
SMOKE_STREAM = StreamShape(files=3, events_per_file=300, late_per_file=3)
#: A worker that runs longer than this is killed and the run fails.
WORKER_TIMEOUT_S = 150
#: No further worker starts once a run has taken this long.
RUN_BUDGET_S = 100


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="timed work to measure, at least one repetition")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(repo, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {', '.join(missing)}", file=sys.stderr)
        return 2

    started = time.monotonic()
    base = os.path.join(repo, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    host = metrics.host_stamp()
    try:
        record = run_workload(args, repo, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host["load_avg_1m_end"] = os.getloadavg()[0]
    # share of the busy CPU time the hypervisor stole, per worker
    host["steal_frac"] = [w["steal_frac"] for w in record["workers"]]
    record["host"] = host
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for w in record["workers"]:
        for failure in w.get("failures", []):
            print(f"perfbench: FAILED {failure}", file=sys.stderr)
    if record.get("error"):
        print(f"perfbench: {record['error']}", file=sys.stderr)
        return 1
    print(json.dumps({"host": host}))
    print(json.dumps(record["summary"]))
    return 0


def run_workload(args: argparse.Namespace, repo: str, work: str, started: float) -> dict:
    corpus = make_corpus(os.path.join(work, "corpus"), args.seed, repo)
    spec = {
        "repo": repo,
        "workload": args.workload,
        "corpus_dir": corpus["dir"],
        "input_rows": corpus["input_rows"],
        "cores": metrics.cores(),
        "smoke": args.smoke,
    }
    if args.workload == "stream_consume":
        shape = SMOKE_STREAM if args.smoke else StreamShape()
        spec["stream"] = make_stream(os.path.join(work, "stream"), args.seed, shape)
        spec["input_rows"] = spec["stream"]["input_rows"]

    workers: list[dict] = []
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "workers": workers}
    while True:
        i = len(workers)
        # --trace 1: an untraced worker (the overhead baseline), then a traced one
        res = run_worker(dict(spec, trace=bool(args.trace) and i == 1, check=i == 0), work, i)
        if res is None:
            record["error"] = f"worker {i} failed; the end of its log is above"
            return record
        workers.append(res)
        if args.trace:
            done = len(workers) == 2
        else:
            timed = sum(w["run_s"] for w in workers)
            done = timed >= args.seconds or time.monotonic() - started > RUN_BUDGET_S
        if done:
            break
    record["summary"] = metrics.summarize(workers, traced=bool(args.trace))
    record["wall_s"] = time.monotonic() - started
    return record


def run_worker(spec: dict, work: str, index: int) -> dict | None:
    """Run one worker process to completion; returns its result, or None
    if it crashed or timed out. Every process it started is gone after."""
    spec_path = os.path.join(work, f"worker{index}.json")
    spec["work_dir"] = os.path.join(work, f"w{index}")
    spec["result"] = os.path.join(work, f"worker{index}.result.json")
    os.makedirs(os.path.join(spec["work_dir"], "tmp"))
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(filter(None, [spec["repo"], os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(spec["cores"]),
        SPARK_GRAFT_DRIVER_MEM=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "3g"),
        SPARK_LOCAL_DIRS=os.path.join(spec["work_dir"], "tmp"),
        TMPDIR=os.path.join(spec["work_dir"], "tmp"),
    )
    env.pop("SPARK_GRAFT_STATE_STORE", None)
    t0 = time.monotonic()
    with open(os.path.join(work, f"worker{index}.log"), "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
            cwd=spec["work_dir"], env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _reap_group(proc)
    if code != 0 or not os.path.exists(spec["result"]):
        with open(os.path.join(work, f"worker{index}.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        return None
    with open(spec["result"]) as f:
        result = json.load(f)
    result["worker_wall_s"] = time.monotonic() - t0
    return result


def _reap_group(proc: subprocess.Popen, timeout: float = 20.0) -> None:
    """Kill what is left of a worker's process group (the worker leads it)
    and wait until all of it is gone."""
    pgid = proc.pid
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


if __name__ == "__main__":
    sys.exit(main())
