"""Benchmark of the filter and dedup jobs, one workload per invocation.

    python3 perfbench/run.py --workload filter_fresh --seed 7 --seconds 15 --trace 0

Run from the repository root. Workloads (see BENCHMARK.json):

- ``filter_fresh``: ``jobs/quality_filter_job.py`` over webtext pages into
  an empty output dir;
- ``dedup_minhash``: ``jobs/dedup_job.py --method minhash`` over webtext
  bodies with planted exact (20%) and near (10%) duplicates.

An invocation makes its input from ``--seed`` (cached on disk by seed and
size), then starts the run as a fresh process (``child.py``): session,
warm-up calls of the job's ``main`` on a separate input, then timed calls
of ``main`` on the seeded input, one after another, each into an empty
output dir: as many as fit in ``--seconds`` at a nominal call time per
workload, at least three. The job runs at local[nproc] with a 2g JVM
heap; see ``host.py``.

``--trace 0`` prints the end-to-end metrics: ``docs_per_s`` (input docs
÷ wall of a call, the median over the run's calls), ``setup_s`` (process
start → session ready → warm-up done) and ``peak_rss_mb`` (peak RSS of
the run's process tree during the timed calls). ``--trace 1`` makes the
same calls, then replays the job with spans in the same process and
prints the per-layer metrics; spans go to the run's ``spans.jsonl``. The
output of every call is checked; a failed check or a job that raises
counts as a failed call. The last stdout line is the result JSON; the
line before it is the full run record, which carries the host
fingerprint. Records with different ``fingerprint.id`` values are never
compared or pooled.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import checks
import host
import inputs
from child import FILTER_RUN_ID

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")

# Files of the program under test; without them the benchmark refuses to run.
PROGRAM = ("xdan_dqa_spark/session.py", "jobs/quality_filter_job.py",
           "jobs/dedup_job.py", checks.GOLDEN)

# Docs in the input of each timed call and of each warm-up call. What the
# warm-up calls have to warm is mostly per call (planning, the job's
# driver-side code), so a small warm-up input does it for less time.
CALL_DOCS = {"filter_fresh": 2000, "dedup_minhash": 4000}
WARM_DOCS = {"filter_fresh": 1000, "dedup_minhash": 2000}

# Nominal seconds of one warm call, on a 4-vCPU host. A run makes
# max(MIN_CALLS, --seconds / NOMINAL_CALL_S) timed calls, so a given
# --seconds always means the same work, however fast the host is today.
NOMINAL_CALL_S = {"filter_fresh": 5.0, "dedup_minhash": 3.5}
MIN_CALLS = 3

# A whole invocation must end within DEADLINE_S seconds; no timed call
# starts later than LAST_START_S after it began (the traced replay and the
# layer suite still follow in traced mode).
DEADLINE_S = 170
LAST_START_S = {"timed": 110, "traced": 75}


def metric_units(kind: str) -> dict[str, str]:
    """Metric name → unit for "end_to_end" or "per_layer", from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def prepare_inputs(workload: str, seed: int) -> dict:
    cache = os.path.join(WORK, "inputs")
    make = inputs.dedup_docs if workload == "dedup_minhash" else inputs.webtext
    path, meta = make(cache, CALL_DOCS[workload], seed)
    warm, _ = make(cache, WARM_DOCS[workload], inputs.WARM_SEED)
    return {"input": path, "warm_input": warm, "docs": meta["docs"], "input_meta": meta}


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap(pids: set[int]) -> None:
    """Stop every process the run started and wait until each has ended."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        live = [p for p in pids if _alive(p)]
        for p in live:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + wait_s
        while live and time.monotonic() < end:
            time.sleep(0.05)
            live = [p for p in live if _alive(p)]
        if not live:
            return


def run_child(cfg: dict, env: dict, deadline: float) -> tuple[dict | None, host.PeakSampler, float]:
    """Start child.py in a fresh process and sample its tree until it exits.
    Returns (child result or None if it failed, sampler, spawn time)."""
    cfg_path = os.path.join(cfg["dir"], f"{cfg['mode']}.json")
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(os.path.join(cfg["dir"], f"{cfg['mode']}.log"), "w") as log:
        t_spawn = time.monotonic()
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), cfg_path],
                                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = host.PeakSampler(proc.pid)
        with sampler:
            try:
                code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                code = proc.wait()
    _reap({p for _, marks in sampler.samples for p in marks} - {os.getpid()})
    if code != 0 or not os.path.exists(cfg["result"]):
        return None, sampler, t_spawn
    with open(cfg["result"]) as f:
        return json.load(f), sampler, t_spawn


def check_output(workload: str, out: str, prep: dict, seed: int) -> list[str]:
    try:
        if workload == "dedup_minhash":
            return checks.dedup_output(out, prep["input"])
        return checks.filter_output(ROOT, out, prep["input"], FILTER_RUN_ID, seed)
    except Exception as e:  # an unreadable or missing output is a failed run
        return [f"output check raised {e!r}"]


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(CALL_DOCS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    t_begin = time.monotonic()
    deadline = t_begin + DEADLINE_S

    missing = [f for f in PROGRAM if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: program files missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    env = host.run_env(ROOT, WORK)
    prep = prepare_inputs(args.workload, args.seed)
    inv = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(inv, ignore_errors=True)
    os.makedirs(inv)

    mode = "traced" if args.trace else "timed"
    cfg = dict(prep, root=ROOT, workload=args.workload, mode=mode, dir=inv,
               calls=max(MIN_CALLS, round(args.seconds / NOMINAL_CALL_S[args.workload])),
               last_start=t_begin + LAST_START_S[mode],
               work=os.path.join(inv, "work"), out=os.path.join(inv, "out"),
               traced_out=os.path.join(inv, "out", "traced"),
               result=os.path.join(inv, "result.json"),
               spans=os.path.join(inv, "spans.jsonl"),
               sql_nodes=os.path.join(inv, "sql_nodes.jsonl"))
    os.makedirs(cfg["work"])
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "fingerprint": host.fingerprint(env),
              "input": prep["input_meta"], "input_prep_s": time.monotonic() - t_begin,
              "log": os.path.join(inv, f"{mode}.log")}
    res, sampler, t_spawn = run_child(cfg, env, deadline)

    metrics: dict[str, dict] = {}
    if res is None:
        record["problems"] = ["the run's process failed; see its log"]
        attempted = failed = 1
    else:
        record["java"] = res["java"]
        record["session_start_s"] = res["t_session"] - t_spawn
        record["setup_s"] = res["t_setup"] - t_spawn
        t0, t1 = res["calls"][0]["t0"], res["calls"][-1]["t1"]
        calls = []
        for c in res["calls"]:
            calls.append({"s": c["t1"] - c["t0"],
                          "problems": check_output(args.workload, c["out"], prep, args.seed)})
            shutil.rmtree(c["out"], ignore_errors=True)
        record["calls"] = calls
        good = [prep["docs"] / c["s"] for c in calls if not c["problems"]]
        record["docs_per_s"] = statistics.median(good) if good else None
        record["peak_rss_mb"] = sampler.peak_mib(t0, t1)
        record["peak_rss_mb_by_command"] = sampler.peak_by_command_mib(t0, t1)
        record["processes"] = len(sampler.peaks_kb(t0, t1))
        record["rss_samples"] = sum(t0 <= t <= t1 for t, _ in sampler.samples)
        record.update(sampler.cpu_in(t0, t1))
        attempted, failed = len(calls), sum(bool(c["problems"]) for c in calls)
        if args.trace:
            traced = check_output(args.workload, cfg["traced_out"], prep, args.seed)
            record["traced_problems"] = traced
            attempted += 1
            failed += bool(traced)
            record["traced_wall_s"] = res["traced_wall"]
            record["layers"] = res["layers"]
            record["job_unattributed_s"] = res["job_unattributed_s"]
            record["spans"], record["sql_nodes"] = cfg["spans"], cfg["sql_nodes"]
        if not failed:
            units = metric_units("per_layer" if args.trace else "end_to_end")
            if args.trace:
                values = dict.fromkeys(units, 0.0)
                values.update(res["layers"])
                values["session.start_s"] = record["session_start_s"]
                values["job.unattributed_s"] = res["job_unattributed_s"]
                values["trace.docs_per_s_ratio"] = (
                    prep["docs"] / res["traced_wall"]) / record["docs_per_s"]
                record["layers_measured"] = sorted(set(res["layers"]) | {
                    "session.start_s", "job.unattributed_s", "trace.docs_per_s_ratio"})
            else:
                values = {k: record[k] for k in ("docs_per_s", "setup_s", "peak_rss_mb")}
            metrics = {k: {"value": float(values[k]), "unit": u} for k, u in units.items()}
    shutil.rmtree(cfg["out"], ignore_errors=True)
    shutil.rmtree(cfg["work"], ignore_errors=True)
    record["wall_s"] = time.monotonic() - t_begin
    with open(os.path.join(WORK, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(record))
    print(json.dumps({"correct": failed == 0 and bool(metrics), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
