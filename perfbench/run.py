#!/usr/bin/env python3
"""Benchmark entry point.

Builds the program from source, generates seeded inputs, runs one workload
in a fresh single-process `local[4]` JVM, checks every operation's outputs
and prints the metrics as one JSON object on the last line of stdout:

  python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Run it from the repository root. `--trace 0` prints the end-to-end metrics
named in BENCHMARK.json, `--trace 1` the per-layer ones. Exit code 0 means
every output was correct; 1 means some output was wrong (the JSON line is
still printed); 2 means the program could not be built; 3 means the run
itself failed or timed out (no JSON line).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path
from typing import List, NamedTuple, Optional

sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import verify  # noqa: E402

# The query lines of the `queries` workload, in pass order. g20 runs label
# propagation and the modularity merge fixed point (GraphOps pass loops)
# under a Tuning profile; d7 reads the Memo substrate d2 builds (MinHash
# pairs) and is a connected-components pass loop; f1b is a native text
# function; a12 (percentiles over lineitem) is the executor-bound control.
QUERIES = ("g20_weighted_modularity", "d2_verified_pairs", "d7_dedup_clusters",
           "f1b_fix_mojibake", "a12_percentiles")


class Workload(NamedTuple):
    sf: float                 # scale factor of the generated inputs
    docs: Optional[int]       # documents, when not the scale factor's count
    opts: List[str]           # driver options


# Sizes fit 4 + 22 runs per workload into a 3420 s time budget. At
# sf0.05 the pipeline's `tracks` asset is still executor-bound (on a
# 4-vCPU VM: 4.5 s of a 15 s DAG at sf0.1, 1.4 s of 10 s at sf0.01). The
# queries workload keeps the document corpus at 300 rows: the DuckDB
# oracles of the dedup lines grow quadratically with it (on the same VM,
# d7's takes 4.5 s at 500 documents, 47 s at 5000).
WORKLOADS = {
    "pipeline": Workload(0.05, None, []),
    "queries": Workload(0.1, 300, ["queries=" + ",".join(QUERIES)]),
}
RUN_LIMIT_S = 170   # a run must end within 180 s, the build excluded
MIN_OPS = 1         # timed ops per untraced run, after the cold op

# A fixed heap size keeps heap resizing out of the timings; -XX:-UsePerfData
# keeps the JVM from writing its perf-data file outside the checkout.
JVM_OPTS = ["-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + [
    a for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
                "java.nio", "java.util", "java.util.concurrent",
                "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class RunError(RuntimeError):
    pass


def run_driver(classpath, workload, run_dir, seconds, trace, seed, deadline):
    """Runs the JVM driver; returns its records."""
    out = run_dir / "records.jsonl"
    min_ops = 2 if trace else MIN_OPS  # a traced run times a traced op, then a bare one
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={run_dir}", "-cp", os.pathsep.join(classpath),
           "perfbench.Driver", workload, str(run_dir / "data"), str(run_dir), str(out),
           str(seconds), str(trace), str(seed), f"min_ops={min_ops}", *WORKLOADS[workload].opts]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    with open(run_dir / "driver.log", "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not out.is_file():
        tail = (run_dir / "driver.log").read_text(errors="replace")[-3000:]
        raise RunError(f"driver {'timed out' if code is None else f'exited {code}'}:\n{tail}")
    return [json.loads(line) for line in out.read_text().splitlines()]


def failures(workload, recs, data_dir):
    """Mismatches per attempted operation: {op id: [description, ...]}."""
    bad = {o["i"]: [o["error"]] if o["error"] else [] for o in recs["op"]}
    results = {r["op"]: r for r in recs["result"]}
    oracle = recs["oracle"][0]["sql"]
    con = verify.connect(data_dir)
    if workload == "pipeline":
        expected = verify.pipeline_expected(con, oracle)
        funnel = {r["op"]: r for r in recs["funnel"]}

        def check(r):
            return verify.check_pipeline(r, expected) + verify.check_funnel(funnel[r["op"]])
        # the compaction runs after the cold op; a row it lost fails the op after it
        if 1 in bad:
            bad[1].extend(verify.check_compaction(recs["compact"][0]))
    else:
        query_oracle = verify.QueryOracle(con, oracle, QUERIES)

        def check(r):
            return query_oracle.check(r["dir"])
    for i, msgs in bad.items():
        if not msgs:
            msgs.extend(check(results[i]) if i in results else ["no result recorded"])
    return bad


def report(workload, recs, bad, trace, spec):
    """The result object and the exit code for one run."""
    attempted = len(bad)
    failed = sum(1 for msgs in bad.values() if msgs)
    if trace:
        measured = metrics.per_layer(recs, workload)
        # every per-layer metric is printed; a layer this workload never
        # calls spent 0 s and ran 0 jobs in it
        values = {m["name"]: (measured.get(m["name"], (0, m["unit"]))[0], m["unit"])
                  for m in spec["per_layer"]}
    else:
        values = metrics.end_to_end(recs, attempted, failed)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()},
    }
    return result, 0 if failed == 0 else 1


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    try:
        classpath = build.build(root)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())

    deadline = time.monotonic() + RUN_LIMIT_S
    runs = root / ".bench_build" / "perfbench" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    run_dir = runs / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir()
    # a terminated benchmark still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    try:
        w = WORKLOADS[args.workload]
        gen.generate(run_dir / "data", args.seed, w.sf, w.docs)
        records = run_driver(classpath, args.workload, run_dir, args.seconds, args.trace,
                             args.seed, deadline)
        recs = metrics.by_kind(records)
        bad = failures(args.workload, recs, run_dir / "data")
        result, code = report(args.workload, recs, bad, args.trace, spec)
    except RunError as e:
        print(e, file=sys.stderr)
        return 3
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for i, msgs in bad.items():
        for m in msgs:
            print(f"op {i}: {m}", file=sys.stderr)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
