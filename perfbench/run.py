#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload nport_batch --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout; `build.py` compiles the engine and
the benchmark runner first when their sources changed. The inputs are
generated from the seed, one JVM runs the workload at local[4], every
output is checked against its DuckDB oracle, and the last line of stdout is
one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer ones.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import gen  # noqa: E402
import metrics  # noqa: E402
from build import ROOT, build, fail, spark_jars  # noqa: E402

RUN_LIMIT_S = 180
FIRST_RUN_LIMIT_S = 900  # a run that had to compile first
MARGIN_S = 25  # oracle check and clean-up after the JVM exits
STAGE_ROOT = Path("/tmp/graft_stage")  # where the engine stages its tables
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def clean_stages(inputs: Path) -> None:
    """Removes the staging the engine built from `inputs`. The engine keys
    its stage directories on the input path, so they end in its sanitized
    form; a run removes them before set-up (set-up is cold) and after."""
    key = re.sub(r"[^A-Za-z0-9.]", "_", str(inputs))
    for p in [*STAGE_ROOT.glob(f"*{key}"), *STAGE_ROOT.glob(f"*{key}.lock")]:
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        else:
            p.unlink(missing_ok=True)


def run_jvm(classes: Path, jars: Path, args, inputs: Path, out: Path, deadline: float) -> None:
    work = out / "work"
    (work / "tmp").mkdir(parents=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark"))
    cmd = (["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            # the fixture server answers each request in one segment
            "-Dsun.net.httpserver.nodelay=true"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{jars}/*", "graft.perfbench.Main",
              "--workload", args.workload, "--input", str(inputs), "--out", str(out),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    log = out / "jvm.log"
    with log.open("w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT, env=env,
                               timeout=max(deadline - time.time(), 1))
        except subprocess.TimeoutExpired:
            fail("workload timed out")
    if r.returncode != 0 or not (out / "result.json").exists():
        print(log.read_text()[-4000:], file=sys.stderr)
        fail(f"workload JVM exited with {r.returncode}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    t0 = time.time()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    jars = spark_jars()
    classes, built = build(jars)
    limit = FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S
    run_dir = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = run_dir / "input"
    try:
        clean_stages(inputs)
        props = gen.generate(args.workload, args.seed, inputs)
        t1 = time.time()
        run_jvm(classes, jars, args, inputs, run_dir, t0 + limit - MARGIN_S)
        t2 = time.time()
        raw = json.loads((run_dir / "result.json").read_text())
        failed = raw["failed"] + metrics.oracle_failures(
            metrics.load_check(ROOT), inputs, run_dir / "outputs",
            raw["oracle_sql"], raw["oracle_passes"])
        if args.trace:
            values = metrics.layer_metrics(raw, metrics.read_spans(run_dir / "spans.jsonl"))
            shown = metrics.render(values, spec["per_layer"])
        else:
            shown = metrics.render(metrics.end_to_end(raw, props), spec["end_to_end"])
        print(json.dumps({"inputs": props, "pass_s": raw["pass_s"], "jvm_s": t2 - t1,
                          "check_s": time.time() - t2}), file=sys.stderr)
    finally:
        clean_stages(inputs)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": raw["attempted"],
                      "failed": failed, "metrics": shown}))


if __name__ == "__main__":
    main()
