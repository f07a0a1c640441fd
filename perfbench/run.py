#!/usr/bin/env python3
"""Component end-to-end benchmark with per-layer attribution.

    python3 perfbench/run.py --workload etl_sf0005 --seed 1 --seconds 5 --trace 0

Run from the repository root. One run:

 1. builds the program and the harness with sbt (skipped when the sources
    are unchanged since the last build in this checkout);
 2. generates the workload's Keboola data dir from the seed (gen.py);
 3. spawns one JVM (Harness.scala) whose first act is the Keboola job,
    `graft.component.Main <dataDir copy>`: job_s is spawn to the end of
    that job, and its peak RSS is job.peak_rss_mb (a per-layer figure);
 4. the same JVM then measures setup_s, run_s and action_s, and with
    --trace 1 the traced runs behind the per-layer metrics (layers.py);
 5. checks every output digest against the first run and, for the default
    seed, against perfbench/digests.json;
 6. prints a run record line, then the result as the last line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Everything it writes goes under .bench_build/perfbench/ in the checkout.
`--record-digests` stores the default seed's digests after a clean run.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

BUILD = ROOT / ".bench_build" / "perfbench"
DIGESTS = HERE / "digests.json"
DEFAULT_SEED = 0
HEAP = "3g"  # matches the configs' max_memory_mb
# a traced run fails the coverage check when more than this share of it
# lies outside every layer span
UNATTRIBUTED_MAX_SHARE = 0.05
# a run ends within this many seconds after the build, JVMs killed if need be
RUN_BUDGET_S = 170
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- build ------------------------------------------------------------------

def _sources():
    harness = HERE / "harness"
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             harness / "build.sbt", harness / "project" / "build.properties"]
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted((harness / "src").rglob("*"))
    return [f for f in files if f.is_file()]


def build():
    """Compile program and harness; return the harness's runtime classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    stamp = h.hexdigest()
    stamp_file, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp_file.is_file() and stamp_file.read_text() == stamp and cp_file.is_file():
        return cp_file.read_text().strip()
    log("building program and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = BUILD / "logs" / "build.log"
    with open(out, "wb") as f:
        code = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE / "harness", stdout=f, stderr=subprocess.STDOUT, env=env, timeout=840).returncode
    lines = out.read_text(errors="replace").splitlines()
    cp = [ln for ln in lines if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        raise BenchError(f"build failed (exit {code}); see {out}")
    cp_file.write_text(cp[-1].strip())
    stamp_file.write_text(stamp)
    return cp[-1].strip()


# -- processes --------------------------------------------------------------

def run_jvm(classpath, main, args, name, deadline):
    """Run one JVM to completion, killing it at `deadline` (monotonic);
    return its spawn time (epoch seconds) and exit code."""
    tmp, local, cwd = BUILD / "tmp", BUILD / "spark-local", BUILD / "cwd"
    for d in (tmp, local, cwd):
        d.mkdir(parents=True, exist_ok=True)
    cmd = ["java", *ADD_OPENS, f"-Xmx{HEAP}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, main, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(local))
    with open(BUILD / "logs" / f"{name}.out", "wb") as out, \
            open(BUILD / "logs" / f"{name}.err", "wb") as err:
        spawned = time.time()
        proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=err, env=env)
        killer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        killer.start()
        try:
            proc.wait()
        finally:
            killer.cancel()
    return spawned, proc.returncode


def fresh_copy(src, dst):
    """config.json and in/ of a generated data dir, with an empty out/."""
    if dst.exists():
        shutil.rmtree(dst)
    shutil.copytree(src / "in", dst / "in")
    shutil.copy2(src / "config.json", dst / "config.json")
    for d in ("out/tables", "out/files"):
        (dst / d).mkdir(parents=True)


# -- one run ----------------------------------------------------------------

def bench(workload, seed, seconds, trace, record_digests=False):
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise BenchError(f"no program sources at {ROOT}: expected build.sbt and src/main/scala")
    for d in ("logs", "results", "data", "work"):
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    classpath = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    data = BUILD / "data" / workload
    gen.generate(workload, seed, str(data))
    n_inputs = sum(1 for p in (data / "in" / "tables").iterdir() if p.suffix == ".manifest")

    attempted, failures = 0, []
    digests = []          # (what, output digest) of every full run
    record = {"workload": workload, "seed": seed, "trace": trace}

    job_dir = BUILD / "work" / "job"
    fresh_copy(data, job_dir)
    # raw samples and, with --trace 1, every span of the traced runs
    out = BUILD / "results" / f"{workload}-seed{seed}-trace{int(trace)}.harness.json"
    if out.exists():
        out.unlink()
    spawned, code = run_jvm(classpath, "graft.component.perfbench.Harness", [
        "--job", str(job_dir), "--data", str(data), "--work", str(BUILD / "work"),
        "--out", str(out), "--seconds", str(seconds), "--trace", "1" if trace else "0"],
        "harness", deadline)
    shutil.rmtree(job_dir)
    result = json.loads(out.read_text()) if out.is_file() else {}
    if code != 0 or not result.get("ok"):
        attempted += 1
        failures.append(f"harness exited {code}: {result.get('error', 'no result')}")
        return finish(record, attempted, failures, {}, trace)

    job = result["job"]
    job_s = job["end_epoch_s"] - spawned
    record["job"] = {"wall_s": job_s, "peak_rss_mb": job["peak_rss_mb"], "error": job["error"]}
    attempted += 1
    if job["ok"]:
        digests.append(("job", job["digest"]))
    else:
        failures.append(f"job failed: {job['error']}")
    record["session"] = result["record"]
    runs = result["runs"]
    full = [(f"run{i}", r) for i, r in enumerate(runs)]
    full += [(f"paired{i}", r) for i, r in enumerate(result.get("paired", []))]
    full += [(f"traced{i}", r) for i, r in enumerate(result.get("traced", []))]
    attempted += len(full)
    digests += [(what, r["digest"]) for what, r in full]

    rounds = result["warmup_actions"] + result["actions"] + result.get("traced_actions", [])
    action_digests = {a: [] for a in gen.ACTIONS}
    for r in result["warmup_actions"] + result["actions"]:
        for a in gen.ACTIONS:
            action_digests[a].append(r[a]["digest"])
    for r in result.get("traced_actions", []):
        for a in gen.ACTIONS:
            action_digests[a].append(r["digests"][a])
    attempted += len(gen.ACTIONS) * len(rounds)

    # correctness: every run matches the first (and the committed digest
    # for the default seed); every action repeats its answer
    committed = json.loads(DIGESTS.read_text()).get(workload) if DIGESTS.is_file() else None
    expected = digests[0][1] if digests else None
    expected_actions = {a: v[0] for a, v in action_digests.items()}
    if seed == DEFAULT_SEED and committed and not record_digests:
        expected, expected_actions = committed["outputs"], committed["actions"]
    for what, d in digests:
        if d != expected:
            failures.append(f"{what}: output digest {d[:12]} != {expected[:12]}")
    for a, ds in action_digests.items():
        failures += [f"{a}: action digest {d[:12]} != {expected_actions[a][:12]}"
                     for d in ds if d != expected_actions[a]]
    record["digest"] = expected

    probes = result["probes"]
    record["sentinel"] = {"probe_med": stats.median(probes), "probe_max": max(probes),
                          "contaminated": max(probes) > 2 * stats.median(probes) + 0.05}
    setup = [s["build_s"] + s["register_s"] for s in result["setup"]]
    run_walls = [r["wall_s"] for r in runs]
    action_means = [sum(r[a]["s"] for a in gen.ACTIONS) / len(gen.ACTIONS)
                    for r in result["actions"]]
    record["samples"] = {"setup_s": setup, "run_s": run_walls, "action_s": action_means,
                         "run_s_summary": stats.summary(run_walls),
                         "action_s_summary": stats.summary(action_means)}

    if trace:
        bad = layers.coverage_failures(result, UNATTRIBUTED_MAX_SHARE)
        failures += [f"traced{i}: time or jobs outside every layer span" for i in bad]
        per = layers.per_layer(result, gen.THREADS, n_inputs, job_rss_mb=job["peak_rss_mb"])
        return finish(record, attempted, failures, per, trace)

    metrics = {"job_s": job_s, "setup_s": stats.median(setup),
               "run_s": stats.median(run_walls), "action_s": stats.median(action_means)}
    if record_digests:
        if failures or seed != DEFAULT_SEED:
            raise BenchError(f"not recording digests: seed {seed}, failures {failures}")
        stored = json.loads(DIGESTS.read_text()) if DIGESTS.is_file() else {}
        stored[workload] = {"seed": seed, "outputs": expected, "actions": expected_actions}
        DIGESTS.write_text(json.dumps(stored, indent=1, sort_keys=True) + "\n")
    return finish(record, attempted, failures, metrics, trace)


def finish(record, attempted, failures, metrics, trace):
    """The result line; units come from BENCHMARK.json."""
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in declared}
    record["failures"] = failures
    result = {
        "correct": not failures,
        "attempted": max(1, attempted),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    name = f"{record['workload']}-seed{record['seed']}-trace{int(trace)}.json"
    (BUILD / "results" / name).write_text(json.dumps({"record": record, "result": result}, indent=1))
    return record, result


def main():
    p = argparse.ArgumentParser(description="component end-to-end benchmark")
    p.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-digests", action="store_true",
                   help="store the default seed's output and action digests")
    a = p.parse_args()
    try:
        record, result = bench(a.workload, a.seed, a.seconds, bool(a.trace), a.record_digests)
    except (BenchError, OSError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps({"record": record}, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
