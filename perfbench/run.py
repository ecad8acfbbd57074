#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run

1. builds the program and the runner (`perfbench/build.sbt`) when any source
   is newer than the last build;
2. generates the workload's ten input tables from `--seed` (`gen.py`) under
   `perfbench/.work/`;
3. starts one JVM (`perfbench.Main`) that sets up several times (each set-up's
   warm-up pass writes every query's output for the check), then runs a fixed
   number of timed passes over the workload's query list; the count follows
   from `--seconds` and the workload's nominal pass time in `workloads.json`;
4. checks each output against its DuckDB oracle with `dev/check.py`; a query
   without an oracle must return rows and its registry companion must match;
5. prints the metrics, one per line with units, and last one JSON line:
   end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`.

A traced run also writes `perfbench/.work/<workload>/trace/`: spans, per-query
layer counts, and the layer shares table (`layers.md`).
"""
import argparse
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

DEADLINE_S = 170
# build.sbt's --add-opens list, which a JVM started here does not inherit
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build(root, work):
    """Compile when a source is newer than the recorded classpath; return it."""
    cp_file = os.path.join(work, "classpath.txt")
    inputs = [os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            inputs += [os.path.join(d, f) for f in files]
    if os.path.exists(cp_file) and \
            os.path.getmtime(cp_file) >= max(map(os.path.getmtime, inputs)):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + f" -Djava.io.tmpdir={tmp}"
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l
             and not l.startswith("[")]
    if r.returncode or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-2000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    return lines[-1]


def check(root, data, verify, result):
    """{query: None if its output is correct, else why not}."""
    r = subprocess.run([sys.executable, os.path.join(root, "dev", "check.py"), data, verify],
                       capture_output=True, text=True, timeout=120)
    verdict = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        name, _, detail = rest.strip().partition(":")
        if word == "ok":
            verdict[name] = None
        elif word == "FAIL":
            verdict[name] = detail.strip() or "mismatch"
        elif word == "rows":
            verdict[name] = None if int(detail) > 0 else "no rows"
    bad = {}
    for q in result["queries"]:
        why = result["verify_errors"].get(q) or verdict.get(q, "not checked")
        comp = result["companions"].get(q)
        if why is None and not result["oracle"][q]:
            why = (result["verify_errors"].get(comp) or verdict.get(comp, "not checked")
                   if comp else "no oracle and no companion")
            why = why and f"companion {comp}: {why}"
        if why:
            bad[q] = why
    return bad


def tail(values):
    """(value, percentile, n) at the highest percentile with at least 10
    samples beyond it, or a quarter of the samples below 40 of them (so the
    tail stays above the median and is not a lone maximum)."""
    v = sorted(values)
    n = len(v)
    beyond = max(1, min(10, n // 4))
    if n <= beyond:
        return v[-1], 100.0, n
    return v[n - 1 - beyond], 100.0 * (n - beyond) / n, n


def unit(metric):
    """A per-layer metric's unit, from its name's suffix."""
    for suffix, u in (("_ms", "ms"), ("_s", "s"), ("_mb", "MB")):
        if metric.endswith(suffix):
            return u
    return "count"


def med(xs):
    return statistics.median(xs) if xs else 0.0


def layer_table(name, seed, layers, result, overhead):
    """Markdown table of one traced run's per-pass layer metrics and shares."""
    wall = med([p["wall_s"] for p in result["passes"] if p["traced"]])
    cores = result["settings"]["cores"]
    slot = wall * cores
    plan_s = (layers["plans.analysis_ms"] + layers["plans.optimizer_ms"]
              + layers["plans.planning_ms"]) / 1e3
    shares = [
        ("queries.build_s", layers["queries.build_s"] / wall, "pass wall"),
        ("queries.action_s", layers["queries.action_s"] / wall, "pass wall"),
        ("sessions.sweep_s", layers["sessions.sweep_s"] / wall, "pass wall"),
        ("plans.* (analysis+optimizer+planning)", plan_s / wall, "pass wall"),
        ("sched.driver_idle_s", layers["sched.driver_idle_s"] / wall, "pass wall"),
        ("exec.run_s", layers["exec.run_s"] / slot, f"slot time ({cores} cores)"),
        ("exec.gc_s", layers["exec.gc_s"] / slot, "slot time"),
        ("sched.task_delay_s", layers["sched.task_delay_s"] / slot, "slot time"),
        ("shuffle.fetch_wait_s", layers["shuffle.fetch_wait_s"] / slot, "slot time"),
    ]
    out = [f"### {name} (seed {seed}, traced pass median {wall:.3f} s, "
           f"tracing overhead {overhead:+.3f} s per pass)", "",
           "| layer metric | share | of |", "|---|---|---|"]
    out += [f"| `{k}` | {v:.1%} | {base} |" for k, v, base in shares]
    out += ["", "| metric | per pass |", "|---|---|"]
    out += [f"| `{k}` | {v:.4g} |" for k, v in sorted(layers.items())]
    return "\n".join(out) + "\n"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    wl = spec["workloads"].get(a.workload) or fail(f"unknown workload {a.workload}")
    for need in ("src/main/scala/graft", "dev/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the repository root")
    pins = spec["settings"]
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    t_start = time.monotonic()  # the time limit counts from here: builds are one-off

    run_dir = os.path.join(work, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    rows = gen.generate(data, a.seed, wl["sf"])
    os.makedirs(out)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)

    cores = len(os.sched_getaffinity(0))
    passes = max(pins["min_passes"], round(a.seconds / wl["nominal_pass_s"]))
    if a.trace:
        passes = max(4, passes)
    cmd = (["java", f"-Xms{pins['heap']}", f"-Xmx{pins['heap']}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--queries", ",".join(wl["queries"]), "--data", data,
              "--out", out, "--passes", str(passes), "--setups", str(pins["setups"]),
              "--cores", str(cores), "--trace", str(a.trace)])
    # a terminated run stops its JVM too (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - 10 - (time.monotonic() - t_start)))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit; see {log.name}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    result_file = os.path.join(out, "result.json")
    if proc.returncode or not os.path.exists(result_file):
        fail(f"JVM exited with {proc.returncode}; see {os.path.join(run_dir, 'jvm.log')}")
    result = json.load(open(result_file))

    bad = check(root, data, os.path.join(out, "verify"), result)
    runs = [(q, v) for p in result["passes"] for q, v in p["queries"].items()]
    attempted = len(runs)
    threw = sorted({q for q, v in runs if v["error"]})
    failed = sum(1 for q, v in runs if v["error"] or q in bad)
    walls = [v["build_s"] + v["action_s"] for q, v in runs if not v["error"]]
    untraced = [p["wall_s"] for p in result["passes"] if not p["traced"]]
    t_val, t_pct, t_n = tail(walls)
    e2e = {
        "setup_s": (med([s["setup_s"] for s in result["setups"]]), "s"),
        "pass_s": (med(untraced), "s"),
        "query_p50_s": (med(walls), "s"),
        "query_tail_s": (t_val, "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }
    print(f"workload {a.workload}  seed {a.seed}  cores {cores}  passes {passes}  "
          f"setups {pins['setups']}  heap {pins['heap']}  rows {rows}")
    for q, why in sorted(bad.items()):
        print(f"  wrong output  {q}: {why}")
    for q in threw:
        print(f"  threw  {q}: " + next(v["error"] for p, v in runs if p == q and v["error"]))
    print(f"failed_frac {failed / attempted:.4f} ({failed} of {attempted} query runs)")

    if a.trace:
        traced = [p for p in result["passes"] if p["traced"]]
        layers = {k: med([p["layers"]["pass"][k] for p in traced])
                  for k in traced[0]["layers"]["pass"]}
        layers["queries.build_s"] = med([sum(v["build_s"] for v in p["queries"].values())
                                         for p in traced])
        layers["queries.action_s"] = med([sum(v["action_s"] for v in p["queries"].values())
                                          for p in traced])
        layers["sessions.create_s"] = med([s["create_s"] for s in result["setups"]])
        layers["sessions.warmup_s"] = med([s["warmup_s"] for s in result["setups"]])
        overhead = med([p["wall_s"] for p in traced]) - med(untraced)
        trace_dir = os.path.join(run_dir, "trace")
        os.makedirs(trace_dir)
        per_query = {q: {"build_s": med([p["queries"][q]["build_s"] for p in traced]),
                         "action_s": med([p["queries"][q]["action_s"] for p in traced]),
                         **{k: med([p["layers"]["queries"][q][k] for p in traced])
                            for k in traced[0]["layers"]["queries"][q]}}
                     for q in result["queries"]}
        json.dump({"workload": a.workload, "seed": a.seed, "settings": result["settings"],
                   "tracing_overhead_s": overhead, "layers_per_pass": layers,
                   "per_query": per_query, "failed": bad,
                   "threw": threw}, open(os.path.join(trace_dir, "layers.json"), "w"), indent=1)
        shutil.copy(os.path.join(out, "spans.jsonl"), trace_dir)
        with open(os.path.join(trace_dir, "layers.md"), "w") as f:
            f.write(layer_table(a.workload, a.seed, layers, result, overhead))
        print(f"tracing overhead {overhead:+.4f} s per pass "
              f"({overhead / med(untraced):+.1%} of untraced pass_s)")
        print(f"trace artifacts: {trace_dir}")
        metrics = {k: {"value": v, "unit": unit(k)} for k, v in sorted(layers.items())}
    else:
        print(f"query_tail_s is p{t_pct:.1f} of n={t_n} query runs")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in metrics.items():
        print(f"  {k} {m['value']:.6g} {m['unit']}")
    shutil.rmtree(data, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
