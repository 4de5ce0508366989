#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Builds the program from source (`build.py`), prepares the workload's
dataset (`datasets.py`), runs one harness JVM (`src/.../Harness.scala`)
with a private `spark.local.dir` and `java.io.tmpdir`, checks every
statement result against its DuckDB oracle (`oracle.py`) and prints, as
the last stdout line, one JSON object: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. See README.md.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import datasets  # noqa: E402
import oracle  # noqa: E402

ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
MB = 1024.0 * 1024.0

# The warehouse list: TPC-H scan/aggregate, join and filter statements,
# analytics (sketch aggregate, window rank) and two statements that write
# files on every call.
WAREHOUSE = ["q1_pricing_summary", "q3_shipping_priority", "q6_forecast_revenue",
             "q_sketch_theta", "q_win_rank", "q_sink_partitioned", "q_src_avro"]
WRITES = {"q_sink_partitioned", "q_src_avro"}
# The LLM-data curation list: language id, PII redaction, SimHash
# near-dup, exact cosine top-k, the fused filter pipeline.
CURATION = ["q_text_langid", "q_pii_redact", "q_dedup_simhash",
            "q_ann_cosine_topk", "q_pipeline_curate"]
WORKLOADS = {
    "interactive_sf0.01": ("sf0.01", WAREHOUSE),
    "curation_sf0.1": ("sf0.1", CURATION),
}
# Enough statement samples per run for the tail percentile reported (p70)
# to have at least ten samples beyond it.
MIN_SAMPLES = 34
# Spark task slots of the harness session (`local[1]`). The other CPUs
# serve the client and scheduler threads, JIT compilers and GC. On a 4-vCPU
# shared VM, whose vCPUs slow down independently of each other, two slots
# made a stage wait for whichever vCPU was slowest: over five runs each,
# the curation timings spread two to three times as much as with one slot,
# for a pass only 12% faster. Four slots were slower still and noisier.
CORES = 1
# Spark task slots of graft.ScaleGen; a constant, so the replica has the
# same file layout on every machine.
GEN_CORES = 2
UNTIMED = ("probe", "gc")
PACKS = ["Aggregates", "Joins", "Windows", "Sources", "Dedup", "Similarity",
         "TextAnalysis", "Curation"]

# The serial collector with a fixed 2 GB heap and a fixed 256 MB young
# generation: no concurrent marking, no heap or young-generation resizing
# and no GC worker threads competing for the vCPUs. G1 sized its heap and
# its marking cycles from GC overhead, which follows the host's speed: with
# a heap that started at 512 MB, some interactive runs grew it and ran 15%
# faster with 200 MB more resident memory than the rest, and adaptive young
# sizing made peak memory spread 17% between runs. The heap is not
# pre-touched, so resident memory still follows what the program keeps.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseSerialGC", "-Xss4m"]
OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
JVM_TIMEOUT_S = 150


def jvm_env() -> dict:
    """Inherited environment minus everything that would retune Spark, the
    program (SPARK_GRAFT_*) or the JVM behind the benchmark's back."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_")
           and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    # glibc otherwise gives threads up to 8 malloc arenas per CPU, and how
    # many a run touches depends on thread timing: peak resident memory of
    # the curation workload was bimodal (1120 or 1290 MB) without the cap.
    env["MALLOC_ARENA_MAX"] = "2"
    return env


def java_cmd(jar: Path, scratch: Path, cds: list):
    jars = build.spark_jars()

    def cmd(main: str, args: list) -> list:
        return (["java"] + OPENS + JVM_FLAGS + cds +
                [f"-Djava.io.tmpdir={scratch / 'tmp'}",
                 f"-Dspark.local.dir={scratch / 'local'}",
                 "-Dderby.system.home=" + str(scratch / "tmp"),
                 "-cp", f"{jar}{os.pathsep}{jars / '*'}", main] + args)
    return cmd


def class_archive(jar: Path) -> list:
    """JVM flags that map an AppCDS archive of the classes one run loads.

    A launch otherwise spends seconds loading and verifying Spark's
    classes. The archive is made once per build by a training run over
    every statement list on sf0.001 and is remade whenever the jar is."""
    jsa = BUILD / "graft.jsa"
    stamp = BUILD / "graft.jsa.stamp"
    key = (BUILD / "graft.jar.stamp").read_text() + " ".join(JVM_FLAGS)
    if not (jsa.is_file() and stamp.is_file() and stamp.read_text() == key):
        jsa.unlink(missing_ok=True)
        stmts = [s for _, lst in WORKLOADS.values() for s in lst]
        run_harness(jar, [f"-XX:ArchiveClassesAtExit={jsa}"],
                    datasets.HERE / "data" / "sf0.001", list(dict.fromkeys(stmts)),
                    0, 0, 1, 0, BUILD / "runs" / "cds-training")
        stamp.write_text(key)
    # -Xshare:on: a JVM that cannot map the archive exits instead of
    # silently loading every class from the jars.
    return ["-Xshare:on", f"-XX:SharedArchiveFile={jsa}"]


def launcher(jar: Path, cds: list):
    """Run a program main (graft.ScaleGen) in its own scratch directory."""
    def launch(main: str, args: list) -> subprocess.CompletedProcess:
        scratch = BUILD / "runs" / main
        shutil.rmtree(scratch, ignore_errors=True)
        for d in (scratch / "tmp", scratch / "local"):
            d.mkdir(parents=True)
        return subprocess.run(java_cmd(jar, scratch, cds)(main, args), cwd=scratch,
                              env=dict(jvm_env(), SPARK_GRAFT_CPUS=str(GEN_CORES)),
                              stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True, timeout=600)
    return launch


def run_harness(jar, cds, data_dir, stmts, seed, seconds, trace, min_passes,
                run_dir: Path):
    """Launch one harness JVM and return its output."""
    shutil.rmtree(run_dir, ignore_errors=True)
    scratch = [run_dir / "tmp", run_dir / "local"]
    for d in scratch:
        d.mkdir(parents=True)
    cmd = java_cmd(jar, run_dir, cds)("graft.perfbench.Harness", [
        "--data", str(data_dir), "--out", str(run_dir), "--stmts", ",".join(stmts),
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--min-passes", str(min_passes), "--cores", str(CORES),
        "--launch-ms", str(int(time.time() * 1000))])
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=jvm_env(),
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"harness JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    out = run_dir / "spans.json"
    if proc.returncode != 0 or not out.is_file():
        tail = (run_dir / "jvm.log").read_text()[-3000:]
        raise SystemExit(f"harness JVM failed (exit {proc.returncode}):\n{tail}")
    return json.loads(out.read_text())


class Run:
    """The span tree of one harness run, with helpers to aggregate it."""

    def __init__(self, out: dict):
        self.out = out
        self.spans = out["spans"]
        self.kids = {}
        for s in self.spans:
            self.kids.setdefault(s["parent"], []).append(s)
        self.top = {s["name"]: s for s in self.spans if s["parent"] in (-1, 0)}
        self.passes = [s for s in self.spans if s["name"] == "pass"]

    def child(self, s, name) -> float:
        return sum(c["dur_s"] for c in self.kids.get(s["id"], []) if c["name"] == name)

    def statements(self, passes):
        return [c for p in passes for c in self.kids.get(p["id"], [])
                if c["name"] == "statement"]

    def untimed(self, s) -> float:
        """Time of the `probe` and `gc` spans under `s`: the benchmark's own
        measurements and the forced GC between passes."""
        return sum(c["dur_s"] if c["name"] in UNTIMED else self.untimed(c)
                   for c in self.kids.get(s["id"], []))

    def wall(self, s) -> float:
        """Duration of `s` less its untimed spans."""
        return s["dur_s"] - self.untimed(s)

    def latency(self, st) -> float:
        """Statement latency: build, plan and execute, without the release."""
        return self.wall(st) - self.child(st, "release")

    def pass_s(self, passes) -> float:
        """Mean wall time of one pass: the time the passes took together,
        release gaps included and untimed spans left out, over their
        number; the inverse of the passes completed per second. The first
        timed passes still run code that C2 has not compiled yet and are
        slower; the median of a run's 7-10 passes moved with where it fell
        on that curve and with the host's slow phases, and spread three
        times as much over five runs as this mean."""
        return statistics.fmean(self.wall(p) for p in passes)

    def traced(self, flag: bool):
        return [p for p in self.passes if p["attrs"]["traced"] == flag]


def hd_quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of quantile p: a Beta((n+1)p, (n+1)(1-p))
    weighted mean of all order statistics. Latency samples cluster by
    statement, so a single order statistic jumps between clusters from run
    to run; this estimate does not."""
    xs = sorted(xs)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    steps = 4000
    log_beta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    cdf = [0.0]
    for k in range(steps):
        t = (k + 0.5) / steps
        cdf.append(cdf[-1] + math.exp(
            (a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - log_beta) / steps)
    w = [cdf[i * steps // n] - cdf[(i - 1) * steps // n] for i in range(1, n + 1)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def end_to_end(r: Run, passes) -> dict:
    lat = [r.latency(st) for st in r.statements(passes)]
    return {
        "setup_s": (r.wall(r.top["setup"]), "s"),
        "pass_s": (r.pass_s(passes), "s"),
        "stmt_p50_s": (hd_quantile(lat, 0.5), "s"),
        "stmt_p70_s": (hd_quantile(lat, 0.7), "s"),
        "peak_mem_mb": (statistics.median(p["attrs"]["peak_mem_mb"] for p in passes), "MB"),
        "scratch_peak_mb": (r.out["scratch_peak_mb"], "MB"),
    }


def per_layer(r: Run) -> dict:
    passes = r.traced(True)
    n = len(passes)
    sts = r.statements(passes)
    setup = {c["name"]: r.wall(c) for c in r.kids[r.top["setup"]["id"]]}

    def tot(key, scale=1.0):
        return sum(st["attrs"].get(key, 0) for st in sts) * scale / n

    def peak(key, scale=1.0):
        return max((st["attrs"].get(key, 0) for st in sts), default=0) * scale

    def spent(name):
        return sum(r.child(st, name) for st in sts) / n

    build_s, plan_s, exec_s = spent("build"), spent("plan"), spent("execute")
    m = {
        "entry.session_s": (setup["session"], "s"),
        "entry.tune_s": (setup["tune"], "s"),
        "entry.warm_pass_s": (setup["warm"], "s"),
        "queries.build_s": (build_s, "s"),
        "queries.build_jobs": (tot("build_jobs"), "count"),
        "queries.write_pass_s": (sum(r.latency(st) for st in sts
                                     if st["attrs"]["stmt"] in WRITES) / n, "s"),
        "plan.s": (plan_s, "s"),
        "plan.analysis_s": (tot("phase_analysis_ms", 1e-3), "s"),
        "plan.optimization_s": (tot("phase_optimization_ms", 1e-3), "s"),
        "plan.physical_s": (tot("phase_planning_ms", 1e-3), "s"),
        "plan.nodes": (tot("plan_nodes"), "count"),
        "plan.share": ((build_s + plan_s) / (build_s + plan_s + exec_s), "ratio"),
        "exec.s": (exec_s, "s"),
        "exec.jobs": (tot("jobs"), "count"),
        "exec.stages": (tot("stages"), "count"),
        "exec.tasks": (tot("tasks"), "count"),
        "exec.task_s": (tot("task_ms", 1e-3), "s"),
        "exec.cpu_s": (tot("cpu_ns", 1e-9), "s"),
        "exec.gc_s": (tot("gc_ms", 1e-3), "s"),
        "exec.core_busy": (tot("exec_task_ms", 1e-3) / (exec_s * CORES), "ratio"),
        "exec.peak_mem_mb": (peak("peak_mem_b", 1 / MB), "MB"),
        "shuffle.write_mb": (tot("shuffle_write_b", 1 / MB), "MB"),
        "shuffle.read_mb": (tot("shuffle_read_b", 1 / MB), "MB"),
        "shuffle.records": (tot("shuffle_records"), "count"),
        "shuffle.fetch_wait_s": (tot("fetch_wait_ms", 1e-3), "s"),
        "spill.mem_mb": (tot("spill_mem_b", 1 / MB), "MB"),
        "spill.disk_mb": (tot("spill_disk_b", 1 / MB), "MB"),
        "agg.fallback_tasks": (tot("agg_fallback_tasks"), "count"),
        "scan.input_mb": (tot("input_b", 1 / MB), "MB"),
        "scan.input_rows": (tot("input_rows"), "count"),
        "scan.rows_per_result_row": (tot("input_rows") / max(1.0, tot("rows")), "ratio"),
        "sink.output_mb": (tot("output_b", 1 / MB), "MB"),
        "sink.output_rows": (tot("output_rows"), "count"),
        "sink.files": (tot("sink_files"), "count"),
        "sink.write_s": (tot("sink_write_ns", 1e-9), "s"),
        "scratch.release_s": (spent("release"), "s"),
        "scratch.cached_mb": (peak("scratch_cached_mb"), "MB"),
        "scratch.pinned_rdds": (r.out["pinned_rdds"], "count"),
        "trace.overhead": (r.pass_s(passes) / r.pass_s(r.traced(False)), "ratio"),
    }
    for pack in PACKS:
        m[f"pack.{pack}.s"] = (sum(r.latency(st) for st in sts
                                   if st["attrs"]["pack"] == pack) / n, "s")
    return m


def statement_table(r: Run, passes) -> dict:
    """Per-statement medians (latency, GC, fetch wait, cached scratch)."""
    by = {}
    for st in r.statements(passes):
        a = st["attrs"]
        by.setdefault(a["stmt"], []).append(
            (r.latency(st), a.get("gc_ms", 0) / 1e3, a.get("fetch_wait_ms", 0) / 1e3,
             a.get("scratch_cached_mb", 0)))
    return {k: [round(statistics.median(x[i] for x in v), 4) for i in range(4)]
            for k, v in sorted(by.items())}


def check_nesting(r: Run) -> list:
    by_id = {s["id"]: s for s in r.spans}
    bad = []
    for s in r.spans:
        p = by_id.get(s["parent"])
        if p is not None and (s["start_s"] < p["start_s"] - 1e-6 or
                              s["start_s"] + s["dur_s"] > p["start_s"] + p["dur_s"] + 1e-6):
            bad.append(f"{s['name']}#{s['id']} outside {p['name']}#{p['id']}")
    return bad


def bench(workload, data_name, stmts, seed, seconds, trace, min_passes):
    """One run; returns the result object, the info dict and the span tree."""
    jar = build.build()
    cds = class_archive(jar)
    run_dir = BUILD / "runs" / workload
    data_dir, gen_s = datasets.prepare(data_name, BUILD, launcher(jar, cds))
    out = run_harness(jar, cds, data_dir, stmts, seed, seconds, trace,
                      min_passes, run_dir)
    r = Run(out)
    verdict = oracle.check(run_dir / "results", data_dir, BUILD / "expected", stmts)
    timed = r.statements(r.passes)
    wrong = {k for k, v in verdict.items() if v}
    failed = sum(1 for st in timed
                 if not st["attrs"]["ok"] or st["attrs"]["stmt"] in wrong)
    metrics = (per_layer(r) if trace
               else end_to_end(r, r.passes))
    result = {
        "correct": failed == 0 and not out["failures"] and not wrong,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    info = {
        "workload": workload, "seed": seed, "cores": CORES, "data": str(data_dir),
        "data_gen_s": gen_s, "passes": out["passes"], "samples": len(timed),
        "failed_frac": failed / len(timed), "failures": out["failures"][:20],
        "oracle": {k: v for k, v in verdict.items() if v},
        "setup_peak_rss_mb": out["setup_peak_rss_mb"], "peak_rss_mb": out["peak_rss_mb"],
        "jvm_flags": out["jvm_flags"], "gc": out["gc"], "confs": out["confs"],
        "spans": str(run_dir / "spans.json"),
        "statements[latency_s,gc_s,fetch_wait_s,cached_mb]":
            statement_table(r, r.traced(True) if trace else r.passes),
    }
    return result, info, r


def smoke() -> int:
    """Both statement lists on sf0.001, two passes each, traced; asserts
    metric names and units, zero failures and span nesting."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    problems = []
    for wl, (_, stmts) in WORKLOADS.items():
        t0 = time.time()
        result, info, r = bench(wl, "sf0.001", stmts, 1, 0, 1, 2)
        e2e = {k: u for k, (_, u) in end_to_end(r, r.traced(False)).items()}
        got = {k: m["unit"] for k, m in result["metrics"].items()}
        for name, want, have in (("end_to_end", want_e2e, e2e),
                                 ("per_layer", want_layer, got)):
            if want != have:
                problems.append(f"{wl}: {name} metrics differ: "
                                f"missing {sorted(set(want) - set(have))}, "
                                f"extra {sorted(set(have) - set(want))}, "
                                f"units {[k for k in want if have.get(k, want[k]) != want[k]]}")
        if result["failed"] or not result["correct"]:
            problems.append(f"{wl}: failed {result['failed']}/{result['attempted']} "
                            f"{info['failures']} {info['oracle']}")
        problems += [f"{wl}: {b}" for b in check_nesting(r)]
        print(f"[smoke] {wl}: {result['attempted']} statements, "
              f"{time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps({"smoke": "fail" if problems else "ok", "problems": problems}))
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    # A terminated run still stops and waits for its JVM (see run_harness).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.smoke:
        return smoke()
    if not a.workload:
        ap.error("--workload is required")
    data_name, stmts = WORKLOADS[a.workload]
    result, info, _ = bench(a.workload, data_name, stmts, a.seed, a.seconds,
                            a.trace, -(-MIN_SAMPLES // len(stmts)))
    print(json.dumps({"info": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
