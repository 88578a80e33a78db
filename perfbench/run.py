#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness into ``.bench_build/`` (see ``build.py``). Each run then

1. makes its inputs (not counted in any metric): the word-count corpus
   from the seed, or a copy of the committed tables under
   ``perfbench/data/<scale factor>``, which no seed changes,
2. starts one JVM on ``local[4]`` that sets up, runs a check pass and
   the workload's warm passes, runs timed passes for ``--seconds`` and
   sets up twice more; a JVM run
   during which the host's CPU steal share exceeded ``STEAL_LIMIT`` is
   discarded and made once more, if the run is young enough,
3. checks the check pass's outputs (DuckDB oracles or the corpus tally),
4. prints one JSON object as the last line of standard output:
   end-to-end metrics with ``--trace 0``, per-layer metrics with
   ``--trace 1``, by the names and units ``BENCHMARK.json`` gives.

A summary of every run, with the environment it ran in, is appended to
``.bench_build/results/<workload>.jsonl`` for ``compare.py``.
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

import build  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
# copies of the tables the table workloads read, from the project's
# synthetic star schema (seed 42), one directory per scale factor
DATA = ROOT / "perfbench" / "data"

# workload -> its input: the seeded corpus or a scale factor's tables;
# the query order lives in the harness
WORKLOADS = {"wordcount_dir": "corpus", "text_heavy": "sf0.01",
             "streaming": "sf0.1"}
CORPUS_FILES = 100
CORPUS_TOKENS_PER_FILE = 10_000
HEAP = "2g"
DEADLINE_S = 170  # the JVM is killed this long after the run started
# a JVM run during which other guests took more than this share of the
# host's CPU time is discarded and made again, once, if it ended within
# RERUN_BEFORE_S of the start (so the whole run still ends in time)
STEAL_LIMIT = 0.10
RERUN_BEFORE_S = 75
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    res = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return res.stdout.strip() or None


def units():
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in bench[k]}
                 for k in ("end_to_end", "per_layer"))


def generate(workload, seed, data):
    """Write the workload's inputs; return the corpus token count (0 for
    tables) and the tally to check against (None for tables)."""
    if WORKLOADS[workload] == "corpus":
        tally = datagen.corpus(seed, data / "corpus", CORPUS_FILES,
                               CORPUS_TOKENS_PER_FILE)
        datagen.corpus(seed + 1, data / "warm", 4, 2_000)
        return sum(tally.values()), tally
    tables = sorted((DATA / WORKLOADS[workload]).glob("*.parquet"))
    if not tables:
        raise SystemExit(f"no tables under {DATA / WORKLOADS[workload]}")
    for t in tables:
        shutil.copyfile(t, data / t.name)
    return 0, None


def cpu_ticks():
    """(steal, total) jiffies of the host CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def run_jvm(classpath, args, work, data, out, tmp, timeout):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", classpath, "perfbench.Harness",
              "--workload", args.workload, "--data", str(data), "--out", str(out),
              "--seconds", str(args.seconds), "--trace", str(args.trace)])
    with open(work / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=timeout)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise


def end_to_end(record):
    passes = record["passes"]
    walls = [q["wall_s"] for p in passes for q in p["queries"] if q["ok"]]
    return {
        "setup_s": statistics.median(record["setups_s"]),
        "total_s": statistics.median(p["total_s"] for p in passes),
        "query_p50_s": stats.percentile(walls, 50)[0] if walls else 0.0,
        "query_p90_s": stats.percentile(walls, 90)[0] if walls else 0.0,
        "peak_rss_mb": record["peak_rss_mb"],
    }


def stop_on_sigterm(signum, frame):
    # unwinds through run_jvm, which kills the JVM's process group
    raise SystemExit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, stop_on_sigterm)
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    run0 = time.perf_counter()

    try:
        classpath, digest = build.ensure_built(BUILD)
    except SystemExit as e:
        return fail(f"build failed: {e}", 2)
    import oracle  # imports tools/selfcheck.py, so only once the sources are there

    e2e_units, layer_units = units()
    work = BUILD / "work" / args.workload
    shutil.rmtree(work, ignore_errors=True)
    data, out, tmp = work / "data", work / "out", work / "tmp"
    data.mkdir(parents=True)
    gen0 = time.perf_counter()
    tokens, tally = generate(args.workload, args.seed, data)
    gen_s = time.perf_counter() - gen0

    discarded_steal = []
    while True:
        for d in (out, tmp):
            shutil.rmtree(d, ignore_errors=True)
            d.mkdir(parents=True)
        steal0, total0 = cpu_ticks()
        timeout = DEADLINE_S - (time.perf_counter() - run0)
        try:
            rc = run_jvm(classpath, args, work, data, out, tmp, timeout)
        except subprocess.TimeoutExpired:
            return fail(f"JVM still running {DEADLINE_S}s after the start "
                        f"(log: {work / 'jvm.log'})", 3)
        if rc != 0 or not (out / "record.json").is_file():
            tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
            return fail(f"JVM exited {rc}:\n{tail}", 4)
        steal1, total1 = cpu_ticks()
        # share of CPU time the hypervisor gave to other guests meanwhile
        steal = (steal1 - steal0) / max(1, total1 - total0)
        if (steal <= STEAL_LIMIT or discarded_steal
                or time.perf_counter() - run0 > RERUN_BEFORE_S):
            break
        print(f"perfbench: host CPU steal {steal:.2f} > {STEAL_LIMIT}; "
              "discarding the run and making it again", file=sys.stderr)
        discarded_steal.append(steal)
    record = json.loads((out / "record.json").read_text())

    oracle0 = time.perf_counter()
    if tally is not None:
        checks = {n: oracle.check_corpus(tally, str(out / "results" / n))
                  for n in ("df_pipeline", "rdd_pipeline")}
    else:
        sql = json.loads((out / "oracle_sql.json").read_text())
        checks = oracle.check_tables(str(data), str(out / "results"), sql)
        for name in record["checked"]:
            checks.setdefault(name, (False, "no oracle SQL"))
    oracle_s = time.perf_counter() - oracle0
    wrong = {n: d for n, (ok, d) in checks.items() if not ok}
    failed = len(record["failures"]) + len(wrong)
    attempted = record["attempted"] + len(checks)
    for f in record["failures"]:
        print(f"perfbench: {f['phase']} {f['query']} raised {f['class']}: "
              f"{f['message'][:300]}", file=sys.stderr)
    for n, d in wrong.items():
        print(f"perfbench: wrong output {n}: {d}", file=sys.stderr)

    if args.trace:
        spans = json.loads((out / "spans.json").read_text())
        found = layers.run_layers(record, spans, tokens)
        unit_of = layer_units
        values = {k: found.get(k, 0.0) for k in unit_of}
    else:
        unit_of = e2e_units
        found = end_to_end(record)
        values = {k: found[k] for k in unit_of}
    n_samples = sum(len(p["queries"]) for p in record["passes"])
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "git_sha": git_sha(), "source_digest": digest,
        "cores": record["cores"], "nproc": os.cpu_count(), "heap_mb": record["heap_mb"],
        "spark_version": record["spark_version"], "java_version": record["java_version"],
        "gen_s": gen_s, "tokens": tokens, "check_s": record["check_s"],
        "warm_passes_s": record["warm_passes_s"],
        "oracle_s": oracle_s, "run_s": time.perf_counter() - run0,
        "host_steal_frac": steal, "discarded_steal_fracs": discarded_steal,
        "setups_s": record["setups_s"], "staging_s": record["staging_s"],
        "passes": [{"traced": p["traced"], "total_s": p["total_s"]} for p in record["passes"]],
        "query_samples": n_samples,
        "highest_percentile": stats.highest_supported_percentile(n_samples),
        "failures": record["failures"],
        "checks": {n: {"ok": ok, "detail": d} for n, (ok, d) in checks.items()},
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "metrics": values,
    }
    results = BUILD / "results"
    results.mkdir(exist_ok=True)
    with open(results / f"{args.workload}.jsonl", "a") as fh:
        fh.write(json.dumps(summary) + "\n")
    for d in (data, out / "results", out / "scratch", tmp):
        shutil.rmtree(d, ignore_errors=True)

    print(f"workload={args.workload} seed={args.seed} trace={args.trace} "
          f"cores={record['cores']} heap_mb={record['heap_mb']} "
          f"spark={record['spark_version']} sha={summary['git_sha'] or digest[:12]} "
          f"passes={len(record['passes'])} query_samples={n_samples} "
          f"failed_frac={summary['failed_frac']:.4f}")
    print(json.dumps({
        "correct": not wrong and not record["failures"],
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit_of[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
