"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload lvr_ingest --seed 1 --seconds 10 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py) into a fresh run
directory under .bench_build/, runs one JVM (perfbench/src/perfbench/Main.scala)
that sets up, measures whole episodes for --seconds and records what the
program answered, checks those answers against the generator's model,
removes the run directory and prints, as its last stdout line, one JSON
object {correct, attempted, failed, metrics}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of BENCHMARK.json.
The exit code is 0 only when every call returned and every answer was
right. See perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True  # nothing is written beside the sources

WORKLOADS = ("lvr_ingest", "corpus_curation", "lakehouse_mor")
# warm-up inputs: the same generator at a small size and another seed
# (every verb and read kind at least once, in as few calls as possible)
WARM_SIZE = {"lvr_ingest": {"drops": 2, "rows_per_file": 10, "cities": 3},
             "corpus_curation": {"docs": 200},
             "lakehouse_mor": {"rows": 2000, "ops": 3, "optimize_every": 3}}
# a fixed heap with a fixed young generation, not pre-touched: pages are
# resident once the program touches them, so VmHWM moves with the old
# generation the program fills, and heap resizing does not vary by run
HEAP, YOUNG = "2g", "512m"
DEADLINE_S = 170  # the whole run, build excluded


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def jvm_cmd(classes, jars, run_dir, workload, cores, seconds, trace):
    opens = [f"java.base/{p}" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
    flags = [x for p in opens for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: the JVM writes nothing outside the checkout
    return ["java", *flags, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
            "-XX:-UsePerfData",
            "-XX:ParallelGCThreads=2", "-XX:ConcGCThreads=1",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-Dfile.encoding=UTF-8",
            "-Dsun.jnu.encoding=UTF-8", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            workload, str(run_dir), str(cores), str(seconds), str(trace)]


def meta_for(workload, info, warm):
    """What the JVM needs to drive the workload (no answers)."""
    keep = {"lvr_ingest": ("drops", "drop_rows", "drop_bytes"),
            "corpus_curation": ("docs", "input_bytes"),
            "lakehouse_mor": ("optimize_every",)}[workload]
    def strip(i):
        m = {k: i[k] for k in keep}
        if workload == "lakehouse_mor":
            m["ops"] = [{k: v for k, v in op.items() if k != "expect"} for op in i["ops"]]
        return m
    m = strip(info)
    m["warm"] = strip(warm)
    return m


# ------------------------------------------------------------------- checks

def check_lvr(info, observed, errors):
    final = info["expected"][-1]
    seen_final = False
    for o in observed:
        if o["kind"] == "avg":
            exp = info["expected"][o["drop"]][
                "avg_by_city_year" if o["by_city"] else "avg_by_year"][o["table"]]
            got = {"|".join(map(str, r[:-2])): (r[-1], r[-2]) for r in o["rows"]}
            if set(got) != set(exp):
                errors.append(f"avg {o['episode']} drop {o['drop']} {o['table']} "
                              f"by_city={o['by_city']}: groups differ")
                continue
            for k, (n, a) in got.items():
                en, ea = exp[k]
                if n != en or (a is None) != (ea is None) or (a is not None and abs(a - ea) > 0.02):
                    errors.append(f"avg {o['episode']} drop {o['drop']} {o['table']} {k}: "
                                  f"got {(n, a)} want {(en, ea)}")
        elif o["kind"] == "per_city":
            exp = final["per_city"][o["table"]]
            got = {c: [n, s] for c, n, s in o["rows"]}
            if got != exp:
                errors.append(f"per_city {o['episode']} {o['table']}: got {got} want {exp}")
            seen_final = True
    if not seen_final:
        errors.append("no final table state observed")


def check_corpus(info, observed, errors):
    import gen
    passes = [o for o in observed if o["kind"] == "summary"]
    if not passes:
        errors.append("no curation pass observed")
        return None
    for o in passes:
        n_in, n_exact, _, n_cur = o["summary"]
        if n_in != info["docs"]:
            errors.append(f"{o['episode']}: n_input {n_in} != {info['docs']}")
        if n_exact != info["expected_after_exact"]:
            errors.append(f"{o['episode']}: exact-dedup survivors {n_exact} != "
                          f"{info['expected_after_exact']}")
        if n_cur != o["curated_count"]:
            errors.append(f"{o['episode']}: summary n_curated {n_cur} != published "
                          f"{o['curated_count']}")
        if any(n != o["curated_count"] for n in o["read_counts"]):
            errors.append(f"{o['episode']}: a read-back count differs from the publish")
        if (o["curated_count"], o["curated_id_sum"]) != \
                (passes[0]["curated_count"], passes[0]["curated_id_sum"]):
            errors.append(f"{o['episode']}: curated set differs from the first pass")
    curated = set(passes[0]["curated_ids"])
    removed = set(info["ids"]) - curated
    group_of = {int(k): v for k, v in info["group_of"].items()}
    return gen.dedup_scores(group_of, removed)


def check_mor(info, observed, errors):
    ops = info["ops"]
    seen_final = False
    for o in observed:
        exp_op = ops[o["op"]]
        if o["kind"] == "state":
            got = {r[0]: r[1:] for r in o["rows"]}
            if got != exp_op["expect"]:
                errors.append(f"state {o['episode']} after op {o['op']}: got {got} "
                              f"want {exp_op['expect']}")
            seen_final |= o["op"] == len(ops) - 1
        elif o["kind"] == "cdf":
            got = {r[0]: r[1] for r in o["rows"]}
            if got != exp_op["cdf"]:
                errors.append(f"cdf {o['episode']} op {o['op']}: got {got} want {exp_op['cdf']}")
    if not seen_final:
        errors.append("no final table state observed")


CHECKS = {"lvr_ingest": check_lvr, "corpus_curation": check_corpus,
          "lakehouse_mor": check_mor}


def benchmark_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the program's sources (src/main/scala) are not in this checkout")
    import build
    import gen
    spec = benchmark_spec()
    try:
        classes = build.build()
    except SystemExit as e:
        fail(str(e))
    jars = build.spark_jars()
    t_start = time.time()

    runs = build.OUT / "runs"
    run_dir = runs / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    (run_dir / "tmp").mkdir()
    proc = None
    try:
        info = gen.generate(a.workload, run_dir, a.seed)
        warm = gen.generate(a.workload, run_dir / "warm_gen", a.seed + 1_000_003,
                            **WARM_SIZE[a.workload])
        (run_dir / "warm_gen" / "input").rename(run_dir / "warm")
        (run_dir / "meta.json").write_text(json.dumps(meta_for(a.workload, info, warm)))
        cores = min(4, len(os.sched_getaffinity(0)))
        cmd = jvm_cmd(classes, jars, run_dir, a.workload, cores, a.seconds, a.trace)
        env = dict(os.environ, LANG="C.UTF-8", LC_ALL="C.UTF-8")
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr,
                                stderr=sys.stderr)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("the run did not finish in time")
        res_file = run_dir / "result.json"
        if not res_file.is_file():
            fail(f"the JVM exited with code {proc.returncode} and no result")
        res = json.loads(res_file.read_text())
        if proc.returncode != 0 or "error" in res:
            fail(f"a call failed: {res.get('error')} "
                 f"(attempted {res.get('attempted')}, failed {res.get('failed')})")

        errors = []
        # (recall, precision) of the planted duplicates; a workload that
        # plants none and runs no dedup scores the empty sets, 1.0 and 1.0
        scores = CHECKS[a.workload](info, res["observed"], errors)
        got = res["metrics"]
        if a.trace == 0:
            recall, precision = scores or gen.dedup_scores({}, set())
            got["dedup_recall"] = recall
            got["dedup_precision"] = precision
            wanted = spec["end_to_end"]
        else:
            wanted = spec["per_layer"]
            trace = run_dir / "trace.json"
            if trace.is_file():
                keep = build.OUT / "traces"
                keep.mkdir(exist_ok=True)
                shutil.copy(trace, keep / f"{a.workload}-s{a.seed}.json")
        metrics = {}
        for m in wanted:
            v = got.get(m["name"])
            if v is None or v != v:  # missing or NaN
                errors.append(f"metric {m['name']} was not measured")
                continue
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
        for e in errors[:20]:
            print(f"perfbench: WRONG {e}", file=sys.stderr)
        print("# session " + json.dumps(res["session"], ensure_ascii=False))
        print("# samples " + json.dumps({
            "episodes": res["episodes"], "commits": got.get("commits"),
            "reads": got.get("reads"), "timed_s": got.get("timed_s"),
            "setups": res["setups"]}))
        correct = not errors and res["failed"] == 0
        print(json.dumps({"correct": correct, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        sys.exit(0 if correct else 1)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
