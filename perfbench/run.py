"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <api_crud|lake_ingest|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source if needed (perfbench/build.py), prepares
the query lake once per checkout (checked by hash on every run),
generates the workload's inputs from the seed, runs the closed loop in
one JVM on a local[nproc] Spark session, checks the outputs, and prints
one JSON object as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. The run directory
(.bench_build/runs/...) is deleted at the end. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics (and writes the
span file under .bench_build/traces). The line before it is a report of
the workload's own named metrics with units and sample counts (and, when
traced, the tracing overhead).
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("api_crud", "lake_ingest", "query_mix")
# the heap and collector the program's own launch uses (build.sbt: -Xmx8g,
# the default G1 collector); no perf-data file outside the checkout
JVM_OPTS = ["-Xmx8g", "-XX:-UsePerfData"] + [
    x for p in ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
                "java.base/java.io", "java.base/java.net", "java.base/java.nio",
                "java.base/java.util", "java.base/java.util.concurrent",
                "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
                "java.base/sun.nio.cs", "java.base/sun.security.action",
                "java.base/sun.util.calendar"]
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
RUN_BUDGET_S = 170
# set-up is repeated and its median reported, so one slow repetition
# does not move setup_s
FIXTURE_REPS = 3
# api_crud request script length per measured second: several times the
# measured rate (~2 requests/s), so the script never runs out
SCRIPT_OPS_PER_S = 10
# lake_ingest: a few duplicates within each landing file exercise the
# min-over-non-key-columns survivor rule
DUPS_PER_FILE = 20
# query_mix: per class the keys that carry its layer: the pruned scan, a
# multiway join and the flagship aggregate; the text keys that call the
# kernels; a flatMapGroupsWithState state store. A second stream key
# (stream_dedup_state) made a round ~8 s instead of ~5 s, leaving three
# rounds in a run
QUERY_CLASSES = {
    "relational": ["scan_pruned", "q_join_multiway", "q_agg_group"],
    "text": ["q_pii_scrub", "q_text_normalize", "q_token_count", "q_quality_score"],
    "stream": ["stream_stateful_count"],
}
QUERY_KEYS = [k for ks in QUERY_CLASSES.values() for k in ks]
# generated round orders; a run uses as many as its seconds allow
ROUNDS = 64


class RunError(Exception):
    pass


def pct(xs, q):
    """Percentile with linear interpolation between closest ranks."""
    s = sorted(xs)
    if not s:
        raise RunError("no samples")
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def prepare_lake(sf, copies):
    """The query lake, generated once per checkout and generator version.
    Returns (dir, seconds spent generating)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        tag = gen.hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build.OUT, f"lake-{tag}-sf{sf}-c{copies}")
    if os.path.exists(d + ".sha256"):
        return d, 0.0
    t0 = time.time()
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    gen.lake(tmp, sf, copies)
    digest = gen.tree_hash(tmp)
    os.rename(tmp, d)
    with open(d + ".sha256", "w") as f:
        f.write(digest)
    return d, time.time() - t0


def verify_lake(d):
    if gen.tree_hash(d) != open(d + ".sha256").read():
        raise RunError(f"query lake {d} does not match its recorded hash")


def make_inputs(workload, seed, seconds, params, lake, inputs):
    """Writes the workload's generated inputs under `inputs`; returns
    what the checks need."""
    p = params[workload]
    if workload == "api_crud":
        model = gen.Crud(seed, p["mix"], p["zipf"])
        ops = [["B", str(sum(p["mix"].values()))]] + model.script(
            int(seconds * SCRIPT_OPS_PER_S) + 100)
        for name, rows in (("crud_seed.tsv", model.seed_rows), ("crud_ops.tsv", ops)):
            with open(os.path.join(inputs, name), "w") as f:
                f.writelines("\t".join(r) + "\n" for r in rows)
        return {}
    if workload == "lake_ingest":
        events = os.path.join(lake, "events.parquet")
        files = gen.landing(os.path.join(inputs, "landing"), events, seed, p["files"],
                            p["rows_per_file"], p["redeliver_share"], DUPS_PER_FILE)
        gen.landing(os.path.join(inputs, "warm"), events, seed + 1, 2, 200, 0.2, 2)
        return {"landing": files}
    verify_lake(lake)
    link = os.path.join(inputs, "lake")
    if not os.path.islink(link):
        os.symlink(lake, link)
    with open(os.path.join(inputs, "classes.tsv"), "w") as f:
        f.writelines(f"{c}\t{k}\n" for c, ks in QUERY_CLASSES.items() for k in ks)
    rng = random.Random(seed)
    keys = list(QUERY_KEYS)
    with open(os.path.join(inputs, "order.tsv"), "w") as f:
        for _ in range(ROUNDS):
            rng.shuffle(keys)
            f.write(",".join(keys) + "\n")
    return {}


def samples_of(phase, name):
    return phase["samples"].get(name, [])


def named_metrics(workload, ph):
    """The workload's own metrics: name -> (value, unit, samples)."""
    s = lambda n: samples_of(ph, n)  # noqa: E731
    if workload == "api_crud":
        r, w = s("crud_read_ms"), s("crud_write_ms")
        ops, loop = s("crud_ops")[0], s("crud_loop_s")[0]
        return {"crud_read_p50_ms": (pct(r, 0.5), "ms", len(r)),
                "crud_read_p90_ms": (pct(r, 0.9), "ms", len(r)),
                "crud_write_p50_ms": (pct(w, 0.5), "ms", len(w)),
                "crud_write_p90_ms": (pct(w, 0.9), "ms", len(w)),
                "crud_ops_per_s": (ops / loop, "ops/s", int(ops))}
    if workload == "lake_ingest":
        rps, b, rd, amp = (s("ingest_rows_per_s"), s("ingest_batch_ms"), s("ingest_read_ms"),
                           s("ingest_space_amp"))
        return {"ingest_rows_per_s": (statistics.median(rps), "rows/s", len(rps)),
                "ingest_batch_p50_ms": (pct(b, 0.5), "ms", len(b)),
                "ingest_read_ms": (statistics.median(rd), "ms", len(rd)),
                "ingest_space_amp": (statistics.median(amp), "ratio", len(amp))}
    return {f"query_{c}_s": (statistics.median(s(f"query_{c}_s")), "s", len(s(f"query_{c}_s")))
            for c in ("relational", "text", "stream")}


def end_to_end(workload, ph, params):
    """The metrics every workload reports. A pass is one block of CRUD
    requests (every block has the same mix), one query round (every key
    once) or one ingest cycle with its reads; a request is one CRUD
    request, one query key or one ingest micro-batch. A pass's request
    latency is summarized by its geometric mean, which weighs each
    request kind alike. Both metrics are medians over the run's passes
    (for query_mix, over each key's rounds), so one slow pass does not
    move them."""
    s = lambda n: samples_of(ph, n)  # noqa: E731
    if workload == "api_crud":
        lat = s("crud_ms")
        b = sum(params["api_crud"]["mix"].values())
        groups = [lat[i:i + b] for i in range(0, len(lat) - b + 1, b)]
        totals = [sum(g) / 1000 for g in groups]
    elif workload == "lake_ingest":
        k = len(s("ingest_batch_ms")) // len(s("ingest_ms"))
        r = len(s("ingest_read_ms")) // len(s("ingest_ms"))
        groups = [s("ingest_batch_ms")[i * k:(i + 1) * k] for i in range(len(s("ingest_ms")))]
        totals = [(m + sum(s("ingest_read_ms")[i * r:(i + 1) * r])) / 1000
                  for i, m in enumerate(s("ingest_ms"))]
    else:
        # a round holds each key once, so take each key's median over the
        # rounds: the pass is the sum of those medians, the request latency
        # their geometric mean
        med = [statistics.median(s(f"key_ms.{k}")) for k in QUERY_KEYS]
        n = len(s("query_key_ms"))
        return {"req_gmean_ms": (statistics.geometric_mean(med), "ms", n),
                "pass_s": (sum(med) / 1000, "s", len(s("round_s")))}
    return {"req_gmean_ms": (statistics.median(statistics.geometric_mean(g) for g in groups),
                             "ms", sum(map(len, groups))),
            "pass_s": (statistics.median(totals), "s", len(totals))}


def run(args):
    t_start = time.time()
    params = json.load(open(os.path.join(HERE, "params.json")))
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    cp, compile_s = build.build()
    lake, lake_s = prepare_lake(params["lake_sf"], params["query_mix"]["doc_copies"])
    one_time_s = compile_s + lake_s  # excluded from setup_s
    cores = len(os.sched_getaffinity(0))
    reps = FIXTURE_REPS

    run_dir = os.path.join(build.OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    inputs, work, tmp = (os.path.join(run_dir, d) for d in ("in", "work", "tmp"))
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in (inputs, work, tmp):
        os.makedirs(d)
    try:
        py_fix = []
        for _ in range(reps):
            f0 = time.time()
            need = make_inputs(args.workload, args.seed, args.seconds, params, lake, inputs)
            py_fix.append(time.time() - f0)
        out = os.path.join(work, "result.json")
        log = os.path.join(run_dir, "jvm.log")
        cmd = (["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
                                      "--workload", args.workload, "--inputs", inputs,
                                      "--work", work, "--out", out,
                                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                                      "--cores", str(cores), "--reps", str(reps)])
        budget = RUN_BUDGET_S - (time.time() - t_start - one_time_s)
        t_jvm = time.time()
        with open(log, "w") as lf:
            proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=run_dir)
            try:
                rc = proc.wait(timeout=max(10, budget))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                raise RunError("the JVM did not finish within the run budget")
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(log).read()[-6000:])
            raise RunError(f"the JVM exited with code {rc}")
        res = json.load(open(out))
        t_checks = time.time()

        # output checks (untimed)
        bad = list(res["failures"])
        n_check = 0
        for i, ph in enumerate(res["phases"]):
            cdir = os.path.join(work, f"check{i}")
            if args.workload == "api_crud":
                n_check += 1
                bad += checks.crud(cdir, args.seed, params["api_crud"],
                                   int(samples_of(ph, "crud_ops")[0]))
            elif args.workload == "lake_ingest":
                n_check += 1
                bad += checks.ingest(os.path.join(cdir, "table"), need["landing"])
        if args.workload == "query_mix":
            n_check += len(QUERY_KEYS)
            bad += checks.queries(os.path.join(work, "capture"), lake, QUERY_KEYS)
        check_failed = len(bad) - len(res["failures"])
        attempted = sum(p["attempted"] for p in res["phases"]) + n_check
        failed = sum(p["failed"] for p in res["phases"]) + check_failed
        for b in bad:
            sys.stderr.write(f"[perfbench] failed: {b}\n")

        session_s = (res["session_ready_ms"] / 1000 - t_start) - one_time_s - sum(py_fix)
        fixture = [p + j for p, j in zip(py_fix, res["fixture_s"])]
        setup_s = session_s + statistics.median(fixture) + res["warmup_s"]

        first = res["phases"][0]
        report = {"workload": args.workload, "seed": args.seed,
                  "setup_s": {"value": setup_s, "unit": "s", "n": len(fixture)}}
        named = named_metrics(args.workload, first)
        report.update({k: {"value": v, "unit": u, "n": n} for k, (v, u, n) in named.items()})
        probe = samples_of(first, "probe_ms")
        report["host_probe_ms"] = {"value": statistics.median(probe), "unit": "ms", "n": len(probe)}
        if args.trace:
            plain_a, traced, plain_b = res["phases"]
            both = lambda ph: {**named_metrics(args.workload, ph),  # noqa: E731
                               **end_to_end(args.workload, ph, params)}
            a, t, b = both(plain_a), both(traced), both(plain_b)
            report["tracing_overhead"] = {
                k: {"value": t[k][0] - (a[k][0] + b[k][0]) / 2, "unit": t[k][1]} for k in t}
            traces = os.path.join(build.OUT, "traces")
            os.makedirs(traces, exist_ok=True)
            span_file = os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")
            shutil.copyfile(os.path.join(work, "spans.jsonl"), span_file)
            report["spans"] = {"file": os.path.relpath(span_file, ROOT), "count": res["spans"]}
            want = [m["name"] for m in bench["per_layer"]]
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
            have = traced["layers"]
            if sorted(want) != sorted(have):
                raise RunError(f"per-layer metrics differ from BENCHMARK.json: "
                               f"missing {sorted(set(want) - set(have))}, "
                               f"extra {sorted(set(have) - set(want))}")
            metrics = {k: {"value": have[k], "unit": units[k]} for k in want}
        else:
            e2e = end_to_end(args.workload, first, params)
            e2e["setup_s"] = (setup_s, "s", len(fixture))
            want = [m["name"] for m in bench["end_to_end"]]
            if sorted(want) != sorted(e2e):
                raise RunError(f"end-to-end metrics differ from BENCHMARK.json: {sorted(e2e)}")
            report["end_to_end"] = {k: {"value": v, "unit": u, "n": n}
                                    for k, (v, u, n) in e2e.items()}
            metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in want}
        report["wall_s"] = {"before_jvm": t_jvm - t_start, "jvm": t_checks - t_jvm,
                            "after_jvm": time.time() - t_checks}
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.workload not in WORKLOADS:
        sys.stderr.write(f"unknown workload {args.workload}; one of {', '.join(WORKLOADS)}\n")
        sys.exit(2)
    try:
        run(args)
    except (RunError, build.BuildError, OSError) as e:
        sys.stderr.write(f"[perfbench] {e}\n")
        sys.exit(1)


if __name__ == "__main__":
    main()
