"""KG-construction benchmark: drives `Pipeline.run` / `Pipeline.runIncremental`
on one named workload and prints one JSON result as the last line of stdout.

Usage (from the repository root):
  python3 kgbench/run.py --workload build_text --seed 1 --seconds 20 --trace 0
    [--smoke] [--record]

--trace 0 prints the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer ones. --smoke runs the workload at a tiny size for a quick check.
--record prints the reference digests for kgbench/workloads.json.

The JVM side (kgbench/src) writes raw per-iteration samples; this file
checks correctness, reduces samples to medians, writes a host-stamped
artifact under .bench_build/kgbench/runs/ and prints the result.
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

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
HEAP = "3g"
GATE = 0.95  # minimum triple and link precision/recall
DEADLINE_S = 170  # the JVM is killed past this many seconds of run time

SPANS = ["corpus.pages", "chunk.chunks", "extract.extract_all", "extract.embed_text",
         "operators.assembly", "operators.lift", "resolve.embed", "resolve.pairs",
         "resolve.components", "community.louvain", "community.summarize",
         "pipeline.write", "pipeline.merge"]
STATS = ["wall_s", "self_s", "cpu_s", "shuffle_mb", "spill_mb", "jobs", "task_skew"]
COUNTS = ["resolve.pairs_scored", "resolve.pairs_kept", "resolve.flood_buckets",
          "community.levels", "community.modularity"]
STAGES = ["pages", "chunks", "extracted", "entities", "entity_types", "mentions", "triples",
          "embeddings", "chunk_embeddings", "candidate_pairs", "resolves_to",
          "resolved_triples", "type_relationships", "communities", "community_embeddings"]

ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


# ------------------------------------------------------------------ arithmetic

def median(xs):
    return statistics.median(xs)


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


def covered(intervals, lo, hi):
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, end), min(e, hi)
        if e > s:
            total += e - s
            end = e
    return total


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = [[] for _ in spans]
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]].append((s["start_us"], s["end_us"]))
    return [s["end_us"] - s["start_us"] - covered(k, s["start_us"], s["end_us"])
            for s, k in zip(spans, kids)]


def innermost(spans, depth, t):
    """Index of the deepest span containing time t, or None."""
    best = None
    for i, s in enumerate(spans):
        if s["start_us"] <= t < s["end_us"] and (best is None or depth[i] > depth[best]):
            best = i
    return best


def span_metrics(spans, listener):
    """Per-layer stats of one traced call, keyed `<span>.<stat>`; also the
    share of the root span's wall that layer spans cover."""
    depth = []
    for s in spans:
        depth.append(0 if s["parent"] < 0 else depth[s["parent"]] + 1)
    selfs = self_times(spans)
    acc = {n: {"wall_s": 0.0, "self_s": 0.0, "cpu_s": 0.0, "shuffle_mb": 0.0,
               "spill_mb": 0.0, "jobs": 0, "top": None} for n in SPANS}
    for s, own in zip(spans, selfs):
        if s["name"] in acc:
            acc[s["name"]]["wall_s"] += (s["end_us"] - s["start_us"]) / 1e6
            acc[s["name"]]["self_s"] += own / 1e6
    for t in listener.get("job_start_us", []):
        i = innermost(spans, depth, t)
        if i is not None and spans[i]["name"] in acc:
            acc[spans[i]["name"]]["jobs"] += 1
    for st in listener.get("stages", []):
        i = innermost(spans, depth, st["submit_us"])
        if i is None or spans[i]["name"] not in acc:
            continue
        a = acc[spans[i]["name"]]
        a["cpu_s"] += st["cpu_ns"] / 1e9
        a["shuffle_mb"] += st["shuffle_bytes"] / 1e6
        a["spill_mb"] += st["spill_bytes"] / 1e6
        if st["task_ms"] and (a["top"] is None or sum(st["task_ms"]) > sum(a["top"])):
            a["top"] = st["task_ms"]
    out = {}
    for n, a in acc.items():
        top = a.pop("top")
        a["task_skew"] = max(top) / max(median(top), 1) if top else 0.0
        for k in STATS:
            out[f"{n}.{k}"] = float(a[k])
    root = spans[0]
    wall = root["end_us"] - root["start_us"]
    layer_self = sum(own for s, own in zip(spans, selfs) if s["name"] in acc)
    return out, layer_self / wall if wall else 0.0


# -------------------------------------------------------------------- host

def read(path, default=""):
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return default


def steal_ticks():
    for line in read("/proc/stat").splitlines():
        if line.startswith("cpu "):
            f = line.split()
            return int(f[8]) if len(f) > 8 else 0
    return 0


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def host_stamp():
    mem = next((l.split()[1] for l in read("/proc/meminfo").splitlines()
                if l.startswith("MemTotal:")), "0")
    return {"nproc": os.cpu_count(), "mem_total_kb": int(mem),
            "loadavg": read("/proc/loadavg").split()[:3], "git_sha": git_sha(),
            "heap_flags": [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch"]}


# --------------------------------------------------------------------- run

def run_jvm(classes, work, args, sizes, warmup):
    raw = os.path.join(work, "raw.json")
    log = os.path.join(work, "jvm.log")
    cmd = ["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+AlwaysPreTouch", "-Xss8m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "kgbench.KgBench", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--pages", str(sizes["pages"]), "--clusters", str(sizes["clusters"]),
            "--delta", str(sizes["delta"]), "--warmup", str(warmup),
            "--work", work, "--out", raw,
            "--record", "1" if args.record else "0"]
    os.makedirs(os.path.join(work, "tmp"))
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("kgbench: stopped")
        signal.signal(signal.SIGTERM, stop)
        try:
            code = proc.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            sys.stderr.write(read(log)[-4000:])
            stop()
        finally:
            signal.signal(signal.SIGTERM, signal.SIG_DFL)
    if code != 0:
        sys.stderr.write(read(log)[-4000:])
        raise SystemExit(f"kgbench: JVM exited with {code}")
    with open(raw) as f:
        return json.load(f)


def evaluate(raw, expected_digests, trace):
    """(correct, attempted, failed, metrics, notes) from the raw samples."""
    notes = []
    q = raw["quality"]
    pr_ok = len(q) == 4 and all(v >= GATE for v in q.values())
    if not pr_ok:
        notes.append(f"precision/recall gate failed: {q}")
    warm_failed = [w["error"] for w in raw["warmup"] if "error" in w]
    notes += [f"warm-up failed: {e}" for e in warm_failed]
    plain = [s for s in raw["samples"] if s["kind"] == "plain" and "error" not in s]
    expected = expected_digests or next((s["digests"] for s in plain), None)
    # parity: in a traced run every call digests its whole catalog
    reference = next((s.get("catalog_digests") for s in plain), None)

    ok, traced = [], []
    for s in raw["samples"]:
        good = pr_ok and "error" not in s and s["digests"] == expected
        if good and trace and s["catalog_digests"] != reference:
            good = False
            differ = sorted(k for k in set(reference) | set(s["catalog_digests"])
                            if reference.get(k) != s["catalog_digests"].get(k))
            notes.append(f"{s['kind']} sample's catalog differs from the plain call's in {differ}")
        if good and s["kind"] == "traced":
            layer, cov = span_metrics(s["spans"], s["listener"])
            good = cov >= GATE
            if good:
                traced.append((s, layer, cov))
            else:
                notes.append(f"span coverage {cov:.3f} below {GATE}")
        if not good and "error" not in s and s["digests"] != expected:
            notes.append(f"digest mismatch in {s['kind']} sample: {s['digests']} != {expected}")
        if "error" in s:
            notes.append(f"{s['kind']} sample failed: {s['error']}")
        if good and s["kind"] == "plain":
            ok.append(s)
    attempted = len(raw["samples"])
    failed = attempted - len(ok) - len(traced)
    missing = [k for k in COUNTS if k not in raw["counts"]] if trace else []
    if missing:
        notes.append(f"layer counts missing: {missing}")
    correct = failed == 0 and pr_ok and not warm_failed and bool(ok) and not missing
    if not ok or (trace and not traced) or missing:
        return False, attempted, failed, {}, notes

    def prf(p, r):
        return 2 * p * r / (p + r) if p + r else 0.0

    walls = [s["wall_s"] for s in ok]
    if not trace:
        triples = int(ok[0]["digests"]["resolved_triples"].split(":")[0])
        metrics = {
            "wall_s": (median(walls), "s"),
            "triples_per_s": (median([triples / w for w in walls]), "1/s"),
            "setup_s": (raw["session_s"] + raw["warmup_s"] + raw["base_s"]
                        + median([s["prep_s"] for s in ok]), "s"),
            "bytes_written_mb": (median([s["bytes_written"] / 1e6 for s in ok]), "MB"),
            "triple_f1": (prf(q["triple_precision"], q["triple_recall"]), "ratio"),
            "link_f1": (prf(q["link_precision"], q["link_recall"]), "ratio"),
        }
    else:
        metrics = {}
        for k in traced[0][1]:
            metrics[k] = (median([t[1][k] for t in traced]), "count" if k.endswith(".jobs")
                          else "ratio" if k.endswith(".task_skew")
                          else "MB" if k.endswith("_mb") else "s")
        for k in COUNTS:
            metrics[k] = (float(raw["counts"][k]),
                          "ratio" if k == "community.modularity" else "count")
        for name in STAGES:
            metrics[f"stage.{name}.wall_s"] = (median([
                next((st["wall_ms"] for st in s["stages"]
                      if st["name"].removeprefix("incr_") == name), 0) / 1e3
                for s in ok]), "s")
        metrics["jvm.gc_s"] = (median([t[0]["gc_s"] for t in traced]), "s")
        metrics["jvm.heap_peak_mb"] = (median([s["heap_peak_mb"] for s in ok]), "MB")
        # the root span bounds the call itself, without the listener drain
        traced_walls = [t[0]["spans"][0]["end_us"] - t[0]["spans"][0]["start_us"]
                        for t in traced]
        metrics["trace.overhead_s"] = (median(traced_walls) / 1e6 - median(walls), "s")
        metrics["trace.coverage"] = (median([t[2] for t in traced]), "ratio")
        metrics["pipeline.files_written"] = (median([s["files_written"] for s in ok]), "count")
        metrics["pipeline.rewrite_ratio"] = (median([
            s["rewrite_bytes"] / s["delta_pages_bytes"] if s["delta_pages_bytes"] else 0.0
            for s in ok]), "ratio")
    return correct, attempted, failed, metrics, notes


def declared(bench, trace):
    """Metric name → unit declared in BENCHMARK.json for this mode."""
    return {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        raise SystemExit("kgbench: run from a checkout of the repository root "
                         "(src/main/scala/graft not found)")
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"kgbench: unknown workload {args.workload}")
    wl = spec["workloads"][args.workload]
    # smoke runs skip the untimed warm-up calls
    sizes, warmup = (wl["smoke"], 0) if args.smoke else (wl["sizes"], wl["warmup"])

    classes = build.build(".")
    work = os.path.join(build.OUT, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    stamp = host_stamp()
    steal0 = steal_ticks()
    try:
        raw = run_jvm(classes, work, args, sizes, warmup)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp["steal_s"] = (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")
    stamp.update(jdk=raw["jdk"], spark=raw["spark"], cores=raw["cores"])

    if args.record:
        print(json.dumps({k: raw[k] for k in ("record", "own", "quality")}, indent=1))
        ok = raw["record"] == raw["own"]
        raise SystemExit(0 if ok else "kgbench: workload digests differ from the full build")

    recorded = None
    if args.seed == spec["default_seed"]:
        recorded = wl.get("smoke_digests" if args.smoke else "digests")
    correct, attempted, failed, metrics, notes = evaluate(raw, recorded, args.trace)

    want = declared(bench, args.trace)
    if metrics and set(metrics) != set(want):
        raise SystemExit(f"kgbench: emitted metrics differ from BENCHMARK.json: "
                         f"undeclared {sorted(set(metrics) - set(want))}, "
                         f"missing {sorted(set(want) - set(metrics))}")
    bad_units = [k for k, (_, u) in metrics.items() if want[k] != u]
    if bad_units:
        raise SystemExit(f"kgbench: units differ from BENCHMARK.json for {bad_units}")

    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())}}
    artifact = {"args": vars(args), "sizes": sizes, "host": stamp, "notes": notes,
                "quality": raw["quality"], "warmup_s": raw["warmup_s"],
                "warmup": raw["warmup"],
                "session_s": raw["session_s"], "base_s": raw["base_s"],
                "samples": [{k: v for k, v in s.items() if k not in ("spans", "listener")}
                            for s in raw["samples"]], "result": result}
    runs = os.path.join(build.OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    name = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    path = os.path.join(runs, f"{name}-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)
    for n in notes:
        sys.stderr.write(f"kgbench: {n}\n")
    sys.stderr.write(f"kgbench: artifact {path}\n")
    print(json.dumps(result))
    if not metrics:
        sys.exit(1)


if __name__ == "__main__":
    main()
