#!/usr/bin/env python3
"""The repository's benchmark: dump -> Parquet conversion and an operator
query mix, timed through the program's public entry points.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  convert_fact  ~145 MB two-table plain .sql dump, larger than a quarter
                of the JVM heap (statement cache DISK_ONLY)
  ops_mix       7 oracle-covered operator queries over a generated
                TPC-H-ish Parquet fixture, seed-permuted order

Steps: build the program and perfbench/src from source into .bench_build/
(cached by source hash); generate the input in a separate process (cached
per workload, seed and generator version; its SHA-256 re-checked before
reuse); start one benchmark JVM at local[nproc];
check every output; print one JSON result as the last stdout line.
Exits non-zero on any failed or wrong operation.
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
import uuid

sys.dont_write_bytecode = True  # importing gen.py must not write into the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from gen import digest_sql  # noqa: E402  (the digest both sides compute)
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"

# Operator queries of ops_mix: one or more per operator module. The first
# group is bound by fixed costs (store builds, eager actions, streaming
# micro-batches); the second is compute-shaped, a control that a fixed-cost
# change should not move.
QUERIES = ["d_dedup_apply", "s_hybrid_rrf", "p_semantic_dedup", "st_session",
           "q1_pricing_summary", "t_trigram_search", "mm_scene_cut"]
MODULES = ["RelationalQueries", "SimilarityOps", "DedupOps", "TextOps",
           "MultimodalOps", "PipelineOps", "StreamingOps"]
WORKLOADS = {"convert_fact": "512m", "ops_mix": "1g"}
JVM_TIMEOUT = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def die(msg, code=2):
    log(msg)
    sys.exit(code)


def sha256_file(path):
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        die("no src/main/scala under the current directory: run from the repository root")
    return main + sorted(glob.glob(os.path.join(HERE, "src/*.scala")))


def build():
    """Compile the program and the benchmark's JVM side with scalac from the
    Spark distribution; output cached by a hash of every source file."""
    srcs = sources()
    h = hashlib.sha256(SCALA.encode())
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".done")):
        return out
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    compiler = [os.path.join(SPARK_JARS, f"scala-{p}-{SCALA}.jar")
                for p in ("compiler", "library", "reflect")]
    if not all(os.path.isfile(j) for j in compiler):
        die(f"scala {SCALA} compiler jars not found in {SPARK_JARS}")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    log(f"building {len(srcs)} sources -> {os.path.relpath(out, ROOT)}")
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx1536m", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
                        "-classpath", ":".join(jars), "-d", tmp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        die("build failed")
    open(os.path.join(tmp, ".done"), "w").close()
    os.rename(tmp, out)
    log(f"built in {time.time() - t0:.1f}s")
    return out


def gen_version():
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:12]


def generate(workload, seed):
    """Input dir for (workload, seed, generator version), made by gen.py in
    its own process. On a hit the input's SHA-256 is checked again. The
    first generation of each generator version runs gen.py twice, in two
    processes, and both outputs must be byte-identical."""
    ver = gen_version()
    key_seed = "fixed" if workload == "ops_mix" else f"s{seed}"
    inputs = os.path.join(BUILD, "inputs")
    d = os.path.join(inputs, f"{workload}-{key_seed}-g{ver}")
    rec_path = os.path.join(d, "record.json")
    if os.path.isfile(rec_path):
        rec = json.load(open(rec_path))
        if input_sha(d, rec) == rec["sha256"]:
            return d, rec
        log(f"cached input {d} fails its SHA-256 check; regenerating")
    # keep the cache small: at most one other input per workload
    for old in sorted(glob.glob(os.path.join(inputs, workload + "-*")),
                      key=os.path.getmtime)[:-1]:
        shutil.rmtree(old, ignore_errors=True)
    marker = os.path.join(inputs, f".deterministic-{workload}-g{ver}")
    outs = [d + ".tmp"] + ([] if os.path.isfile(marker) else [d + ".twin"])
    for p in [d] + outs:
        shutil.rmtree(p, ignore_errors=True)
    t0 = time.time()
    procs = [subprocess.Popen([sys.executable, os.path.join(HERE, "gen.py"), workload,
                               str(seed), p]) for p in outs]
    codes = [p.wait(timeout=600) for p in procs]
    if any(codes):
        die(f"generator failed: exit codes {codes}")
    recs = [json.load(open(os.path.join(p, "record.json"))) for p in outs]
    shutil.rmtree(d + ".twin", ignore_errors=True)
    if any(r != recs[0] for r in recs) or input_sha(outs[0], recs[0]) != recs[0]["sha256"]:
        die("generator is not deterministic: two runs with one seed differ")
    if len(outs) == 2:
        open(marker, "w").close()
    os.rename(outs[0], d)
    log(f"generated {workload} seed {seed} in {time.time() - t0:.1f}s"
        + (" (twice, outputs identical)" if len(outs) == 2 else ""))
    return d, recs[0]


def input_sha(d, rec):
    if rec["workload"] == "ops_mix":
        h = hashlib.sha256()
        for name in sorted(rec["tables"]):
            with open(os.path.join(d, f"{name}.parquet"), "rb") as fh:
                h.update(name.encode() + b"\0" + fh.read())
        return h.hexdigest()
    return sha256_file(os.path.join(d, rec["input"]))


def java_cmd(classes, heap, run_dir, args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = ":".join([classes, os.path.join(ROOT, "src/main/resources"), SPARK_JARS + "/*"])
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    return (["java", "-XX:-UsePerfData"] + opens + [f"-Xmx{heap}", f"-Djava.io.tmpdir={run_dir}/tmp",
                                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                                "-cp", cp, "perfbench.Runner"] + args)


def run_jvm(cmd, cwd, log_path, timeout):
    with open(log_path, "ab") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=lf, stderr=subprocess.STDOUT)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


# ------------------------------------------------------------- checks

def digest_query(con, table_dir, columns):
    rel = f"read_parquet('{table_dir}/*.parquet')"
    n, h = con.execute(digest_sql(rel, columns)).fetchone()
    return [n, h]


def check_converts(res, rec, problems):
    """Row counts and dropped INSERTs on every convert; per-table content
    digests on the first and the last. Returns the failed-op count."""
    import duckdb
    con = duckdb.connect()
    convs = [o for o in res["ops"] if o["kind"] == "convert"]
    expect_rows = {t: v["rows"] for t, v in rec["tables"].items()}
    failed = 0
    for k, o in enumerate(convs):
        bad = []
        if "error" in o:
            bad.append(o["error"])
        else:
            if o["rows"] != expect_rows:
                diff = {t: (o["rows"].get(t), expect_rows.get(t))
                        for t in set(o["rows"]) | set(expect_rows)
                        if o["rows"].get(t) != expect_rows.get(t)}
                bad.append(f"row counts differ (got, expected): {dict(list(diff.items())[:5])}")
            if o["dropped"] != rec["orphan_inserts"]:
                bad.append(f"droppedInserts {o['dropped']} != planted {rec['orphan_inserts']}")
            if k in (0, len(convs) - 1):
                for t, v in sorted(rec["tables"].items()):
                    got = digest_query(con, os.path.join(o["out"], t), v["columns"])
                    if got != v["digest"]:
                        bad.append(f"content digest of {t}: {got} != {v['digest']}")
        if bad:
            failed += 1
            problems.append(f"convert {o['index']}: " + "; ".join(bad))
    return failed


def canon(df):
    """tools/check.py's canonical form: columns sorted by name, timestamps at
    microsecond resolution, rows sorted by every column."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[us]")
    if len(df):
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def frame_diff(got, exp):
    if list(got.columns) != list(exp.columns):
        return f"cols {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if str(g.dtype) != str(e.dtype):
            return f"dtype[{c}] {g.dtype} vs {e.dtype}"
        if not g.equals(e):
            neq = (g != e) & ~(g.isna() & e.isna())
            if neq.any():
                i = neq.idxmax()
                return f"val[{c}] row{i}: {g[i]!r} vs {e[i]!r} (n={int(neq.sum())})"
    return None


def oracle_answer(con, sql, fixture_sha):
    """DuckDB's canonical answer to `sql` over the fixture. The fixture's
    content is fixed, so answers are cached by (fixture SHA-256, SQL)."""
    import pandas as pd
    key = hashlib.sha256((fixture_sha + "\0" + sql).encode()).hexdigest()[:24]
    path = os.path.join(BUILD, "oracle", key + ".pkl")
    if os.path.isfile(path):
        return pd.read_pickle(path)
    df = canon(con.execute(sql).fetchdf())
    os.makedirs(os.path.dirname(path), exist_ok=True)
    df.to_pickle(path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def check_queries(res, fixture, fixture_sha, problems):
    """Each query's first-pass result against DuckDB running its oracle SQL
    over the same Parquet, and its result of every later pass against its
    first."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for p in glob.glob(os.path.join(fixture, "*.parquet")):
        t = os.path.basename(p)[:-8]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def load(d):
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        return canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))

    failed = 0
    first = {}
    for o in res["ops"]:
        bad = o.get("error")
        if bad is None and "result" in o:
            got = load(o["result"])
            if o["pass"] == 0:
                first[o["name"]] = got
                sql = res["queries"][o["name"]]["oracle"]
                if sql is None:
                    bad = "no oracle SQL"
                else:
                    d = frame_diff(got, oracle_answer(con, sql, fixture_sha))
                    bad = d and f"differs from the DuckDB oracle: {d}"
            elif o["name"] in first:
                d = frame_diff(got, first[o["name"]])
                bad = d and f"pass {o['pass']} differs from pass 0: {d}"
        if bad:
            failed += 1
            problems.append(f"{o['name']} pass {o['pass']}: {bad}")
    return failed


# ------------------------------------------------------------ metrics

def med(xs):
    return statistics.median(xs) if xs else 0.0


def convert_layers(res, rec):
    convs = [o for o in res["ops"] if o["kind"] == "convert" and "error" not in o]
    per = []
    for o in convs:
        ph = o["phases"]
        tot = lambda pred: sum(v for n, v in ph if pred(n))
        tables = {}
        for n, v in ph:
            if n.startswith(("write:", "count:")):
                t = n.split(":", 1)[1]
                tables[t] = tables.get(t, 0.0) + v
        per.append({
            "DumpConverter.fingerprint_s": tot(lambda n: n == "fingerprint"),
            "DumpConverter.assemble_s": tot(lambda n: n == "assemble"),
            "DumpConverter.route_s": tot(lambda n: n == "route"),
            "DumpConverter.write_s": tot(lambda n: n.startswith("write:")),
            "DumpConverter.count_s": tot(lambda n: n.startswith("count:")),
            "DumpConverter.per_table_s": med(list(tables.values())),
            "DumpConverter.tables": len(tables),
            "DumpConverter.other_s": o["wall_s"] - tot(lambda n: True)})
    out = {k: med([p[k] for p in per]) for k in per[0]} if per else {}
    out["per_convert"] = per
    last = convs[-1]["out"] if convs else None
    files = glob.glob(os.path.join(last, "**", "part-*.parquet"), recursive=True) if last else []
    size = sum(os.path.getsize(f) for f in files)
    out["parquet.mb"] = size / 1e6
    out["parquet.files"] = len(files)
    out["out_bytes_ratio"] = size / rec["uncompressed_bytes"] if files else 0.0
    return out


def query_layers(res):
    qs = [o for o in res["ops"] if o["kind"] == "query" and "error" not in o]
    warm = [o for o in qs if o["pass"] > 0]
    plan = res.get("plan_ms_by_span", {})
    by_q = {}
    for o in warm:
        by_q.setdefault(o["name"], []).append(o)
    out = {"query.eager_s": 0.0, "query.exec_s": 0.0, "query.plan_s": 0.0}
    out.update({f"{m}.warm_s": 0.0 for m in MODULES})
    out.update({f"query.{q}.warm_s": 0.0 for q in QUERIES})
    for q, os_ in by_q.items():
        w = med([o["wall_s"] for o in os_])
        out["query.eager_s"] += med([o["eager_s"] for o in os_])
        out["query.exec_s"] += med([o["wall_s"] - o["eager_s"] for o in os_])
        out["query.plan_s"] += med([plan.get(str(o["span"]), 0) / 1000.0 for o in os_])
        out[f"query.{q}.warm_s"] = w
        m = res["queries"][q]["module"]
        if f"{m}.warm_s" in out:
            out[f"{m}.warm_s"] += w
    return out


def self_times(spans):
    """Self time of each span: its duration minus the part of it covered by
    its children."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()
    nproc = len(os.sched_getaffinity(0))  # what `nproc` prints
    load = os.getloadavg()[0] / nproc
    classes = build()
    inp, rec = generate(a.workload, a.seed)

    run_id = uuid.uuid4().hex[:12]
    run_dir = os.path.join(BUILD, "runs", run_id)
    for sub in ("tmp", "spark-local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub))
    disk_before = shutil.disk_usage(BUILD).free
    heap = WORKLOADS[a.workload]
    jlog = os.path.join(run_dir, "jvm.log")
    order = list(QUERIES)
    random.Random(a.seed).shuffle(order)
    try:
        out = os.path.join(run_dir, "result.json")
        target = os.path.join(inp, rec["input"]) if a.workload != "ops_mix" else inp
        code = run_jvm(java_cmd(classes, heap, run_dir, [
            "--workload", a.workload, "--input", target,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--cores", str(nproc),
            "--order", ",".join(order), "--run-dir", run_dir, "--out", out,
            "--local-dir", os.path.join(run_dir, "spark-local")]),
            os.path.join(run_dir, "cwd"), jlog, JVM_TIMEOUT)
        if code != 0 or not os.path.isfile(out):
            with open(jlog, errors="replace") as fh:
                print(fh.read()[-3000:], file=sys.stderr)
            die(f"benchmark JVM failed (exit {code})", 3)
        res = json.load(open(out))

        problems = []
        if a.workload == "ops_mix":
            failed = check_queries(res, inp, rec["sha256"], problems)
        else:
            failed = check_converts(res, rec, problems)
            if not all(o.get("disk_only") for o in res["ops"]):
                problems.append(f"workload precondition: statement cache not DISK_ONLY "
                                f"at heap {heap}")
        attempted = len(res["ops"])

        if a.workload == "ops_mix":
            first_s = sum(o["wall_s"] for o in res["ops"] if o["pass"] == 0)
            by_q = {}
            for o in res["ops"]:
                if o["pass"] > 0:
                    by_q.setdefault(o["name"], []).append(o["wall_s"])
            warm_s = sum(med(v) for v in by_q.values())
            passes = 1 + max(o["pass"] for o in res["ops"])
        else:
            first_s = res["ops"][0]["wall_s"]
            warm_s = med([o["wall_s"] for o in res["ops"][1:]])
            passes = len(res["ops"])
        e2e = {
            "setup_s": (res["setup_s"], "s"),
            "first_s": (first_s, "s"),
            "warm_s": (warm_s, "s"),
            "input_mb_s": (rec["uncompressed_bytes"] / 1e6 / warm_s if warm_s else 0.0, "MB/s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB"),
        }
        layers = dict(res["layers"])
        conv = convert_layers(res, rec) if a.workload != "ops_mix" else {}
        per_convert = conv.pop("per_convert", [])
        for k in ["DumpConverter.fingerprint_s", "DumpConverter.assemble_s",
                  "DumpConverter.route_s", "DumpConverter.write_s", "DumpConverter.count_s",
                  "DumpConverter.per_table_s", "DumpConverter.tables", "DumpConverter.other_s",
                  "parquet.mb", "parquet.files", "out_bytes_ratio"]:
            layers[k] = conv.get(k, 0.0)
        layers.update(query_layers(res))
        if a.workload != "ops_mix":
            plan = res.get("plan_ms_by_span", {})
            layers["query.plan_s"] = med([v / 1000.0 for v in plan.values()]) if plan else 0.0
        spans = res.get("spans", [])
        selfs = self_times(spans)
        disk_after = shutil.disk_usage(BUILD).free
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    correct = not problems
    ident = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "run_id": run_id,
        "nproc": nproc, "load_per_core": round(load, 3), "jvm_max_heap_mb": res["max_heap_mb"],
        "heap": heap, "spark": res["spark_version"], "git_commit": git_commit(),
        "source_hash": os.path.basename(classes)[len("classes-"):],
        "input_sha256": rec["sha256"], "generator": gen_version(), "input_bytes": rec["uncompressed_bytes"],
        "query_order": order if a.workload == "ops_mix" else None,
        "passes": passes, "loop_wall_s": res["loop_wall_s"], "untimed_s": res["untimed_s"],
        "free_disk_mb_before": disk_before // 1000000, "free_disk_mb_after": disk_after // 1000000,
        "wall_s": round(time.time() - t_start, 3), "problems": problems,
    }
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    units = per_layer_units()
    if a.trace:
        metrics = {k: {"value": layers[k], "unit": units[k]} for k in units}
    record = {"identity": ident, "end_to_end": {k: v for k, (v, _) in e2e.items()},
              "ops": [{k: v for k, v in o.items() if k in ("kind", "name", "index", "pass",
                                                              "wall_s", "eager_s", "phases")}
                      for o in res["ops"]],
              "per_layer": layers if a.trace else None, "per_convert": per_convert}
    if a.trace:
        record["spans"] = [dict(s, self_s=selfs[s["id"]]) for s in spans]
        record["tracing_overhead"] = tracing_overhead(a.workload, ident["source_hash"], warm_s)
        log(f"tracing overhead: {json.dumps(record['tracing_overhead'])}")
    else:
        remember_untraced(a.workload, ident["source_hash"], warm_s)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}-seed{a.seed}-{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for p in problems:
        log("FAILED " + p)
    print(json.dumps({"identity": ident}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def git_commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def remember_untraced(workload, source_hash, warm_s):
    p = os.path.join(BUILD, "untraced-warm.json")
    hist = json.load(open(p)) if os.path.isfile(p) else {}
    key = f"{workload}@{source_hash}"
    hist[key] = (hist.get(key, []) + [warm_s])[-10:]
    with open(p, "w") as fh:
        json.dump(hist, fh)


def tracing_overhead(workload, source_hash, traced_warm_s):
    """Traced warm time against the median of this checkout's recent untraced
    runs of the same workload on the same build; none without such runs."""
    p = os.path.join(BUILD, "untraced-warm.json")
    hist = (json.load(open(p)) if os.path.isfile(p) else {}).get(f"{workload}@{source_hash}", [])
    if not hist:
        return {"traced_warm_s": traced_warm_s, "untraced_warm_s": None, "overhead_frac": None}
    base = med(hist)
    return {"traced_warm_s": traced_warm_s, "untraced_warm_s": base,
            "untraced_runs": len(hist), "overhead_frac": traced_warm_s / base - 1}


if __name__ == "__main__":
    main()
