#!/usr/bin/env python3
"""Benchmark of the graft pipeline engine.

    python3 perfbench/run.py --workload board_mix --seed 1 --seconds 20 --trace 0

Run from the repository root. It builds the engine and the harness
(`build.py`), generates the workload's inputs from the seed (`gen.py`),
runs the harness JVM (`src/Harness.scala`) in closed loop with one client
on `local[<cores>]` with a fixed heap, checks every op's output, and prints
a report followed by one JSON line:
{"correct", "attempted", "failed", "metrics"}. With `--trace 0` the metrics
are the end-to-end ones, with `--trace 1` the per-layer ones from a traced
run. Exits 1 when an output check fails, 2 when the benchmark cannot run.

Output checks: the warm-up pass records a fingerprint of every op's output
(row count plus an order-insensitive hash of all columns) and writes the
output of every op that has an oracle, which is compared with the DuckDB
oracle by `tools/oracle_check.py`. Every timed pass must reproduce each
op's fingerprint; an op whose job count differs between passes is
reported.

`baseline.json` holds the medians of ten seeds per workload measured at
the commit that added the benchmark, with the host they ran on.
"""
import argparse
import contextlib
import glob
import hashlib
import importlib.util
import io
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

# Base tables are the reference schema at this scale factor, generated
# once from a fixed seed; the run seed permutes op order in every pass and
# seeds the near-dup twin board.
BASE_SF = 0.01
BASE_SEED = 42
TWIN_COPIES = 4
# The heap has a fixed size and a fixed young generation, and its pages are
# not touched ahead of use: the young generation is touched in full by the
# first collections, so later passes take few first-touch faults, while the
# process's peak resident set still grows with the old generation, i.e.
# with what the program holds on the heap. Compiler threads are kept for
# the JVM's life so that the CPU they spend can be read and left out of a
# pass's CPU time.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-XX:-UseDynamicNumberOfCompilerThreads"]
JVM_TIMEOUT_S = 160

# Two workloads that stress different layers. Each is sized so a warm pass
# takes a few seconds on a 4-core host: the benchmark's whole budget is a
# few dozen runs of about a minute, and the median of a run needs several
# passes.
WORKLOADS = {
    # A sample of the catalog board: relational and function rows, and rows
    # that write then read back (a csv sink, partition overwrite, a
    # streaming enrich, SCD2 history, expectations). Every row is a few
    # short jobs of a few tasks, so per-job ceremony, planning and the
    # driver dominate, and executor slots sit mostly idle.
    "board_mix": {"data": "base", "ops": [
        "q3_shipping_priority", "j19_asof_events", "w8_interval_collapse",
        "f_udf_scalar", "ml_feature_covariance", "io_csv_roundtrip",
        "io_overwrite_partition", "st_stream_enrich", "pl_scd2_history",
        "dq_expectations"]},
    # The near-dup rows on a mutated x4 twin whose mutation the seed
    # draws: all the work is in the candidate joins of operators
    # (TextDedup, VectorSim) and the simhash expressions of functions. At
    # this size the driver still idles the executors for about half of a
    # pass, as on board_mix, but executor slots are twice as busy.
    "dedup_twins": {"data": "twin", "ops": ["d_simhash", "d_ngram_jaccard", "s_srp_lsh"]},
}

# Rows whose output is checked as a subset of the oracle's instead of equal
# to it, with the least share of the oracle's rows (recall) it must find,
# per workload. d_simhash finds pairs through 16 bands of 4 bits, so its
# recall is guaranteed only to Hamming distance 15; on the mutated twin
# board some pairs above the Jaccard threshold lie beyond it and are
# missed by design (they all appear with 32 bands and Hamming 31). Its
# output must hold only true pairs, and at least the floor's share of
# them: a row that finds fewer fails its check.
BOUNDED_RECALL = {"dedup_twins": {"d_simhash": 0.85}}

# Rows that emit candidate pairs; their output row count is a
# deterministic measure of the pair work.
PAIR_OPS = {"d_simhash", "d_ngram_jaccard", "s_srp_lsh"}

LAYERS = {  # op-name prefix -> layer (module) that does the op's work
    "operators": re.compile(r"^(d|s|e|t)_"),
    "functions": re.compile(r"^(f|ml|m)_"),
    "sources": re.compile(r"^io_"),
    "streaming": re.compile(r"^st_"),
    "pipelines": re.compile(r"^pl_"),
}

JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

# Metric names and units are those BENCHMARK.json declares.
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _SPEC = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}
MB = 1024.0 * 1024.0


class BenchError(Exception):
    """The benchmark could not run (as opposed to a failed output check)."""


def load_avg():
    try:
        return [float(x) for x in build.read_bytes("/proc/loadavg").split()[:3]]
    except OSError:
        return []


def cpu_ticks():
    """(total, steal) CPU ticks of the host since boot, from /proc/stat; steal
    is time this machine's virtual CPUs waited for a physical one."""
    try:
        f = [int(x) for x in build.read_bytes("/proc/stat").split(b"\n")[0].split()[1:]]
        return sum(f), f[7]
    except (OSError, IndexError, ValueError):
        return 0, 0


def source_rev():
    """git revision when run in a clone, else a hash of the engine sources."""
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    for s in build.sources():
        h.update(build.read_bytes(s))
    return "src-" + h.hexdigest()[:16]


def classpath(classes):
    return os.pathsep.join([os.path.join(build.spark_jars(), "*"), classes])


def mutate_copies(classes, seed, k, texts, vecs):
    """The documents' texts and the embeddings' vectors of copies 0..k-1:
    copy 0 as given, the others mutated by `graft.TwinMutate`
    (ScaleSmoke's mutators with the seed folded into the copy index)."""
    import numpy as np
    lines = []
    for i in range(1, k):
        lines += [f"T {i} {t.encode().hex()}" for t in texts]
        lines += [f"V {i} " + ",".join(f"{b:x}" for b in v.view(np.uint32)) for v in vecs]
    try:
        r = subprocess.run(["java", "-Xmx256m", "-XX:-UsePerfData", "-cp", classpath(classes),
                            "graft.TwinMutate", str(seed), str(k)],
                           input="\n".join(lines) + "\n", capture_output=True, text=True,
                           timeout=120)
    except subprocess.TimeoutExpired:
        raise BenchError("twin mutation exceeded 120 s")
    out = r.stdout.split("\n")
    if r.returncode != 0 or len(out) < len(lines):
        raise BenchError(f"twin mutation exited {r.returncode}:\n{r.stderr[-3000:]}")
    all_texts, all_vecs, pos = [texts], [vecs], 0
    for _ in range(1, k):
        all_texts.append([bytes.fromhex(x).decode() for x in out[pos:pos + len(texts)]])
        pos += len(texts)
        all_vecs.append([np.array([int(b, 16) for b in x.split(",")], dtype=np.uint32)
                         .view(np.float32) for x in out[pos:pos + len(vecs)]])
        pos += len(vecs)
    return all_texts, all_vecs


def prepare_data(kind, seed, work, classes):
    """Directory of parquet tables for the workload: the cached base tables,
    or a twin board generated from them for this seed."""
    import gen
    gen_hash = hashlib.sha256(build.read_bytes(os.path.join(HERE, "gen.py"))).hexdigest()[:12]
    base_dir = os.path.join(build.BUILD_DIR, "data", f"base-sf{BASE_SF}-{gen_hash}")
    if not os.path.isfile(os.path.join(base_dir, ".done")):
        stage = base_dir + f".stage-{os.getpid()}"
        shutil.rmtree(stage, ignore_errors=True)
        gen.write_all(gen.base_tables(BASE_SF, BASE_SEED), stage)
        build.touch(os.path.join(stage, ".done"))
        try:
            os.rename(stage, base_dir)
        except OSError:
            shutil.rmtree(stage, ignore_errors=True)
    if kind == "base":
        return base_dir
    import numpy as np
    import pyarrow.parquet as pq
    base = {t: pq.read_table(os.path.join(base_dir, f"{t}.parquet")) for t in gen.TABLES}
    texts, vecs = mutate_copies(
        classes, seed, TWIN_COPIES, base["documents"].column("text").to_pylist(),
        [np.asarray(v, dtype=np.float32) for v in base["embeddings"].column("embedding").to_pylist()])
    twin_dir = os.path.join(work, "twin")
    gen.write_all(gen.twin_board(base, TWIN_COPIES, texts, vecs), twin_dir)
    return twin_dir


def run_jvm(classes, data, ops, seed, seconds, trace, work):
    tmp = os.path.join(work, "tmp")
    out = os.path.join(work, "result.json")
    outputs = os.path.join(work, "outputs")
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS + [
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            # as in ShuffleSmoke: vectored reads bypass the statistics that
            # feed input metrics, so parquet scans would report 0 bytes read
            "-Dspark.hadoop.parquet.hadoop.vectored.io.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK17_OPENS]
           + ["-cp", classpath(classes), "perfbench.Harness", "--data", data, "--ops", ",".join(ops),
              "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--out", out, "--outputs", outputs])
    log = open(os.path.join(work, "jvm.log"), "w")
    launched = time.time()
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BenchError(f"harness exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if rc != 0 or not os.path.isfile(out):
        tail = build.read_bytes(os.path.join(work, "jvm.log"))[-3000:].decode(errors="replace")
        raise BenchError(f"harness exited {rc}:\n{tail}")
    res = json.loads(build.read_bytes(out))
    res["setup_s"] = res["first_op_epoch_s"] - launched
    res["outputs_dir"] = outputs
    spans_file = out + ".spans.jsonl"
    res["spans"] = ([json.loads(line) for line in build.read_bytes(spans_file).splitlines()
                     if line.strip()] if os.path.isfile(spans_file) else [])
    return res


def load_oracle_tool():
    tool = os.path.join(ROOT, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", tool)
    oc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(oc)
    return oc


def bounded_recall(oc, data, out_dir, op, sql, floor):
    """For a row whose recall is bounded by design: every output row must be
    an oracle row (as a multiset, after the oracle tool's canonicalisation),
    and the output must hold at least `floor` of the oracle's rows.
    Returns (problem or None, output rows / oracle rows)."""
    import collections
    import duckdb
    con = duckdb.connect()
    for t in oc.TABLES:
        p = os.path.join(data, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    files = glob.glob(os.path.join(out_dir, op, "*.parquet"))
    if not files:
        return "no output", 0.0
    try:
        sp = con.execute(f"SELECT * FROM read_parquet({files!r})").df()
        du = con.execute(sql).df()
    except duckdb.Error as e:
        return f"oracle error: {e}", 0.0
    if sorted(sp.columns) != sorted(du.columns):
        return f"columns {sorted(sp.columns)} != oracle {sorted(du.columns)}", 0.0
    a = collections.Counter(oc.canon(list(sp.itertuples(index=False, name=None)), list(sp.columns)))
    b = collections.Counter(oc.canon(list(du.itertuples(index=False, name=None)), list(du.columns)))
    extra = a - b
    if extra:
        return f"{sum(extra.values())} output rows are not oracle rows", 0.0
    recall = sum(a.values()) / max(1, sum(b.values()))
    if recall < floor:
        return f"finds {recall:.4f} of the oracle's rows, below {floor}", recall
    return None, recall


def oracle_failures(res, data, workload):
    """Ops whose warm-up output differs from the DuckDB oracle, and the
    measured recall of the bounded-recall rows."""
    oracles = res["oracle"]
    if not oracles:
        return {}, {}
    oc = load_oracle_tool()
    out_dir = res["outputs_dir"]
    bounded = BOUNDED_RECALL.get(workload, {})
    with open(os.path.join(out_dir, "oracle_sql.json"), "w") as f:
        json.dump({k: v for k, v in oracles.items() if k not in bounded}, f)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        oc.main(data, out_dir)
    status = {}
    for line in buf.getvalue().splitlines():
        m = re.match(r"^(PASS|MISS|ERR|COLS|ROWS|HASH)\s+(\S+?):?\s", line + " ")
        if m:
            status[m.group(2)] = (m.group(1), line.strip())
    bad = {op: (status[op][1] if op in status else "no oracle verdict")
           for op in oracles if op not in bounded
           and (op not in status or status[op][0] != "PASS")}
    recall = {}
    for op in sorted(set(bounded) & set(oracles)):
        problem, recall[op] = bounded_recall(oc, data, out_dir, op, oracles[op], bounded[op])
        if problem:
            bad[op] = problem
    return bad, recall


def check_outputs(res, oracle_bad):
    """Checks every op execution: the warm-up's against the oracle, every
    timed one against the warm-up's fingerprint.
    Returns (attempted, failed, problems)."""
    ref = {r["op"]: r for r in res["warmup"]}
    warm_bad = {op: f"warm-up failed: {r['error']}" for op, r in ref.items() if r["error"]}
    for op, why in oracle_bad.items():
        warm_bad.setdefault(op, f"oracle mismatch: {why}")
    problems = [f"{op}: {why}" for op, why in sorted(warm_bad.items())]
    attempted, failed = len(ref), len(warm_bad)
    for p in res["passes"]:
        for r in p["ops"]:
            attempted += 1
            want = ref[r["op"]]
            bad = r["error"]
            if not bad and (r["rows"], r["hash"]) != (want["rows"], want["hash"]):
                bad = (f"fingerprint rows={r['rows']} hash={r['hash']} != "
                       f"warm-up rows={want['rows']} hash={want['hash']}")
            if bad:
                failed += 1
                problems.append(f"{r['op']} (pass {p['pass']}): {bad}")
    return attempted, failed, problems


def timed(res):
    return [p for p in res["passes"] if p["timed"]]


def work_drift(res):
    """Ops whose job count differs between timed passes. Reported, not
    failed: adaptive execution may skip a job when a stage it waits on
    finishes empty first, so the count can depend on timing."""
    jobs = {}
    for p in timed(res):
        for r in p["ops"]:
            jobs.setdefault(r["op"], []).append(r["jobs"])
    return {op: js for op, js in sorted(jobs.items()) if len(set(js)) > 1}


def end_to_end(res):
    """Medians over the timed passes and over every timed op execution."""
    passes = timed(res)
    ops = [r["wall_s"] for p in passes for r in p["ops"]]
    m = {
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_p50_s": stats.percentile(ops, 50),
        "peak_rss_mb": res["peak_rss_mb"],
        "setup_s": res["setup_s"],
    }
    return {k: m[k] for k in END_TO_END}, ops


def per_layer(res):
    """Per-layer metrics: medians over the traced passes."""

    def per_pass(p, spans, nproc):
        recs = p["ops"]
        c = {}
        for r in recs:
            for k, v in r["counters"].items():
                c[k] = c.get(k, 0) + v
        layer = lambda name: [r for r in recs if LAYERS[name].match(r["op"])]  # noqa: E731
        kinds = stats.self_time_by_kind([s for s in spans if s["pass_span"] == p["span_id"]])
        # op time no job covers: the ops' own self time and their phases'
        gap = sum(kinds.get(k, 0.0) for k in ("op", "build", "execute"))
        out = {
            "process.cpu_s": p["cpu_s"],
            "core.scratch_mb": max(r["scratch_bytes"] for r in recs) / MB,
            "queries.build_s": sum(r["build_s"] for r in recs),
            "queries.build_jobs": c.get("build_jobs", 0),
            "plans.analysis_ms": c.get("phase_analysis_ms", 0),
            "plans.optimization_ms": c.get("phase_optimization_ms", 0),
            "plans.planning_ms": c.get("phase_planning_ms", 0),
            "spark.jobs": c.get("jobs", 0), "spark.stages": c.get("stages", 0),
            "spark.tasks": c.get("tasks", 0), "spark.driver_gap_s": gap,
            "spark.exec_cpu_s": c.get("exec_cpu_ns", 0) / 1e9,
            "spark.exec_run_s": c.get("exec_run_ms", 0) / 1e3,
            "spark.gc_s": c.get("gc_ms", 0) / 1e3,
            "spark.task_wait_s": c.get("task_wait_ms", 0) / 1e3,
            "spark.slot_util": c.get("exec_run_ms", 0) / 1e3 / (p["wall_s"] * nproc),
            "spark.shuffle_write_mb": c.get("shuffle_write_bytes", 0) / MB,
            "spark.shuffle_read_mb": c.get("shuffle_read_bytes", 0) / MB,
            "spark.spill_mb": c.get("spill_bytes", 0) / MB,
            "spark.input_mb": c.get("input_bytes", 0) / MB,
            "spark.output_mb": c.get("output_bytes", 0) / MB,
            "spark.output_rows": c.get("output_rows", 0),
            "operators.wall_s": sum(r["wall_s"] for r in layer("operators")),
            "operators.jobs": sum(r["jobs"] for r in layer("operators")),
            "operators.pairs_out": sum(r["rows"] or 0 for r in recs if r["op"] in PAIR_OPS),
            "functions.wall_s": sum(r["wall_s"] for r in layer("functions")),
            "sources.wall_s": sum(r["wall_s"] for r in layer("sources")),
            "sources.files_written": sum(r["files_written"] for r in layer("sources")),
            "sources.disk_mb": sum(r["bytes_written"] for r in layer("sources")) / MB,
            "streaming.wall_s": sum(r["wall_s"] for r in layer("streaming")),
            "streaming.batches": c.get("stream_batches", 0),
            "pipelines.wall_s": sum(r["wall_s"] for r in layer("pipelines")),
            "pipelines.jobs": sum(r["jobs"] for r in layer("pipelines")),
        }
        for k in ("pass", "op", "build", "execute", "job", "stage"):
            out[f"spans.{k}_self_s"] = kinds.get(k, 0.0)
        return out

    spans = res["spans"]
    attach_pass_ids(spans)
    traced = [p for p in timed(res) if p["traced"]]
    plain = [p for p in timed(res) if not p["traced"]]
    rows = [per_pass(p, spans, res["cores"]) for p in traced]
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    x = res["extra"]
    m["core.session_s"] = res["session_s"]
    m["core.tables_cold_s"] = res["tables_cold_s"]
    m["core.tables_hit_ms"] = x["tables_hit_ms"]
    m["spark.floor_probe_s"] = x["floor_probe_s"]
    m["operators.ngram_cand_yield"] = x["ngram_pairs"] / max(1, x["ngram_candidates"])
    m["trace.overhead_frac"] = (statistics.median(p["wall_s"] for p in traced)
                                / statistics.median(p["wall_s"] for p in plain) - 1.0)
    return {k: m[k] for k in PER_LAYER}


def attach_pass_ids(spans):
    """Tag every span with the id of the pass span above it (or None)."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        cur = s
        while cur is not None and cur["kind"] != "pass":
            cur = by_id.get(cur["parent"])
        s["pass_span"] = cur["id"] if cur is not None else None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    wl = WORKLOADS[a.workload]
    load_before = load_avg()
    try:
        classes = build.build()
    except SystemExit as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = prepare_data(wl["data"], a.seed, work, classes)
        ticks0 = cpu_ticks()
        res = run_jvm(classes, data, wl["ops"], a.seed, a.seconds, a.trace == 1, work)
        ticks1 = cpu_ticks()
        oracle_bad, recall = oracle_failures(res, data, a.workload)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)
    attempted, failed, problems = check_outputs(res, oracle_bad)
    host = {
        "nproc": res["cores"], "heap_mb": res["heap_mb"], "jvm": res["jvm"],
        "spark": res["spark"], "rev": source_rev(), "load_before": load_before,
        "load_after": load_avg(), "floor_probe_s": res["extra"]["floor_probe_s"],
        "steal_frac": (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
        "session_s": res["session_s"], "tables_cold_s": res["tables_cold_s"],
        "warmup_s": sum(r["wall_s"] for r in res["warmup"]),
        "pass_s": [round(p["wall_s"], 4) for p in timed(res)],
        "cpu_s": [round(p["cpu_s"], 3) for p in timed(res)],
    }
    if a.trace:
        metrics, units = per_layer(res), PER_LAYER
        host["traced_pass_s"] = statistics.median(p["wall_s"] for p in timed(res) if p["traced"])
        with open(os.path.join(build.BUILD_DIR, f"trace-{a.workload}.jsonl"), "w") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")
    else:
        metrics, ops = end_to_end(res)
        units = END_TO_END
        host["op_executions"] = len(ops)
        p = stats.highest_reportable(len(ops))
        if p is not None and p > 50:
            host[f"op_p{p}_s"] = stats.percentile(ops, p)
    correct = failed == 0 and not problems
    print(f"workload {a.workload} seed {a.seed}: {len(timed(res))} timed passes, "
          f"{attempted} op executions, {failed} failed "
          f"(failed_ops_frac {failed / attempted:.4f})")
    for msg in problems:
        print(f"  problem: {msg}")
    for op, js in work_drift(res).items():
        print(f"  work drift: {op} started {js} jobs in its timed passes")
    for op, r in sorted(recall.items()):
        print(f"  {op}: finds {r:.4f} of the oracle's rows "
              f"(at least {BOUNDED_RECALL[a.workload][op]} required)")
    for k, v in metrics.items():
        print(f"  {k:28s} {v:14.6g} {units[k]}")
    print("host " + json.dumps(host, sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
