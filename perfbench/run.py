#!/usr/bin/env python3
"""graft benchmark: one workload run, timed end to end and split by layer.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md):
  query_mix       the registered queries of perfbench/mix.json, seeded order
  pipeline_batch  a cold Pipeline.run load, then upserts of seeded deltas
  stream_admit    admit -> maintain -> release -> media admit over a seeded feed

The script builds the engine and the harness from source (cached under
.bench_build/), stages the inputs from the seed into a fresh scratch dir
under .bench_runs/, runs one JVM on local[4], checks the outputs, deletes
the scratch dir, keeps the full record under .bench_results/ and prints
one JSON object as its last line.  --trace 0 reports the end-to-end
metrics; --trace 1 reports the per-layer metrics of BENCHMARK.json.

    python3 perfbench/run.py --registry <out.json>

times every registered query instead (traced, at the query_mix scale) and
writes the per-query table that perfbench/choose_mix.py picks the mix from.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import gen  # noqa: E402

CORES = 4
DATA_SEED = 42
TIMEOUT_S = 170
# scale factor of the generated tables, per workload
SF = {"query_mix": 0.001, "pipeline_batch": 0.01, "stream_admit": 0.02}
FEED_BATCHES = 10
WARM_FEED_BATCHES = 2
MIN_DRAINS = 1  # stream_admit drains per run (PerfBench.MinDrains)
WARM_FEED_ROWS = 20  # per batch of the warm-up feed
STAGING_REPEATS = 3
MIN_PASSES = 2  # query_mix passes per run
REGISTRY_TIMEOUT_S = 900
# a feed file costs ~2 s to drain through the three loops, so the ten samples
# beyond a tail that the other workloads keep would take 21 files (~45 s) a
# run; the stream's tail keeps three beyond it instead
STREAM_TAIL_BEYOND = 3
MIN_PIPELINE_UNITS = 3  # load + upserts units per run (PerfBench.MinPipelineUnits)
DELTAS = 3  # seeded deltas, each upserted once per unit (PerfBench.UpsertsPerUnit)
# nine upserts a run: the pipeline's tail keeps two samples beyond it
PIPELINE_TAIL_BEYOND = 2
JACCARD = 0.5  # Streaming.corpusAdmitStream's default minJaccard
DUP_OFFSET = 1_000_000
DELTA_UPDATE_FRAC = 0.05
DELTA_INSERT_FRAC = 0.01
LOOPS = ["corpus_admit", "maintain", "media_admit"]
MODULES = ["queries.Relational", "queries.PipelineQueries", "queries.Profiling",
           "ext.TextAnalysis", "ext.Dedup", "ext.Similarity", "ext.Sampling",
           "ext.Packing", "ext.Redaction", "ext.Snapshot", "ext.CorpusBuild",
           "ext.LmScore", "ext.Selection", "pipeline.Ingest", "ext.Multimodal",
           "ext.Integrity", "ext.Rollup", "queries.Advanced"]
PIPELINE_SPANS = ["OrdersDomain.fromTpch", "Ingest.collectAll", "SchemaCheck.validate",
                  "Quality.metrics", "Clean.apply", "Enrich.apply", "Standardize.apply",
                  "Pipeline.drop_count", "Store.upsertOrders"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build -------------------------------------------------------------------

def sources(root):
    files = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True))
    return files


def spark_jars(root):
    """The Spark jars directory the engine's build.sbt compiles against
    (its `unmanagedBase`), or None."""
    path = os.path.join(root, "build.sbt")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    return m.group(1) if m and os.path.isdir(m.group(1)) else None


def build(root, jars):
    """Compiles the engine and the harness with the Scala compiler shipped in
    the Spark distribution; reuses the classes while the sources are unchanged."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "perfbench", h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.isdir(classes):
        return classes
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                        "-d", os.path.join(tmp, "classes")] + files,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    os.rename(tmp, out)
    log(f"compiled in {time.time() - t0:.1f} s")
    return classes


# ---- inputs ------------------------------------------------------------------

def stage_delta(data, out, seed, k):
    """The k-th upsert's input: a seeded row subset of lineitem with changed
    discounts and a later ship date (updates), plus seeded new line numbers
    (inserts), beside copies of the tables the orders domain joins. Each
    delta ships a day later than the one before and inserts under its own
    line number, so every delta's rows replace whatever the table holds
    under their keys (Store keeps the latest ingested_at per key)."""
    os.makedirs(out)
    for t in ("orders", "customer", "part"):
        shutil.copy(os.path.join(data, f"{t}.parquet"), out)
    li = pq.read_table(os.path.join(data, "lineitem.parquet"))
    rng = np.random.default_rng(seed)
    n = li.num_rows
    upd = np.sort(rng.choice(n, int(n * DELTA_UPDATE_FRAC), replace=False))
    ins = np.sort(rng.choice(n, int(n * DELTA_INSERT_FRAC), replace=False))
    u = li.take(pa.array(upd))
    disc = np.round((np.round(u["l_discount"].to_numpy() * 100) + 1) % 11 / 100.0, 2)
    later = pa.array(np.full(len(upd), np.datetime64("2001-12-01", "us") + np.timedelta64(k, "D")),
                     pa.timestamp("us"))
    u = u.set_column(u.schema.get_field_index("l_discount"), "l_discount", pa.array(disc))
    u = u.set_column(u.schema.get_field_index("l_shipdate"), "l_shipdate", later)
    i = li.take(pa.array(ins))
    i = i.set_column(i.schema.get_field_index("l_linenumber"), "l_linenumber",
                     pa.array(np.full(len(ins), 8 + k, np.int32)))
    pq.write_table(pa.concat_tables([u, i]), os.path.join(out, "lineitem.parquet"))
    return {"delta_updates": len(upd), "delta_inserts": len(ins),
            "delta_update_rows_head": upd[:10].tolist(), "delta_insert_rows_head": ins[:10].tolist()}


def stage_feed(data, out, warm, seed):
    """The streaming feed: the documents plus planted duplicates (same text,
    id + 1,000,000) of a seeded ~1/7 of them, split into one parquet file per
    trigger; each duplicate lands in a later batch than its original.  A
    slice of its first batches, in `warm`, serves the warm-up drain."""
    os.makedirs(out)
    os.makedirs(warm)
    docs = pq.read_table(os.path.join(data, "documents.parquet"))
    rng = np.random.default_rng(seed)
    n = docs.num_rows
    batch = rng.integers(0, FEED_BATCHES, n)
    cand = np.flatnonzero(batch < FEED_BATCHES - 1)
    dup_rows = np.sort(rng.choice(cand, len(cand) // 7, replace=False))
    dup_batch = np.array([rng.integers(batch[r] + 1, FEED_BATCHES) for r in dup_rows], np.int64)
    dups = docs.take(pa.array(dup_rows))
    dups = dups.set_column(0, "doc_id", pa.array(dups["doc_id"].to_numpy() + DUP_OFFSET))
    feed = pa.concat_tables([docs, dups])
    feed_batch = np.concatenate([batch, dup_batch])
    t = time.time() - 3600
    sizes = []
    for b in range(FEED_BATCHES):
        part = feed.filter(pa.array(feed_batch == b))
        p = os.path.join(out, f"batch_{b:03d}.parquet")
        pq.write_table(part, p)
        os.utime(p, (t + b, t + b))  # the file source reads in mtime order
        sizes.append(part.num_rows)
        if b < WARM_FEED_BATCHES:
            w = os.path.join(warm, f"batch_{b:03d}.parquet")
            pq.write_table(part.slice(0, WARM_FEED_ROWS), w)
            os.utime(w, (t + b, t + b))
    return {"feed_batches": FEED_BATCHES, "feed_rows": feed.num_rows,
            "batch_rows": sizes, "planted_duplicates": len(dup_rows),
            "planted_head": [[int(docs["doc_id"][int(r)].as_py()), int(bb)]
                             for r, bb in zip(dup_rows[:10], dup_batch[:10])]}


def shingles(text):
    """Distinct 3-word shingles, as Dedup.shingleRows cuts them."""
    w = text.split(" ")
    return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)} if len(w) >= 3 else set()


def replay_admission(feed):
    """The doc ids corpusAdmitStream must admit from `feed`, recomputed here
    from the staged files in trigger order with Dedup.admitBatch's rule: a
    doc is rejected when its text is already in the corpus, when a smaller
    id in its batch has the same text, or when it shares shingles with a
    corpus doc at Jaccard >= 0.5; the batch's admitted docs then join the
    corpus."""
    corpus_text, corpus_sh, index, admitted = set(), {}, {}, []
    for f in sorted(glob.glob(os.path.join(feed, "batch_*.parquet"))):
        rows = pq.read_table(f, columns=["doc_id", "text"]).to_pylist()
        keeper = {}
        for r in rows:
            keeper[r["text"]] = min(keeper.get(r["text"], r["doc_id"]), r["doc_id"])
        new = []
        for r in rows:
            if r["text"] in corpus_text or r["doc_id"] != keeper[r["text"]]:
                continue
            sh = shingles(r["text"])
            common = {}
            for g in sh:
                for d in index.get(g, ()):
                    common[d] = common.get(d, 0) + 1
            if not any(c / (len(sh) + len(corpus_sh[d]) - c) >= JACCARD
                       for d, c in common.items()):
                new.append((r["doc_id"], r["text"], sh))
        for d, text, sh in new:
            corpus_text.add(text)
            corpus_sh[d] = sh
            for g in sh:
                index.setdefault(g, []).append(d)
            admitted.append(d)
    return sorted(admitted)


def stage(workload, seed, data, inputs):
    """Generates the tables and the seed's inputs; returns what the seed
    selected."""
    os.makedirs(inputs)
    gen.generate(data, SF[workload], DATA_SEED)
    selection = {"seed": seed, "sf": SF[workload], "data_seed": DATA_SEED}
    if workload == "pipeline_batch":
        selection["deltas"] = [stage_delta(data, os.path.join(inputs, f"delta_{k}"),
                                           seed * DELTAS + k, k) for k in range(DELTAS)]
    elif workload == "stream_admit":
        selection.update(stage_feed(data, os.path.join(inputs, "feed"),
                                    os.path.join(inputs, "warm_feed"), seed))
    return selection


# ---- statistics --------------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, n_min, beyond=10):
    """Timing tail: the highest percentile with at least `beyond` samples
    beyond it when a run yields its guaranteed minimum of `n_min` samples,
    taken by nearest rank, so every run reports the same percentile whatever
    its sample count."""
    if not xs:
        return 0.0, 0.0
    p = max(0.5, 1.0 - beyond / n_min)
    s = sorted(xs)
    return s[max(0, math.ceil(p * len(s)) - 1)], 100.0 * p


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


# ---- metrics -----------------------------------------------------------------

def check_queries(rec, refs, failures):
    """Per-query row count and content hash against the references."""
    for q in rec["queries"]:
        if not q["ok"]:
            continue
        want = refs.get(q["name"])
        got = [q["rows"], q["h1"], q["h2"]]
        if want is None:
            failures.append({"op": q["name"], "class": "perfbench.MissingReference",
                             "message": "no reference for this query"})
        elif [want["rows"], want["h1"], want["h2"]] != got:
            failures.append({"op": q["name"], "class": "perfbench.OutputMismatch",
                             "message": f"pass {q['pass']}: got rows/hash {got}, "
                                        f"reference {[want['rows'], want['h1'], want['h2']]}"})


def unit_e2e(workload, u):
    """The end-to-end time of one unit, for the tracing-overhead pairs."""
    if workload == "query_mix":
        return u["mix_wall_s"]
    if workload == "pipeline_batch":
        return u["load_s"] + sum(x["upsert_s"] for x in u["upserts"])
    return u["drain_s"]


def end_to_end(workload, rec):
    """Throughput and operation latency of the untraced units, under the same
    names on every workload (BENCHMARK.json wants every end-to-end metric
    from every workload):

      workload        items_per_s                 op_p50_s / op_tail_s: one op is
      query_mix       queries / pass wall         a query (build + execute)
      pipeline_batch  records stored / load wall  an upsert of a seeded delta
      stream_admit    feed rows / drain wall      a feed file through the three loops
    """
    units = [u for u in rec["units"] if not u["traced"]]
    info = {}
    if workload == "query_mix":
        rate = [len(rec["mix"]) / u["mix_wall_s"] for u in units]
        ops = [q["wall_s"] for q in rec["queries"]
               if q["pass"] >= 0 and not q["traced"] and q["ok"]]
        p50, (tl, pct) = median(ops), tail(ops, MIN_PASSES * len(rec["mix"]))
        info.update(mix_wall_s=median([u["mix_wall_s"] for u in units]), passes=len(units))
    elif workload == "pipeline_batch":
        rate = [u["records_stored"] / u["load_s"] for u in units if u["records_stored"]]
        ops = [x["upsert_s"] for u in units for x in u["upserts"]]
        p50, (tl, pct) = median(ops), tail(ops, MIN_PIPELINE_UNITS * DELTAS,
                                           PIPELINE_TAIL_BEYOND)
        info.update(load_s=median([u["load_s"] for u in units]), units=len(units))
    else:
        rate = [u["feed_rows"] / u["drain_s"] for u in units]
        ops = [t for u in units for t in per_file(u)]
        p50, (tl, pct) = median(ops), tail(ops, MIN_DRAINS * FEED_BATCHES, STREAM_TAIL_BEYOND)
        info.update(drain_s=median([u["drain_s"] for u in units]), drains=len(units),
                    triggers={l: [len(u["loops"][l]) for u in units] for l in LOOPS})
    info.update(op_samples=len(ops), op_tail_percentile=round(pct, 2))
    return {"items_per_s": median(rate), "op_p50_s": p50, "op_tail_s": tl}, info


def per_file(u):
    """One sample per feed file: the triggerExecution seconds its rows cost
    in all three loops. corpus_admit and media_admit read the feed, one file
    per trigger; maintain reads the corpus table, one appended file per
    trigger, so its i-th trigger carries the i-th feed file's admitted rows
    (if the appends wrote more or fewer files, maintain's triggers are
    spread over the feed files by position)."""
    n = len(u["loops"]["corpus_admit"])
    out = [0.0] * n
    for l in LOOPS:
        bs = u["loops"][l]
        for j, b in enumerate(bs):
            out[min(n - 1, j * n // len(bs))] += b["trigger_ms"] / 1000.0
    return out


def per_layer_names():
    names = ["spark.build_s", "spark.build_jobs", "spark.analysis_s", "spark.optimization_s",
             "spark.planning_s", "spark.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
             "spark.tasks_per_stage", "spark.task_wait_s", "spark.task_run_s",
             "spark.task_cpu_s", "spark.gc_s", "spark.busy_frac", "spark.shuffle_read_bytes",
             "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.peak_exec_mem_bytes",
             "spark.input_bytes", "spark.output_bytes"]
    for mod in MODULES:
        names += [f"{mod}.wall_s", f"{mod}.build_s", f"{mod}.jobs"]
    for s in PIPELINE_SPANS:
        names += [f"pipeline.{s}_s", f"pipeline.{s}_jobs"]
    names += ["pipeline.Store.log_s", "pipeline.Store.bytes_written",
              "pipeline.Store.files_written", "pipeline.Store.write_amp",
              "pipeline.Pipeline.report_gap_s"]
    for l in LOOPS:
        names += [f"streaming.{l}.{k}" for k in
                  ("batch_s", "add_batch_s", "planning_s", "commit_s", "jobs_per_batch",
                   "source_reads_per_row", "growth", "state_bytes")]
    names += ["ext.CorpusBuild.publishRelease_s", "ext.CorpusCache.build_s",
              "host.load_1m_start", "host.load_1m_end", "trace_overhead_frac"]
    return names


def per_layer(workload, rec, load_start, load_end):
    """Per-layer metrics from the traced units' spans; a layer the workload
    does not exercise reads 0."""
    m = {n: 0.0 for n in per_layer_names()}
    traced = [u for u in rec["units"] if u["traced"]]
    plain = [u for u in rec["units"] if not u["traced"]]
    tunits = {u["unit"] for u in traced}
    n = max(1, len(traced))
    by_id = {s["id"]: s for s in rec["spans"]}
    traced_spans = [s for s in rec["spans"] if s["unit"] in tunits]
    dur = lambda s: s["end_s"] - s["start_s"]
    C = lambda s, k: s["counters"][k]

    def ancestors(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
            yield s

    def subtree_jobs(root):
        return sum(C(s, "jobs") for s in spans if s is root or root in list(ancestors(s)))

    # the engine totals cover the units' own calls, not the stage replay
    spans = [s for s in traced_spans if s["kind"] != "replay"
             and not any(a["kind"] == "replay" for a in ancestors(s))]
    tot = lambda k: sum(C(s, k) for s in spans)
    builds = [s for s in spans if s["kind"] == "build"]
    execs = [s for s in spans if s["kind"] == "exec"
             and not any(a["kind"] == "exec" for a in ancestors(s))]
    tops = [s for s in spans if s["parent"] < 0]
    m["spark.build_s"] = sum(map(dur, builds)) / n
    m["spark.build_jobs"] = sum(C(s, "jobs") for s in builds) / n
    m["spark.analysis_s"] = tot("analysis_ms") / 1000 / n
    m["spark.optimization_s"] = tot("optimization_ms") / 1000 / n
    m["spark.planning_s"] = tot("planning_ms") / 1000 / n
    m["spark.exec_s"] = sum(map(dur, execs)) / n
    for k in ("jobs", "stages", "tasks"):
        m[f"spark.{k}"] = tot(k) / n
    m["spark.tasks_per_stage"] = tot("tasks") / max(1, tot("stages"))
    m["spark.task_wait_s"] = tot("task_wait_ms") / 1000 / n
    m["spark.task_run_s"] = tot("task_run_ms") / 1000 / n
    m["spark.task_cpu_s"] = tot("task_cpu_ns") / 1e9 / n
    m["spark.gc_s"] = tot("gc_ms") / 1000 / n
    wall = sum(map(dur, tops))
    m["spark.busy_frac"] = tot("task_run_ms") / 1000 / (wall * CORES) if wall else 0.0
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes",
              "output_bytes"):
        m[f"spark.{k}"] = tot(k) / n
    m["spark.peak_exec_mem_bytes"] = max([C(s, "peak_exec_mem_bytes") for s in spans] or [0])

    if workload == "query_mix":
        for mod in MODULES:
            qs = [s for s in spans if s["kind"] == "query" and s.get("module") == mod]
            m[f"{mod}.wall_s"] = sum(map(dur, qs)) / n
            m[f"{mod}.build_s"] = sum(dur(c) for c in builds if by_id[c["parent"]] in qs) / n
            m[f"{mod}.jobs"] = sum(subtree_jobs(q) for q in qs) / n
        m["ext.CorpusCache.build_s"] = rec["cache_build_s"]
    elif workload == "pipeline_batch":
        for st in PIPELINE_SPANS + ["Store.log"]:
            ss = [s for s in traced_spans if s["name"] == f"pipeline.{st}"]
            m[f"pipeline.{st}_s"] = sum(map(dur, ss)) / n
            if st != "Store.log":
                m[f"pipeline.{st}_jobs"] = sum(C(s, "jobs") for s in ss) / n
        ups = [x for u in traced for x in u["upserts"]]
        m["pipeline.Store.bytes_written"] = median([x["bytes_written"] for x in ups])
        m["pipeline.Store.files_written"] = median([x["files_written"] for x in ups])
        m["pipeline.Store.write_amp"] = median([x["bytes_written"] / x["delta_bytes"]
                                                for x in ups if x["delta_bytes"]])
        loads = {s["unit"]: dur(s) for s in spans if s["name"] == "pipeline.Pipeline.run"
                 and by_id[s["parent"]]["name"] == "pipeline.Pipeline.run_load"}
        m["pipeline.Pipeline.report_gap_s"] = median(
            [loads[u["unit"]] - sum(u["load_stage_s"].values())
             for u in traced if u["load_stage_s"] and u["unit"] in loads])
    else:
        admitted = rec.get("admitted", {}).get("docs", 0)
        for l in LOOPS:
            bs = [b for u in traced for b in u["loops"][l]]
            sec = lambda k: median([b[k] / 1000.0 for b in bs])
            m[f"streaming.{l}.batch_s"] = sec("trigger_ms")
            m[f"streaming.{l}.add_batch_s"] = sec("add_batch_ms")
            m[f"streaming.{l}.planning_s"] = sec("planning_ms")
            m[f"streaming.{l}.commit_s"] = sec("commit_ms")
            jobs = sum(C(s, "jobs") for s in spans if s["name"] == f"streaming.{l}")
            m[f"streaming.{l}.jobs_per_batch"] = jobs / max(1, len(bs))
            staged = (admitted if l == "maintain" else rec["feed_rows"]) * len(traced)
            m[f"streaming.{l}.source_reads_per_row"] = (
                sum(b["rows"] for b in bs) / staged if staged else 0.0)
            growth = []
            for u in traced:
                t = [b["trigger_ms"] for b in u["loops"][l]]
                q = max(1, len(t) // 4)
                if len(t) >= 4 and median(t[:q]) > 0:
                    growth.append(median(t[-q:]) / median(t[:q]))
            m[f"streaming.{l}.growth"] = median(growth)
            m[f"streaming.{l}.state_bytes"] = median([u["state_bytes"][l] for u in traced])
        m["ext.CorpusBuild.publishRelease_s"] = sum(
            dur(s) for s in spans if s["name"] == "ext.CorpusBuild.publishRelease") / n
    m["host.load_1m_start"] = load_start
    m["host.load_1m_end"] = load_end
    if traced and plain:
        m["trace_overhead_frac"] = (median([unit_e2e(workload, u) for u in traced]) /
                                    median([unit_e2e(workload, u) for u in plain]) - 1.0)
    return m


# ---- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(SF))
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--capture-references", action="store_true",
                    help="write perfbench/reference/<workload>.json from this run")
    ap.add_argument("--registry", metavar="OUT",
                    help="time every registered query once per pass and write the "
                         "per-query table to OUT")
    a = ap.parse_args()
    if a.registry:
        a.workload, a.seed, a.seconds, a.trace = "query_mix", 1, 1.0, 1
    elif a.workload is None or a.seed is None or a.seconds is None:
        ap.error("--workload, --seed and --seconds are required")
    # a terminated run still stops its JVM and deletes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not glob.glob(os.path.join(root, "src/main/scala/graft/*.scala")):
        log("no engine sources under ./src/main/scala: run from the root of a graft checkout")
        return 2
    jars = spark_jars(root)
    if jars is None:
        log("build.sbt names no existing Spark jars directory (unmanagedBase)")
        return 2
    t_start = time.time()
    load_start = loadavg()
    classes = build(root, jars)

    run_dir = os.path.join(root, ".bench_runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        data = os.path.join(run_dir, "data")
        inputs = os.path.join(run_dir, "inputs")
        staging = []
        for _ in range(STAGING_REPEATS):
            shutil.rmtree(data, ignore_errors=True)
            shutil.rmtree(inputs, ignore_errors=True)
            t_stage = time.time()
            selection = stage(a.workload, a.seed, data, inputs)
            staging.append(time.time() - t_stage)
        staging_s = median(staging)
        expected_ids = (replay_admission(os.path.join(inputs, "feed"))
                        if a.workload == "stream_admit" else None)
        if a.registry:
            mix, passes = "all", 1
        else:
            with open(os.path.join(HERE, "mix.json")) as f:
                mix, passes = ",".join(json.load(f)["queries"]), MIN_PASSES

        out = os.path.join(run_dir, "record.json")
        cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
               ["-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
                f"-Djava.io.tmpdir={run_dir}/tmp", "-Dspark.ui.enabled=false",
                "-cp", f"{classes}:{jars}/*", "graft.perfbench.PerfBench",
                "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", data, "--inputs", inputs,
                "--work", os.path.join(run_dir, "work"), "--out", out,
                "--mix", mix, "--passes", str(passes)])
        t_launch = time.time()
        with open(os.path.join(run_dir, "jvm.log"), "w") as jl:
            p = subprocess.run(cmd, stdout=jl, stderr=subprocess.STDOUT,
                               timeout=REGISTRY_TIMEOUT_S if a.registry else
                               max(30, TIMEOUT_S - (time.time() - t_start)))
        if p.returncode != 0 or not os.path.exists(out):
            with open(os.path.join(run_dir, "jvm.log")) as jl:
                log("benchmark JVM failed:\n" + jl.read()[-3000:])
            return 1
        with open(out) as f:
            rec = json.load(f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    load_end = loadavg()
    if a.registry:
        return write_registry(rec, a.registry)

    failures = list(rec["failures"])
    attempted = rec["attempted"]
    ref_path = os.path.join(HERE, "reference", f"{a.workload}.json")
    refs = {}
    if os.path.exists(ref_path) and not a.capture_references:
        with open(ref_path) as f:
            refs = json.load(f)
    if a.workload == "query_mix" and not a.capture_references:
        check_queries(rec, refs.get("queries", {}), failures)
    if a.workload == "pipeline_batch" and not a.capture_references:
        for u in rec["units"]:
            got = [u["records_stored"], u["quality_score"]]
            want = [refs.get("records_stored"), refs.get("quality_score")]
            if got != want:
                failures.append({"op": "check_load", "class": "perfbench.OutputMismatch",
                                 "message": f"unit {u['index']}: stored/quality {got}, "
                                            f"reference {want}"})
    if a.workload == "stream_admit" and rec.get("admitted_doc_ids") is not None:
        got = rec["admitted_doc_ids"]
        if got != expected_ids:
            failures.append({"op": "check_admit_replay", "class": "perfbench.OutputMismatch",
                             "message": f"corpus admitted {len(got)} docs, the replay of the "
                                        f"staged files {len(expected_ids)}; first differing ids "
                                        f"{sorted(set(got) ^ set(expected_ids))[:10]}"})
    if a.capture_references:
        capture(a.workload, rec)
    failed = min(len(failures), attempted)

    setup = {"launch_to_session_s": (rec["session_ready_ms"] - t_launch * 1000) / 1000,
             "staging_s": staging_s,
             "warmup_s": rec.get("warmup_s", 0.0) + rec.get("warm_units_s", 0.0),
             "cache_build_s": rec.get("cache_build_s", 0.0)}
    e2e, info = end_to_end(a.workload, rec)
    metrics = {"setup_s": sum(setup.values()), "ok_frac": 1.0 - failed / attempted,
               "peak_mem_mb": max(u["live_mb"] for u in rec["units"] if not u["traced"])}
    metrics.update(e2e)
    layers = per_layer(a.workload, rec, load_start, load_end)
    noisy = load_start > CORES
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "selection": selection, "mix": rec.get("mix"),
              "query_orders": rec.get("query_orders"), "admitted": rec.get("admitted"),
              "setup": setup, "info": info, "attempted": attempted, "failed": failed,
              "failures": failures, "noisy_window": noisy, "end_to_end": metrics,
              "per_layer": layers, "units": rec["units"], "queries": rec["queries"],
              "spans": rec["spans"]}
    res_dir = os.path.join(root, ".bench_results")
    os.makedirs(res_dir, exist_ok=True)
    res_path = os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(res_path, "w") as f:
        json.dump(detail, f)

    for fl in failures:
        log(f"FAILED {fl['op']}: {fl['class']}: {fl.get('message')}")
    if noisy:
        log(f"NOISY WINDOW: 1-min load {load_start:.2f} > {CORES} cores at start; "
            "numbers from this run are kept but flagged")
    print(f"workload={a.workload} seed={a.seed} trace={a.trace} attempted={attempted} "
          f"failed={failed} load_1m={load_start:.2f}->{load_end:.2f} noisy={noisy} "
          f"detail={os.path.relpath(res_path, root)}")
    print("selection " + json.dumps(selection))
    print("samples " + json.dumps(info))
    print("setup " + json.dumps(setup))
    unit_of = {"setup_s": "s", "ok_frac": "fraction", "peak_mem_mb": "MiB",
               "items_per_s": "items/s", "op_p50_s": "s", "op_tail_s": "s"}
    if a.trace:
        out_metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in layers.items()}
    else:
        out_metrics = {k: {"value": v, "unit": unit_of[k]} for k, v in metrics.items()}
    for k, v in out_metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0


def write_registry(rec, path):
    """The per-query table of a --registry run: median wall, build seconds
    and jobs over the traced passes (a query's jobs include those it ran
    while being built)."""
    spans = rec["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def jobs(s):
        return s["counters"]["jobs"] + sum(jobs(k) for k in kids.get(s["id"], []))

    traced = {u["unit"] for u in rec["units"] if u["traced"]}
    per = {}
    for s in spans:
        if s["kind"] == "query" and s["unit"] in traced:
            per.setdefault(s["name"].split(".", 2)[2], []).append(jobs(s))
    rows = {}
    for q in rec["queries"]:
        if q["traced"] and q["ok"]:
            r = rows.setdefault(q["name"], {"module": q["module"], "wall_s": [], "build_s": []})
            r["wall_s"].append(q["wall_s"])
            r["build_s"].append(q["build_s"])
    table = {n: {"module": r["module"], "wall_s": median(r["wall_s"]),
                 "build_s": median(r["build_s"]), "jobs": median(per[n])}
             for n, r in sorted(rows.items())}
    failed = sorted({f["op"] for f in rec["failures"]})
    with open(path, "w") as f:
        json.dump({"sf": SF["query_mix"], "data_seed": DATA_SEED, "cores": CORES,
                   "passes": len(rec["units"]), "traced_passes": len(traced),
                   "failed": failed, "queries": table}, f, indent=1, sort_keys=True)
        f.write("\n")
    log(f"{len(table)} queries timed, {len(failed)} failed; table in {path}")
    return 1 if failed else 0


def layer_unit(name):
    if name.endswith("_bytes") or name.endswith(".bytes_written"):
        return "bytes"
    if name.endswith("_s"):
        return "s"
    if name.endswith("jobs") or name.endswith(("stages", "tasks", "files_written")):
        return "count"
    if name.startswith("host.load"):
        return "load"
    return "ratio"


def capture(workload, rec):
    """Writes the output references of this run (used once, at a commit whose
    oracle check is green)."""
    os.makedirs(os.path.join(HERE, "reference"), exist_ok=True)
    if workload == "query_mix":
        refs = {}
        for q in rec["queries"]:
            if q["ok"]:
                cur = {"rows": q["rows"], "h1": q["h1"], "h2": q["h2"]}
                if refs.setdefault(q["name"], cur) != cur:
                    raise SystemExit(f"{q['name']}: output differs between passes")
        body = {"sf": SF[workload], "data_seed": DATA_SEED, "queries": refs}
    elif workload == "pipeline_batch":
        u = rec["units"][0]
        body = {"sf": SF[workload], "data_seed": DATA_SEED,
                "records_stored": u["records_stored"], "quality_score": u["quality_score"]}
    else:
        raise SystemExit("stream_admit checks itself; it has no reference file")
    with open(os.path.join(HERE, "reference", f"{workload}.json"), "w") as f:
        json.dump(body, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    sys.exit(main())
