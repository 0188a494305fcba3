"""One benchmark run in its own process: Spark session, warm-up,
measured window, output checks and, with trace on, the traced pass.

Started by ``perfbench/run.py`` as ``python -m perfbench.child <spec>``
with the repository root on PYTHONPATH; writes its result as JSON to
``spec["result_path"]``.  Tracebacks go to stderr, which the parent
keeps.
"""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

from perfbench import eventlog, host, inputs, quality, stats, tracing

RECALL_GATE = 0.99
SCHEMA = "repo string, path string, commit string, lang string, content string"


class Run:
    """Counters and samples of one run, turned into the result dict."""

    def __init__(self, spec: dict):
        self.spec = spec
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.detail: dict = {}

    def fail(self, why: str) -> None:
        self.failed += 1
        self.notes.append(why)
        print(f"perfbench: {why}", file=sys.stderr, flush=True)

    def put(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def result(self) -> dict:
        return {
            "attempted": self.attempted,
            "failed": self.failed,
            "notes": self.notes,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in self.metrics.items()},
            "detail": self.detail,
        }


def make_session(spec: dict, event_dir: str | None):
    from polyminhash_spark.session import build_session

    work = spec["work_dir"]
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_dir is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = build_session(app_name=f"perfbench-{spec['workload']}",
                          master=f"local[{spec['nproc']}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def host_config(spark):
    """default_config() with the signature repartition width following
    the session's shuffle partitions, which build_session sizes to the
    host (the config's 32 was set for a 32-core machine)."""
    from polyminhash_spark.config import default_config

    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return default_config().with_(shuffle_partitions=parts)


# --------------------------------------------------------------------------
# batch workloads
# --------------------------------------------------------------------------

def _release(res) -> None:
    for df in (res.normalized, res.rep_map, res.signed, res.candidates,
               res.verified, res.clusters, res.neighbors):
        df.unpersist()


def run_batch(run: Run, spark, cfg, tracer: tracing.Tracer | None,
              t_start: float) -> None:
    from polyminhash_spark.pipeline import run_pipeline

    spec = run.spec
    wl = inputs.WORKLOADS[spec["workload"]]
    group_of, _, ref = inputs.load_truth(spec["input_dir"])
    n_files = len(group_of)
    src = spark.read.parquet(os.path.join(spec["input_dir"], "corpus.parquet"))
    # the run's first pass (the warm-up) sets the assignment every later
    # pass of the same run must reproduce; runs never compare with each
    # other, so two versions of the engine can be measured side by side
    first_checksum = None

    def one_pass(label: str, traced: bool):
        """(pipeline result, wall, checks passed), or None when it raised."""
        run.attempted += 1
        try:
            if traced:
                tracer.enabled = True
                tracer.begin("pass", label)
            t0 = time.perf_counter()
            res = run_pipeline(spark, src, cfg, collect_metrics=False)
            if traced:
                tracer.segment(tracing.GLUE)
            rows = res.clusters.collect()
            wall = time.perf_counter() - t0
        except Exception:
            traceback.print_exc()
            run.fail(f"pass {label} raised")
            return None
        finally:
            if traced:
                tracer.end()
                tracer.enabled = False
        cluster_of = {bytes(r["id"]): bytes(r["cluster_id"]) for r in rows}
        return res, wall, check(label, cluster_of)

    def check(label: str, cluster_of: dict) -> bool:
        nonlocal first_checksum
        ok = True
        if set(cluster_of) != set(group_of):
            run.fail(f"pass {label}: output ids differ from the input ids")
            return False
        recall = quality.cluster_recall(ref, cluster_of)
        precision = quality.cluster_precision(cluster_of, group_of)
        run.detail.setdefault("recall", []).append(recall)
        run.detail.setdefault("precision", []).append(precision)
        run.detail["clusters"] = len(set(cluster_of.values()))
        if recall < RECALL_GATE:
            run.fail(f"pass {label}: dup_pair_recall {recall:.4f} < {RECALL_GATE}")
            ok = False
        digest = quality.assignment_checksum(cluster_of)
        run.detail["checksum"] = first_checksum or digest
        if first_checksum is None:
            first_checksum = digest
        elif digest != first_checksum:
            run.fail(f"pass {label}: cluster checksum {digest} != {first_checksum}")
            ok = False
        return ok

    # set-up: session (already started), input registration, warm-up pass
    warm = one_pass("warmup", traced=False)
    if warm is not None:
        _release(warm[0])
    setup_s = time.perf_counter() - t_start

    walls: list[float] = []
    good_walls: list[float] = []
    if not spec["trace"]:
        t_win = time.perf_counter()
        k = 0
        while True:
            k += 1
            got = one_pass(f"p{k}", traced=False)
            if got is not None:
                res, wall, ok = got
                _release(res)
                walls.append(wall)
                if ok:
                    good_walls.append(wall)
            if (k >= wl["min_measured"]
                    and time.perf_counter() - t_win >= spec["seconds"]):
                break
        run.detail["pass_walls_s"] = walls
        if good_walls:
            med = statistics.median(good_walls)
            run.put("files_per_s", n_files / med, "1/s")
            run.put("batch_latency_p50_s", med, "s")
            run.detail["batch_latency"] = stats.summarize(good_walls)
        run.put("setup_s", setup_s, "s")
        rec = run.detail.get("recall", [])
        prec = run.detail.get("precision", [])
        if rec:
            run.put("dup_pair_recall", min(rec), "ratio")
            run.put("dup_pair_precision", statistics.median(prec), "ratio")
        return

    # traced run: an untraced pass that settles what the warm-up left
    # cold, the traced pass (its result frames also give the per-layer
    # counts), and an untraced pass as the overhead baseline
    for label, traced in (("p1", False), ("p2", True), ("p3", False)):
        got = one_pass(label, traced)
        if got is None:
            return
        res, wall, _ = got
        if traced:
            run.detail["traced_wall_s"] = wall
            run.detail["counts"] = batch_counts(res)
        else:
            run.detail["untraced_wall_s"] = wall
        _release(res)


def batch_counts(res) -> dict:
    import pyspark.sql.functions as F

    from polyminhash_spark.operators.bands import explode_bands

    bands = explode_bands(res.signed)
    buckets = bands.groupBy("band", "band_key").count()
    return {
        "rows_in": res.normalized.count(),
        "reps_out": res.signed.count(),
        "band_rows": bands.count(),
        "max_bucket": buckets.agg(F.max("count")).collect()[0][0] or 0,
        "pairs_out": res.candidates.count(),
        "tier3_pairs": res.verified.count(),
        "dup_pairs": res.verified.filter(F.col("is_duplicate")).count(),
    }


# --------------------------------------------------------------------------
# stream workload
# --------------------------------------------------------------------------

class _Progress:
    """Progress of the data-bearing micro-batches, delivered by Spark's
    listener bus (no polling of the query from the measuring thread)."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.done: list = []
        self.cond = threading.Condition()
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                if event.progress.numInputRows > 0:
                    with outer.cond:
                        outer.done.append(event.progress)
                        outer.cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer.cond:
                    outer.cond.notify_all()

        self.listener = Listener()

    def wait(self, q, n_data: int, timeout: float):
        """Block until `n_data` data-bearing micro-batches have reported;
        returns that batch's progress."""
        deadline = time.perf_counter() + timeout
        while True:
            with self.cond:
                if self.cond.wait_for(lambda: len(self.done) >= n_data, 0.5):
                    return self.done[n_data - 1]
            exc = q.exception()
            if exc is not None:
                raise RuntimeError(f"stream failed: {exc}")
            if not q.isActive:
                raise RuntimeError("stream stopped before the batch completed")
            if time.perf_counter() > deadline:
                raise RuntimeError(f"micro-batch {n_data - 1} timed out")


def run_stream(run: Run, spark, cfg, tracer: tracing.Tracer | None,
               t_start: float) -> None:
    from polyminhash_spark.streaming.dedup_stream import run_incremental_dedup

    spec = run.spec
    wl = inputs.WORKLOADS[spec["workload"]]
    group_of, batch_of, ref = inputs.load_truth(spec["input_dir"])
    files = sorted(os.listdir(os.path.join(spec["input_dir"], "batches")))
    work = spec["work_dir"]
    watch, staging = os.path.join(work, "stream_in"), os.path.join(work, "stage")
    sink, ckpt = os.path.join(work, "sink"), os.path.join(work, "checkpoint")
    index = os.path.join(work, "index")
    os.makedirs(watch)
    os.makedirs(staging)

    def place(b: int) -> None:
        # copy beside the watched directory, then rename in: the file
        # source never sees a partly written file
        tmp = os.path.join(staging, files[b])
        shutil.copyfile(os.path.join(spec["input_dir"], "batches", files[b]), tmp)
        os.replace(tmp, os.path.join(watch, files[b]))

    if tracer is not None:
        patches = tracing.install_stream(tracer, sink, index)
    progress = _Progress()
    spark.streams.addListener(progress.listener)
    src = (spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1)
           .parquet(watch))
    q = run_incremental_dedup(spark, src, None, cfg, sink_path=sink,
                              checkpoint_path=ckpt, trigger_once=False,
                              index_path=index,
                              compact_every=wl["compact_every"])
    fed = 0
    lat: list[float] = []
    per_batch_timeout = 120.0
    try:
        # set-up ends when the warm-up micro-batch (batch 0) completes
        place(0)
        fed = 1
        run.attempted += 1
        progress.wait(q, 1, per_batch_timeout)
        setup_s = time.perf_counter() - t_start
        # traced run: the micro-batches before the first compaction
        # untraced (the overhead baseline), then the compacting one
        # traced; a further baseline micro-batch after it would put a
        # traced run on a busy host near the run time limit
        traced_k = wl["compact_every"]
        n_max = traced_k if spec["trace"] else len(files) - 1
        t_win = time.perf_counter()
        for k in range(1, n_max + 1):
            if tracer is not None:
                tracer.enabled = k == traced_k
            place(k)
            fed += 1
            run.attempted += 1
            prog = progress.wait(q, k + 1, per_batch_timeout)
            lat.append(prog.durationMs["triggerExecution"] / 1000.0)
            if (not spec["trace"] and k >= wl["min_measured"]
                    and time.perf_counter() - t_win >= spec["seconds"]):
                break
        window = time.perf_counter() - t_win
    except Exception:
        traceback.print_exc()
        run.fail(f"micro-batch {fed - 1} failed")
        return
    finally:
        q.stop()
        spark.streams.removeListener(progress.listener)
        if tracer is not None:
            tracer.enabled = False
            patches.undo()

    consumed = set(range(fed))
    ids = {rid for rid, b in batch_of.items() if b in consumed}
    ref_sub = {p for p in ref if p[0] in ids and p[1] in ids}
    out = (spark.read.parquet(sink).filter("is_duplicate")
           .select("id_a", "id_b").collect())
    emitted = {quality.canonical_pair(bytes(r["id_a"]), bytes(r["id_b"]))
               for r in out}
    recall = quality.pair_recall(ref_sub, emitted)
    precision = quality.pair_precision(emitted, group_of)
    run.detail.update(recall=recall, precision=precision,
                      emitted_pairs=len(emitted), reference_pairs=len(ref_sub),
                      micro_batches=fed, latencies_s=lat,
                      batch_latency=stats.summarize(lat))
    if recall < RECALL_GATE:
        run.fail(f"dup_pair_recall {recall:.4f} < {RECALL_GATE}")
    index_files = index_bytes = 0
    for dirpath, _, names in os.walk(index):
        for nm in names:
            if nm.endswith(".parquet"):
                index_files += 1
                index_bytes += os.path.getsize(os.path.join(dirpath, nm))
    run.detail["index_files"] = index_files
    run.detail["index_mb"] = index_bytes / 1e6
    if spec["trace"]:
        run.detail["traced_wall_s"] = lat[-1]
        run.detail["untraced_wall_s"] = statistics.median(lat[:-1])
        return
    n_measured = len(lat)
    run.put("files_per_s", n_measured * wl["batch_files"] / window, "1/s")
    run.put("batch_latency_p50_s", statistics.median(lat), "s")
    run.put("setup_s", setup_s, "s")
    run.put("dup_pair_recall", recall, "ratio")
    run.put("dup_pair_precision", precision, "ratio")


# --------------------------------------------------------------------------
# per-layer table (traced runs)
# --------------------------------------------------------------------------

def probe_kernels(spec: dict, cfg) -> dict:
    """Time the Python kernels in-process on a seeded sample of the
    workload's rows: shingling (ns per content byte), the OPH + SimHash
    signature from precomputed shingles (ns per row), the band fold (ns
    per row) and tier-3 verification (ns per pair) on the pairs of
    `quality.probe_pairs`."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from polyminhash_spark import kernels as K

    d = spec["input_dir"]
    paths = ([os.path.join(d, "corpus.parquet")]
             if os.path.exists(os.path.join(d, "corpus.parquet"))
             else [os.path.join(d, "batches", f)
                   for f in sorted(os.listdir(os.path.join(d, "batches")))])
    content_of = {
        quality.record_id(r["repo"], r["path"], r["commit"]): r["content"]
        for p in paths for r in pq.read_table(
            p, columns=["repo", "path", "commit", "content"]).to_pylist()}
    texts = list(content_of.values())
    rng = random.Random(spec["seed"])
    sample = [K.normalize_text(t) for t in rng.sample(texts, min(600, len(texts)))]
    arr = pa.array(sample, type=pa.string())
    bufs = arr.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[:len(arr) + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    nbytes = int(offsets[-1] - offsets[0])
    k, unit, max_sh = cfg.shingle_k, cfg.shingle_unit, cfg.max_shingles_per_doc
    seeds = K.mixed_seeds(cfg.perm_seeds())

    def best(fn, reps: int = 3) -> float:
        times = []
        for _ in range(reps):
            t0 = time.perf_counter_ns()
            fn()
            times.append(time.perf_counter_ns() - t0)
        return min(times)

    sh_list = K.char_shingles_batch(data, offsets, k, max_sh)
    t_sh = best(lambda: K.char_shingles_batch(data, offsets, k, max_sh))
    sig = K.signature_batch(None, k, unit, max_sh, seeds, cfg.bands,
                            cfg.rows_per_band, impl=cfg.minhash_impl,
                            sh_list=sh_list)[0]
    t_sig = best(lambda: K.signature_batch(
        None, k, unit, max_sh, seeds, cfg.bands, cfg.rows_per_band,
        impl=cfg.minhash_impl, sh_list=sh_list))
    t_band = best(lambda: K.band_keys_batch(sig, cfg.bands, cfg.rows_per_band))
    group_of, _, ref = inputs.load_truth(d)
    pairs = [(K.normalize_text(content_of[a]), K.normalize_text(content_of[b]))
             for a, b in quality.probe_pairs(rng, group_of, ref)]

    def verify_all():
        for a, b in pairs:
            j = K.jaccard_arrays(K.shingles_for(a, k, unit, max_sh),
                                 K.shingles_for(b, k, unit, max_sh))
            if j >= cfg.jaccard_threshold:
                K.exact_clone_relation(a, b)

    t_ver = best(verify_all)
    n = len(sample)
    return {
        "shingle_ns_per_byte": t_sh / max(nbytes, 1),
        "signature_ns_per_row": t_sig / n,
        "band_fold_ns_per_row": t_band / n,
        "verify_ns_per_pair": t_ver / max(len(pairs), 1),
        "kernel_ns_per_row": (t_sh + t_sig) / n,
    }


def layer_table(run: Run, tracer: tracing.Tracer, log: eventlog.EventLog,
                cores: int, kern: dict) -> None:
    """Fill run.metrics with every per-layer metric."""
    roots = [r for r in tracer.roots() if r.end is not None]
    traces = {r.trace_id for r in roots}
    agg = eventlog.by_label(log, traces)
    wall: dict[str, float] = {}
    for r in roots:
        for s in tracer.children(r):
            wall[s.name] = wall.get(s.name, 0.0) + s.duration
    traced_wall = sum(r.duration for r in roots)
    zero = dict(jobs=0, task_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                task_skew=1.0, sig_evals=0)
    a = lambda label: agg.get(label, zero)

    for layer in tracing.LAYERS:
        w = wall.get(layer, 0.0)
        run.put(f"{layer}.wall_s", w, "s")
        run.put(f"{layer}.task_s", a(layer)["task_s"], "s")
        run.put(f"{layer}.idle_core_s", w * cores - a(layer)["task_s"], "s")
        run.put(f"{layer}.task_skew", a(layer)["task_skew"], "ratio")
        run.put(f"{layer}.shuffle_write_mb", a(layer)["shuffle_write_mb"], "MB")
        run.put(f"{layer}.spill_mb", a(layer)["spill_mb"], "MB")

    for name in ("shingle_ns_per_byte", "signature_ns_per_row",
                 "band_fold_ns_per_row", "verify_ns_per_pair"):
        unit = "ns/byte" if name.endswith("byte") else (
            "ns/pair" if name.endswith("pair") else "ns/row")
        run.put(f"kernels.{name}", kern[name], unit)

    c = run.detail.get("counts", {})
    sig_task = a("signatures")["task_s"]
    kernel_s = kern["kernel_ns_per_row"] * c.get("reps_out", 0) / 1e9
    run.put("signatures.arrow_share",
            1.0 - kernel_s / sig_task if sig_task > 0 else 0.0, "ratio")
    run.put("normalize.rows_in", c.get("rows_in", 0), "count")
    run.put("normalize.reps_out", c.get("reps_out", 0), "count")
    run.put("candidates.band_rows", c.get("band_rows", 0), "count")
    run.put("candidates.pairs_out", c.get("pairs_out", 0), "count")
    run.put("candidates.max_bucket", c.get("max_bucket", 0), "count")
    pairs_out, tier3, dups = (c.get("pairs_out", 0), c.get("tier3_pairs", 0),
                              c.get("dup_pairs", 0))
    run.put("candidates.useful_ratio", dups / pairs_out if pairs_out else 0.0,
            "ratio")
    run.put("verify.pairs_in", pairs_out, "count")
    run.put("verify.tier3_pairs", tier3, "count")
    run.put("verify.dup_yield", dups / tier3 if tier3 else 0.0, "ratio")
    run.put("cluster.edges_in", dups, "count")
    run.put("cluster.spark_jobs", a("cluster")["jobs"], "count")

    glue = wall.get(tracing.GLUE, 0.0) + wall.get(tracing.GLUE_COUNT, 0.0)
    segs = sum(wall.values())
    batch = run.spec["kind"] == "batch"
    run.put("pipeline.glue_s", glue, "s")
    run.put("pipeline.residual_s", traced_wall - segs if batch else 0.0, "s")
    run.put("pipeline.count_jobs", a(tracing.GLUE_COUNT)["jobs"], "count")
    run.put("pipeline.spark_jobs",
            sum(r["jobs"] for r in agg.values()) if batch else 0, "count")

    n_roots = max(len(roots), 1)
    for phase in tracing.STREAM_PHASES:
        run.put(f"dedup_stream.{phase}_s", wall.get(phase, 0.0) / n_roots, "s")
    stream = not batch
    # jobs and Arrow-map evaluations come from the untraced micro-batches
    # before the traced one (the tracer's own jobs would count in the
    # traced one), plus the traced one's compaction jobs, which the
    # tracer leaves as they are: the untraced ones do not compact
    base = [v for b, v in eventlog.by_batch(log).items()
            if 0 < b < run.detail.get("micro_batches", 0) - 1]
    if stream and base:
        run.put("dedup_stream.spark_jobs_per_batch",
                statistics.median(v["jobs"] for v in base)
                + a("compact")["jobs"], "count")
        run.put("dedup_stream.sig_evals_per_batch",
                statistics.median(v["sig_evals"] for v in base), "count")
    else:
        run.put("dedup_stream.spark_jobs_per_batch", 0, "count")
        run.put("dedup_stream.sig_evals_per_batch", 0, "count")
    run.put("dedup_stream.index_files",
            run.detail.get("index_files", 0) if stream else 0, "count")
    run.put("dedup_stream.index_mb",
            run.detail.get("index_mb", 0.0) if stream else 0.0, "MB")

    traced_s = run.detail.get("traced_wall_s") or 0.0
    base_s = run.detail.get("untraced_wall_s") or traced_s
    # the stream's baseline micro-batch does not compact; the traced one
    # does, so its compaction is left out of the comparison
    compact_s = wall.get("compact", 0.0)
    run.put("trace.wall_s", traced_s, "s")
    run.put("trace.overhead_s", traced_s - compact_s - base_s, "s")
    run.detail["layers"] = agg
    run.detail["segment_walls_s"] = wall


# --------------------------------------------------------------------------

def main() -> int:
    spec = json.loads(sys.argv[1])
    t_start = time.perf_counter()
    run = Run(spec)
    event_dir = None
    if spec["trace"]:
        event_dir = os.path.join(spec["work_dir"], "eventlog")
        os.makedirs(event_dir)
    spark = None
    tracer = None
    # memory is sampled in traced runs only: the sampler thread walks
    # /proc every 0.25 s and would share the driver's cores with the
    # measured window
    rss = host.RssSampler() if spec["trace"] else contextlib.nullcontext()
    with rss:
        try:
            spark = make_session(spec, event_dir)
            cfg = host_config(spark)
            if spec["trace"]:
                tracer = tracing.Tracer(spark.sparkContext)
            if spec["kind"] == "batch":
                patches = tracing.install_batch(tracer) if tracer else None
                try:
                    run_batch(run, spark, cfg, tracer, t_start)
                finally:
                    if patches is not None:
                        patches.undo()
            else:
                run_stream(run, spark, cfg, tracer, t_start)
        except Exception:
            traceback.print_exc()
            run.fail("run raised")
        finally:
            if spark is not None:
                spark.stop()
    if spec["trace"] and run.failed == 0:
        logs = os.listdir(event_dir)
        log = eventlog.parse_file(os.path.join(event_dir, logs[0]))
        layer_table(run, tracer, log, spec["nproc"], probe_kernels(spec, cfg))
        run.put("peak_rss_mb", rss.peak / 1e6, "MB")
        with open(os.path.join(spec["work_dir"], "spans.json"), "w") as f:
            json.dump(tracer.dump(), f)
    with open(spec["result_path"], "w") as f:
        json.dump(run.result(), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
