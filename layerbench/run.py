"""Layered benchmark of the courlan_spark dedup engine.

Run from the repository root:

    python3 layerbench/run.py --workload dedup-full --seed 1 --seconds 6 --trace 0

Workloads (closed loop: one caller, each operation waits for the
previous one; one driver process on a local[nproc] session):

  dedup-full    one DedupPipeline.run (snapshot_mode="minimal",
                jaccard_threshold=0.6) over a seeded corpus.  Text-heavy:
                fingerprint kernels, LSH + Jaccard verify, substring
                verify and connected components carry the time.
  ingest-delta  one run_incremental of a seeded 10% delta batch against
                a FingerprintStore built at set-up (snapshot_mode="all"),
                each operation in a fresh workdir.  Snapshot writes, store
                scans and many small jobs carry the time; kernels touch
                only the delta.

Both corpora come from sources.pages.generate_batch over a doc-id range
chosen by --seed, so every row stays a pure function of its doc id and
the program receives only the generated parquet.  Every operation's
output is checked outside its timed span: dedup-full against the set-up
run, and ingest-delta against one full run over base + delta; the
dup-pair recall and precision of the run against the planted truth are
reported.  Cached data is cleared between operations, and warm-up
operations run (untimed, counted in setup_s) before the first timed one.

--trace 0 prints the end-to-end metrics of BENCHMARK.json; --trace 1
adds one traced operation, on a warmed session with Spark's event log on,
then probes every layer over the workload's corpus with spans around each
call, and prints every per-layer metric: both pipeline modes' stages
(each operation checked against the reference), the store, each operator
alone, the kernels on samples, and each of bench.HEADLINE_QUERIES from
plans.catalog over the fixed tables in layerbench/tables, checked
against the DuckDB oracles of plans.catalog.ORACLES.  The last line of stdout is the JSON
result; the line before it carries the host context (nproc, driver heap,
CPU and DRAM probes) and per-operation samples.  Everything the run
writes stays under .layerbench/ in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
# tools/check_oracles.py: the oracle gate's row normalisation
sys.path.insert(0, os.path.join(ROOT, "tools"))

from proctree import PeakRss, dir_bytes, tree_cpu_s  # noqa: E402

# Sizes that keep one invocation of each workload near 40 s at local[4],
# so the 70 invocations of a full measurement fit in under an hour.
DEDUP_PAGES = 4_000
INGEST_PAGES = 3_000
DELTA_SHARE = 0.10
# the heap is fixed at start (-Xms = -Xmx) so resident memory does not
# follow the JVM's heap-growth heuristics from run to run
DRIVER_MEM = "3g"


def doc_id_start(seed: int) -> int:
    """First doc id of the corpus for a seed.  Stays below 1e9 so the
    generator's warc_ts (epoch + doc_id seconds) remains a valid date,
    and is a multiple of the generator's duplicate-group size."""
    return (seed % 1000) * 1_000_000


def sandbox(run_dir: str) -> dict[str, str]:
    "Directories and environment that keep every write under run_dir."
    dirs = {
        k: os.path.join(run_dir, k)
        for k in ("tmp", "jvm-tmp", "spark-local", "warehouse", "events",
                  "ops", "inputs")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        TMPDIR=dirs["tmp"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    )
    tempfile.tempdir = None
    return dirs


def build_session(dirs: dict[str, str], cpus: int, trace: bool):
    from courlan_spark.plans.session import get_session

    conf = {
        "spark.local.dir": dirs["spark-local"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData -Xms{DRIVER_MEM}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["events"],
            # Spark 4 compresses with zstd by default; keep it readable
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_session(app_name="layerbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_engine(spark) -> None:
    """Stop the session, end the JVM (it exits when its stdin closes)
    and wait until no descendant process is left."""
    from pyspark import SparkContext

    from proctree import _read_stats, _tree

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while len(_tree(_read_stats(), os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)


def write_corpus(spark, path: str, start: int, n: int, n_hosts: int) -> None:
    "Seeded pages + planted truth for doc ids [start, start + n)."
    from courlan_spark.sources.pages import PAGES_SCHEMA, generate_batch

    def gen(batches):
        for pdf in batches:
            yield generate_batch(pdf["id"].values, n_hosts)

    (
        spark.range(start, start + n,
                    numPartitions=spark.sparkContext.defaultParallelism)
        .mapInPandas(gen, schema=PAGES_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def isolate(spark) -> None:
    """Drop everything the last operation left cached: DedupPipeline
    does not unpersist its intermediates, and a later identical run
    would otherwise reuse them."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def assignments(pipe):
    "The run's (doc_id, cluster_id) table as a doc_id-sorted array."
    pdf = pipe.assignments().select("doc_id", "cluster_id").toPandas()
    return pdf.sort_values("doc_id").to_numpy()


def quality(pages, pipe) -> tuple[float, float]:
    "Dup-pair recall and precision of the run against the planted truth."
    from courlan_spark.plans.evaluate import dup_pair_recall
    from courlan_spark.sources.pages import truth_view

    got = dup_pair_recall(truth_view(pages), pipe.assignments())
    return got["recall"], got["precision"]


def docs_frame(pages):
    from pyspark.sql import functions as F

    return pages.select(
        F.xxhash64("url", "warc_ts").alias("doc_id"), "url", "text"
    )


class Phases(dict):
    "Seconds of each named set-up step, each measured from the last mark."

    def __init__(self):
        super().__init__()
        self._last = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self[name] = now - self._last
        self._last = now


def dedup_config(snapshot_mode: str):
    from courlan_spark.plans.pipeline import DedupConfig

    return DedupConfig(jaccard_threshold=0.6, snapshot_mode=snapshot_mode)


# Stages each pipeline mode reports in its summary, and the snapshots an
# incremental run (snapshot_mode="all") writes.
FULL_STAGES = ("02_url_dedup", "03_exact_text_pairs", "04_fingerprints",
               "05_minhash_pairs", "06_simhash_pairs", "07_substring_cands",
               "07_substring_pairs", "08_clusters", "09_assignments")
INCREMENTAL_STAGES = ("01_canonical", "02_url_dedup", "04_fingerprints",
                      "05_candidates", "07_substring_cands", "08_evidence",
                      "09_assignments", "02_url_dedup_write_join",
                      "04_fingerprints_write_join", "08_evidence_write_join")
SNAPSHOTS = ("02_url_dedup", "03_exact_text_pairs", "04_fingerprints",
             "05_candidates", "05_minhash_pairs", "06_simhash_pairs",
             "07_substring_cands", "08_evidence", "09_assignments")


def stage_metrics(rec: dict, mode: str) -> dict:
    """stage.<name>.s (and, for an incremental run, snapshot.<name>.mb)
    plus the observed pipeline counters of one pipeline operation.  The
    incremental run's names carry ".incremental" after their layer.  A
    stage or snapshot the run did not produce is an error, not a zero."""
    full = mode == "full"
    stages, snapshots = (FULL_STAGES, ()) if full else (INCREMENTAL_STAGES, SNAPSHOTS)
    tag = "" if full else ".incremental"
    summary = rec["summary"]
    secs: dict[str, float] = {}
    for entry in summary["stages"]:
        secs[entry["stage"]] = secs.get(entry["stage"], 0.0) + entry["secs"]
    missing = [s for s in stages if s not in secs]
    missing += [s for s in snapshots
                if not os.path.isdir(os.path.join(rec["workdir"], s))]
    if missing:
        raise RuntimeError(
            f"{mode} run lacks stages or snapshots {missing}; it had {sorted(secs)}"
        )
    m = {f"stage{tag}.{s}.s": secs[s] for s in stages}
    for s in snapshots:
        m[f"snapshot.{s}.mb"] = dir_bytes(os.path.join(rec["workdir"], s)) / 1e6
    observed = summary["observed"]
    m[f"pipeline{tag}.evidence_pairs"] = observed["evidence_pairs"]["rows"]
    m[f"lsh{tag}.dropped_buckets"] = observed["lsh_buckets"]["dropped_buckets"]
    m[f"pipeline{tag}.cached_rdds_left"] = rec["cached_rdds_left"]
    return m


class Workload:
    """A seeded corpus of doc ids [start, start + n_pages), split into a
    base batch and a delta batch (its last DELTA_SHARE of ids).  Every
    operation, a full run over all pages or an incremental run of the
    delta against a store built from the base, must equal the reference:
    one full run over all pages."""

    name: str
    mode: str  # the pipeline mode of the workload's timed operation
    n_pages: int

    def __init__(self, seed: int):
        self.start = doc_id_start(seed)
        self.cut = self.start + int(self.n_pages * (1 - DELTA_SHARE))
        self.n_docs = self.docs(self.mode)
        self.store_dir = None

    def docs(self, mode: str) -> int:
        "Input docs of one operation in that mode."
        return self.n_pages if mode == "full" else self.start + self.n_pages - self.cut

    def bind(self, spark) -> None:
        "Read the inputs (and the store, once built) into this session."
        from courlan_spark.plans.pipeline import FingerprintStore

        self.spark = spark
        self.read_inputs(spark)
        if self.store_dir is not None:
            self.store = FingerprintStore.from_workdir(spark, self.store_dir)

    def build_store(self, workdir: str) -> None:
        "One snapshot_mode='all' run over the base batch, loaded as a store."
        from courlan_spark.plans.pipeline import DedupPipeline, FingerprintStore
        from courlan_spark.sources.pages import pages_view

        DedupPipeline(self.spark, workdir, dedup_config("all"), count_rows=False).run(
            pages_view(self.base)
        )
        self.store_dir = workdir
        self.store = FingerprintStore.from_workdir(self.spark, workdir)
        isolate(self.spark)

    def set_reference(self, workdir: str) -> None:
        "The full run every operation must equal, and its quality."
        pipe, _ = self.run(workdir, "full")
        self.phases.mark("reference_run_s")
        self.reference = assignments(pipe)
        self.ref_quality = quality(self.pages, pipe)
        isolate(self.spark)
        self.phases.mark("reference_check_s")

    def run(self, workdir: str, mode: str | None = None):
        "One operation: a pipeline handle and the summary it returned."
        from courlan_spark.plans.pipeline import DedupPipeline
        from courlan_spark.sources.pages import pages_view

        mode = mode or self.mode
        if mode == "full":
            pipe = DedupPipeline(self.spark, workdir, dedup_config("minimal"),
                                 count_rows=False)
            return pipe, pipe.run(pages_view(self.pages))
        pipe = DedupPipeline(self.spark, workdir, dedup_config("all"), count_rows=False)
        return pipe, pipe.run_incremental(pages_view(self.delta), self.store)

    def check(self, pipe) -> tuple[float, float, bool]:
        import numpy as np

        if np.array_equal(assignments(pipe), self.reference):
            return (*self.ref_quality, True)
        return (*quality(self.pages, pipe), False)


class DedupFull(Workload):
    name = "dedup-full"
    mode = "full"
    n_pages = DEDUP_PAGES

    def build_inputs(self, spark, dest: str) -> None:
        self.corpus = os.path.join(dest, "pages")
        write_corpus(spark, self.corpus, self.start, self.n_pages,
                     max(self.n_pages // 40, 10))

    def read_inputs(self, spark) -> None:
        from pyspark.sql import functions as F

        self.pages = spark.read.parquet(self.corpus)
        self.base = self.pages.where(F.col("doc_id") < self.cut)
        self.delta = self.pages.where(F.col("doc_id") >= self.cut)

    def prepare(self, new_workdir) -> None:
        """One untimed warm-up run, the reference every later run must
        equal; its recall and precision against the planted truth are
        reported, not required to be 1.0 (LSH can miss a planted pair:
        one seed in about 25 tried reads recall 0.998).  A second warm-up
        run measured within 0.5 s of the timed runs after it, so it is
        not worth its share of the time budget.  The store is built only
        by the traced run."""
        self.phases = Phases()
        self.set_reference(new_workdir())


class IngestDelta(Workload):
    name = "ingest-delta"
    mode = "incremental"
    n_pages = INGEST_PAGES

    def build_inputs(self, spark, dest: str) -> None:
        n_hosts = max(self.n_pages // 40, 10)
        self.base_path = os.path.join(dest, "base")
        self.delta_path = os.path.join(dest, "delta")
        write_corpus(spark, self.base_path, self.start, self.cut - self.start, n_hosts)
        write_corpus(spark, self.delta_path, self.cut, self.n_docs, n_hosts)

    def read_inputs(self, spark) -> None:
        self.base = spark.read.parquet(self.base_path)
        self.delta = spark.read.parquet(self.delta_path)
        self.pages = self.base.unionByName(self.delta)

    def prepare(self, new_workdir) -> None:
        """Build the store from the base batch, then the reference.
        These two runs warm the engine up; an untimed delta run after
        them measured no slower than the timed ones, so there is none."""
        self.phases = Phases()
        self.build_store(new_workdir())
        self.phases.mark("store_build_s")
        self.set_reference(new_workdir())


WORKLOADS = {w.name: w for w in (DedupFull, IngestDelta)}


def run_op(spark, wl, dirs: dict[str, str], mode: str | None = None,
           keep: bool = False) -> dict:
    "One timed operation, its output check, and cache isolation after it."
    mode = mode or wl.mode
    workdir = tempfile.mkdtemp(dir=dirs["ops"])
    cpu0 = tree_cpu_s()
    handle = summary = None
    with PeakRss() as rss:
        start = time.time()
        t0 = time.perf_counter()
        try:
            handle, summary = wl.run(workdir, mode)
        except Exception:  # noqa: BLE001 — a failed operation is counted
            traceback.print_exc()
        wall = time.perf_counter() - t0
        end = time.time()
    cpu = tree_cpu_s() - cpu0
    written = dir_bytes(workdir) / 1e6
    recall = precision = 0.0
    ok = False
    if handle is not None:
        try:
            recall, precision, ok = wl.check(handle)
        except Exception:  # noqa: BLE001 — a failed check is counted
            traceback.print_exc()
    rec = {
        "wall_s": wall, "cpu_s": cpu, "peak_rss_mb": rss.peak_mb,
        "written_mb": written, "docs_per_s": wl.docs(mode) / wall,
        "recall": recall, "precision": precision, "ok": ok,
        "cached_rdds_left": persistent_rdds(spark),
        "summary": summary or {}, "workdir": workdir, "start": start, "end": end,
    }
    isolate(spark)
    if not keep:
        shutil.rmtree(workdir, ignore_errors=True)
    return rec


def host_context(spark, cpus: int) -> dict:
    import bench

    return {
        "nproc": cpus,
        "driver_heap_mb": spark._jvm.java.lang.Runtime.getRuntime().maxMemory() / 2**20,
        "cpu_probe_mops": bench._cpu_probe(),
        "dram_probe_gbs": bench._dram_probe(),
        "loadavg_1m": os.getloadavg()[0],
    }


def operator_kernel_layers(spark, wl, spans) -> dict:
    """Each public operator alone over the workload's pages, then the
    kernels on samples of its docs, URLs and candidate pairs, and the
    boundary shares that join the two."""
    from layers import kernel_layer, operator_layer

    docs = docs_frame(wl.pages)
    with spans.span("operators"):
        ops, samples = operator_layer(spark, docs, spans, dedup_config("minimal"))
    sample = docs.select("url", "text").limit(4000).toPandas()
    isolate(spark)
    texts = [t for t in sample["text"].head(400) if isinstance(t, str)]
    with spans.span("kernels"):
        kernels = kernel_layer(
            texts, sample["url"].tolist(), samples["jaccard_pairs"],
            samples["lcs_pairs"] or samples["jaccard_pairs"][:40],
        )
    rows = ops.pop("op.rows")
    fused_us = sum(
        kernels[f"kernel.{k}.us_per_doc"]
        for k in ("shingle_hashes", "minhash_signature",
                  "simhash64_from_features", "winnow_fingerprints",
                  "band_hashes_batch")
    )
    ops["op.fused_fingerprints.boundary_share"] = (
        1 - fused_us * rows / 1e6 / ops["op.fused_fingerprints.cpu_s"]
    )
    ops["op.check_url_udf.boundary_share"] = (
        1 - kernels["kernel.check_url_batch.us_per_row"] * rows / 1e6
        / ops["op.check_url_udf.cpu_s"]
    )
    return {**ops, **kernels}


def traced(spark, wl, dirs, cpus, untraced: list[dict], setup: dict):
    """One extra operation on a new session with Spark's event log on,
    then every layer probe over the workload's corpus, so that each
    workload reports every per-layer metric: the other pipeline mode's
    operation (and the store it needs), store loads, each operator
    alone, the kernels and the catalog queries.  The new session runs in
    the JVM that ran the set-up and timed operations, so its JIT is
    already warm.  Returns the operations run (the traced one first),
    the per-layer metrics and the spans."""
    import bench
    from courlan_spark.plans.pipeline import FingerprintStore

    from eventlog import read_events, window_metrics
    from layers import Spans, catalog_layer

    spans = Spans(f"{wl.name}-{os.getpid()}")
    spark.stop()
    with spans.span("session.build"):
        spark = build_session(dirs, cpus, trace=True)
    bench._warm_workers(spark, cpus)
    wl.bind(spark)
    with spans.span(wl.name):
        recs = {wl.mode: run_op(spark, wl, dirs, keep=True)}

    if wl.store_dir is None:
        with spans.span("store.build"):
            wl.build_store(tempfile.mkdtemp(dir=dirs["ops"]))
    for mode in ("full", "incremental"):
        if mode not in recs:
            with spans.span(f"{mode}_run"):
                recs[mode] = run_op(spark, wl, dirs, mode, keep=True)
    m: dict = {}
    for mode, rec in recs.items():
        m.update(stage_metrics(rec, mode))
    times = []
    for _ in range(3):
        with spans.span("store.load") as span:
            FingerprintStore.from_workdir(spark, wl.store_dir)
        times.append(span["end"] - span["start"])
    m["store.load_s"] = statistics.median(times)
    m.update(operator_kernel_layers(spark, wl, spans))
    with spans.span("catalog"):
        m.update(catalog_layer(spark, recs[wl.mode]["workdir"], spans))
    for rec in recs.values():
        shutil.rmtree(rec["workdir"], ignore_errors=True)

    host = host_context(spark, cpus)
    stop_engine(spark)
    events = read_events(dirs["events"])
    rec, incremental = recs[wl.mode], recs["incremental"]
    m.update(window_metrics(events, rec["start"], rec["end"]))
    m["store.read_mb_per_delta_doc"] = window_metrics(
        events, incremental["start"], incremental["end"]
    )["spark.input_mb"] / wl.docs("incremental")
    m["session.build_s"] = setup["session_build_s"]
    m["trace.overhead_s"] = rec["wall_s"] - statistics.median(r["wall_s"] for r in untraced)
    m["host.nproc"] = cpus
    m["host.driver_heap_mb"] = host["driver_heap_mb"]
    m["host.cpu_probe_mops"] = min(host["cpu_probe_mops"], setup["host"]["cpu_probe_mops"])
    m["host.dram_probe_gbs"] = min(host["dram_probe_gbs"], setup["host"]["dram_probe_gbs"])
    return list(recs.values()), m, spans


def run(args, dirs: dict[str, str], spec: dict) -> tuple[dict, dict]:
    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed)
    import bench

    started = time.perf_counter()
    spark = build_session(dirs, cpus, trace=False)
    session_build_s = time.perf_counter() - started
    try:
        wl.build_inputs(spark, dirs["inputs"])
        inputs_built = time.perf_counter()
        bench._warm_workers(spark, cpus)
        wl.bind(spark)
        wl.prepare(lambda: tempfile.mkdtemp(dir=dirs["ops"]))
        setup_s = time.perf_counter() - started
        phases = {
            "session_s": session_build_s,
            "inputs_s": inputs_built - started - session_build_s,
            "warmup_s": started + setup_s - inputs_built,
            **wl.phases,
        }
        setup = {"session_build_s": session_build_s, "host": host_context(spark, cpus)}

        recs = []
        loop_start = time.perf_counter()
        while not recs or time.perf_counter() - loop_start < args.seconds:
            recs.append(run_op(spark, wl, dirs))
        context = {
            "workload": wl.name, "seed": args.seed, "setup_s": setup_s,
            "setup_phases": phases, "host": setup["host"],
            "ops": len(recs),
            "samples": {k: [r[k] for r in recs]
                        for k in ("wall_s", "cpu_s", "peak_rss_mb", "written_mb")},
        }
        if args.trace:
            ops, layer_metrics, spans = traced(spark, wl, dirs, cpus, recs, setup)
            spans.write(os.path.join(
                ROOT, ".layerbench", f"trace-{wl.name}-seed{args.seed}.json"
            ))
            context["traced_wall_s"] = ops[0]["wall_s"]
            return context, result(recs + ops, layer_metrics,
                                   [m["name"] for m in spec["per_layer"]],
                                   spec["per_layer"])
        context["host_end"] = host_context(spark, cpus)
        stop_engine(spark)

        def med(key):
            return statistics.median(r[key] for r in recs)

        values = {k: med(k) for k in (
            "wall_s", "docs_per_s", "cpu_s", "peak_rss_mb", "written_mb",
            "recall", "precision")}
        values["setup_s"] = setup_s
        # the share that passed; failed_frac = 1 - ok_frac is 0 on a
        # correct run, and a metric that reads 0 carries no relative bound
        values["ok_frac"] = sum(r["ok"] for r in recs) / len(recs)
        return context, result(recs, values,
                               [m["name"] for m in spec["end_to_end"]],
                               spec["end_to_end"])
    finally:
        from pyspark import SparkContext

        if SparkContext._active_spark_context is not None:
            stop_engine(spark)


def result(recs: list[dict], values: dict, names: list[str],
           declared: list[dict]) -> dict:
    if set(values) != set(names):
        raise RuntimeError(
            f"metric set differs from the declared one: {sorted(set(values) ^ set(names))}"
        )
    failed = sum(not r["ok"] for r in recs)
    return {
        "correct": failed == 0,
        "attempted": len(recs),
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
            for m in declared if m["name"] in values
        },
    }


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    run_dir = os.path.join(
        ROOT, ".layerbench", f"run-{args.workload}-{args.seed}-{os.getpid()}"
    )
    dirs = sandbox(run_dir)
    try:
        context, res = run(args, dirs, spec)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(context))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
