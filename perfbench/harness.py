"""Benchmark harness: inputs, set-up, the timed closed loop, verification
and metrics for one workload.

A run with tracing off measures the end-to-end metrics.  A traced run
repeats the loop untraced, restarts Spark with the event log on, repeats
it traced, times a scan-only and a hand-off-only job, replays a sample of
the rows through the engine on one core, and reports the per-layer
metrics.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass, field

from . import corpus
from .tracing import RssSampler, Tracer, parse_event_log, self_time_by_name, self_times

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
WIDTH = 80
MIN_REQUESTS = 2
SAMPLE_ROWS = 64
REPLAY_ROWS = 1000
WARM_ROWS = 64
WARM_FILES = 4

E2E_UNITS = {"docs_per_s": "1/s", "setup_s": "s", "worker_rss_peak_mb": "MB"}
PER_LAYER_UNITS = {
    "sources.scan_s": "s",
    "operators.handoff_s": "s",
    "operators.plan_build_s": "s",
    "operators.plan_build_jobs": "count",
    "operators.kernel_rows_per_input_row": "ratio",
    "operators.parallel_efficiency": "ratio",
    "engine.htmlparse.ms_per_doc": "ms",
    "engine.lower.ms_per_doc": "ms",
    "engine.layout.ms_per_doc": "ms",
    "engine.emit.ms_per_doc": "ms",
    "engine.extract.ms_per_doc": "ms",
    "engine.pdfparse.ms_per_doc": "ms",
    "engine.pdftext.ms_per_doc": "ms",
    "engine.remainder.ms_per_doc": "ms",
    "engine.doc_ms_mean": "ms",
    "engine.doc_ms_p50": "ms",
    "engine.doc_ms_p99": "ms",
    "engine.docs_per_s_1core": "1/s",
    "engine.text_amplification_max": "ratio",
    "stage.count": "count",
    "stage.shuffle_write_mb": "MB",
    "stage.shuffle_read_mb": "MB",
    "stage.spill_mb": "MB",
    "stage.executor_run_s": "s",
    "stage.executor_cpu_s": "s",
    "stage.gc_s": "s",
    "stage.task_s_p50": "s",
    "stage.task_s_max": "s",
    "functions.dedup.lsh_s": "s",
    "functions.dedup.components_s": "s",
    "functions.dedup.rounds": "count",
    "functions.dedup.candidate_pairs": "count",
    "output.text_bytes_per_html_byte": "ratio",
    "trace.overhead_frac": "ratio",
}


def load_spec() -> dict:
    with open(os.path.join(BENCH_DIR, "workloads.json")) as f:
        return json.load(f)


def cores() -> int:
    return len(os.sched_getaffinity(0))


# -- workloads ------------------------------------------------------------------


@dataclass
class Part:
    """One operator of a workload's request and its input rows."""

    label: str
    operator: object  # an operator from rust_html2text_spark.operators
    rows: list


def build_parts(name: str, docs, rng: random.Random, spec: dict) -> list[Part]:
    from rust_html2text_spark.operators.extract import extract_pages
    from rust_html2text_spark.operators.pdf import extract_mixed_pages
    from rust_html2text_spark.operators.render import render_pages, render_pages_deduped

    inp = spec["input"]
    if name == "render_flat":
        rows = corpus.render_rows(
            docs, rng, inp["rows"], inp["hot_host_frac"],
            inp["oversize_every"], inp["oversize_mult"],
        )
        return [Part("render", render_pages, rows)]
    if name == "extract_mixed":
        return [
            Part("extract", extract_pages, corpus.chrome_rows(docs, rng, inp["extract_rows"])),
            Part("mixed", extract_mixed_pages, corpus.mixed_rows(docs, rng, inp["mixed_rows"])),
        ]
    if name == "crawl_dedup":
        rows = corpus.dedup_rows(docs, rng, inp["rows"], inp["dup_factor"], inp["reuse_frac"])
        return [Part("dedup", render_pages_deduped, rows)]
    raise ValueError(f"unknown workload {name!r}")


def engine_text(row: corpus.Row) -> str:
    """The in-process engine call for one row (what its kernel runs)."""
    if row.kind == "pdf":
        from rust_html2text_spark.engine.pdftext import extract_pdf_ex

        return extract_pdf_ex(row.payload)["text"]
    if row.kind == "chrome":
        from rust_html2text_spark.engine.extract import extract_main_ex

        return extract_main_ex(row.payload, WIDTH)["text"]
    from rust_html2text_spark.engine.api import html_to_text

    return html_to_text(row.payload, WIDTH)


def identity_batches(batches):
    """mapInPandas with no kernel: Arrow in and out only."""
    yield from batches


@dataclass
class Request:
    index: int
    wall_s: float
    epoch_start: float
    epoch_end: float
    rss_peak_mb: float
    plan_build_s: float = 0.0
    plan_build_jobs: int = 0
    spans: dict = field(default_factory=dict)
    kept: int | None = None
    rounds: int = 0
    pairs_df: object = None  # checkpointed candidate pairs (crawl_dedup)
    candidate_pairs: int = 0


class Run:
    """One benchmark run of one workload."""

    def __init__(self, name: str, seed: int, seconds: float, trace: bool):
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spec = load_spec()["workloads"][name]
        self.cores = cores()
        self.run_id = f"{name}-s{seed}-{os.getpid()}-{int(time.time())}"
        self.work = os.path.join(WORK_ROOT, self.run_id)
        self.tracer = Tracer(self.run_id, enabled=trace)
        self.spark = None
        self.expect_cache: dict = {}
        self.mismatch_rows = 0
        self.error_rows = 0
        self.attempted = 0
        self.log: list[str] = []
        self.sample_checked = False
        self.trace_extra: dict = {}

    # -- environment and session ------------------------------------------------

    def prepare_env(self) -> None:
        """Keep every file Spark, the JVM and Python write inside the work
        directory, and let Python workers import the repo and this package."""
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ["PYTHONPATH"] = os.pathsep.join(paths)

    def session_conf(self, event_log: str | None = None) -> dict:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": event_log,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        return conf

    def start_session(self, conf: dict) -> None:
        from rust_html2text_spark.plans.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def dir(self, kind: str, part: Part) -> str:
        return os.path.join(self.work, kind, part.label)

    def warmup(self) -> None:
        """One unverified request on the small slices."""
        self.request(0, "warmup", warm=True)

    def setup(self, conf: dict) -> float:
        """Session start (which launches the JVM) plus the warm-up job on
        the small slice: worker spawn, imports, style caches.  Seconds."""
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            with self.tracer.span("setup.session_start"):
                self.start_session(conf)
            with self.tracer.span("setup.warmup"):
                self.warmup()
            return time.perf_counter() - t0

    # -- requests -----------------------------------------------------------------

    def request(self, index: int, tag: str, warm: bool = False) -> Request:
        """One request: each part's operator call and parquet sink (and, for
        crawl_dedup, the clustering), timed from before the first read."""
        spark = self.spark
        sc = spark.sparkContext
        group = f"{tag}-{index}"
        sc.setJobGroup(group, group)
        req = Request(index, 0.0, 0.0, 0.0, 0.0)
        tr = self.tracer
        with RssSampler() as sampler:
            req.epoch_start = time.time()
            t0 = time.perf_counter()
            with tr.span("request", index=index, tag=tag) as root:
                for part in self.parts:
                    out_dir = self.dir("warm-out" if warm else "out", part)
                    with tr.span("sources.read", part=part.label):
                        df = spark.read.parquet(self.dir("warm" if warm else "input", part))
                    jobs_before = len(sc.statusTracker().getJobIdsForGroup(group))
                    p0 = time.perf_counter()
                    with tr.span("operators.plan_build", part=part.label):
                        out = part.operator(df, width=WIDTH)
                    req.plan_build_s += time.perf_counter() - p0
                    req.plan_build_jobs += (
                        len(sc.statusTracker().getJobIdsForGroup(group)) - jobs_before
                    )
                    with tr.span("sink.write", part=part.label):
                        out.write.mode("overwrite").parquet(out_dir)
                    if self.name == "crawl_dedup":
                        self._cluster(req, out_dir)
            req.wall_s = time.perf_counter() - t0
            req.epoch_end = time.time()
        req.rss_peak_mb = sampler.peak_mb
        if root is not None:
            for sp in tr.spans[root.span_id + 1 :]:
                req.spans[sp.name] = req.spans.get(sp.name, 0.0) + sp.duration
        sc.setJobGroup("perfbench", "perfbench")
        return req

    def _cluster(self, req: Request, out_dir: str) -> None:
        """crawl_dedup tail: distinct texts → LSH pairs → components → kept."""
        from pyspark.sql import functions as F

        from rust_html2text_spark.functions.dedup import dup_components, lsh_candidate_pairs

        tr = self.tracer
        texts = (
            self.spark.read.parquet(out_dir)
            .filter(F.col("error").isNull())
            .select(F.xxhash64("content_hash").alias("doc_id"), "text")
            .dropDuplicates(["doc_id"])
            .localCheckpoint()
        )
        with tr.span("functions.dedup.lsh"):
            pairs = lsh_candidate_pairs(texts).localCheckpoint()
        stats: dict = {}
        with tr.span("functions.dedup.components"):
            labels = dup_components(pairs, stats=stats)
        with tr.span("functions.dedup.keep"):
            req.kept = (
                texts.join(labels, "doc_id", "left")
                .agg(F.countDistinct(F.coalesce("component_id", "doc_id")).alias("k"))
                .collect()[0]["k"]
            )
        req.rounds = stats["rounds"]
        req.pairs_df = pairs

    def measure(self, tag: str) -> list[Request]:
        """Closed loop: requests back to back until `seconds` of request time
        (and at least MIN_REQUESTS), each verified before the next."""
        reqs: list[Request] = []
        busy = 0.0
        while len(reqs) < MIN_REQUESTS or busy < self.seconds:
            req = self.request(len(reqs), tag)
            busy += req.wall_s
            reqs.append(req)
            self.verify(req)
        return reqs

    # -- verification ---------------------------------------------------------------

    def expected(self, row: corpus.Row) -> str:
        if row.expected is not None:
            return row.expected
        # only oversized rows lack a golden; their text depends on the doc
        key = (row.kind, row.doc.key)
        if key not in self.expect_cache:
            self.expect_cache[key] = engine_text(row)
        return self.expect_cache[key]

    def verify(self, req: Request) -> None:
        import pyarrow.parquet as pq

        bad = errors = 0
        texts = {}
        for part in self.parts:
            t = pq.read_table(self.dir("out", part), columns=["url", "text", "error"])
            urls = t.column("url").to_pylist()
            got = dict(zip(urls, zip(t.column("text").to_pylist(), t.column("error").to_pylist())))
            # a duplicated or unknown url is a wrong row too
            bad += len(urls) - len(got) + len(got.keys() - {r.url for r in part.rows})
            for row in part.rows:
                if row.url not in got:
                    bad += 1
                    continue
                text, error = got[row.url]
                texts[row.url] = text
                errors += error is not None
                bad += text != self.expected(row)
        if not self.sample_checked:
            self.sample_checked = True
            # the seeded sample: the public engine call, not the golden
            bad += sum(texts.get(r.url) != engine_text(r) for r in self.sample)
            self.text_bytes_per_html_byte = sum(
                len((t or "").encode("utf-8")) for t in texts.values()
            ) / sum(len(r.payload) for r in self.rows)
        if req.kept is not None:
            pairs = [(r["doc_a"], r["doc_b"]) for r in req.pairs_df.collect()]
            req.candidate_pairs = len(pairs)
            expect = kept_by_union_find(self.n_groups, pairs)
            if req.kept != expect:
                self.log.append(f"kept docs {req.kept} != union-find {expect}")
                bad += 1
        self.mismatch_rows += bad
        self.error_rows += errors
        self.attempted += len(self.rows)

    # -- the run ----------------------------------------------------------------------

    def make_inputs(self, docs) -> None:
        rng = random.Random(self.seed)
        self.parts = build_parts(self.name, docs, rng, self.spec)
        self.rows = [r for part in self.parts for r in part.rows]
        self.n_groups = len({r.group for r in self.rows})
        for part in self.parts:
            corpus.write_rows(part.rows, self.dir("input", part), self.spec["input"]["files"], rng)
            # leading rows: for crawl_dedup these are whole duplicate groups,
            # so the warm-up takes the same plan route as the measured requests
            corpus.write_rows(part.rows[:WARM_ROWS], self.dir("warm", part), WARM_FILES, rng)
        self.sample = rng.sample(self.rows, min(SAMPLE_ROWS, len(self.rows)))
        # crawl_dedup renders each distinct payload once: replay those
        distinct = list({r.payload: r for r in self.rows}.values())
        self.replay_rows = rng.sample(distinct, min(REPLAY_ROWS, len(distinct)))

    def docs_per_s(self, reqs: list[Request]) -> float:
        return statistics.median(len(self.rows) / r.wall_s for r in reqs)

    def untraced_loop(self) -> list[Request]:
        enabled, self.tracer.enabled = self.tracer.enabled, False
        try:
            return self.measure("plain")
        finally:
            self.tracer.enabled = enabled

    def execute(self) -> dict:
        os.makedirs(self.work, exist_ok=True)
        self.prepare_env()
        with self.tracer.span("inputs"):
            self.make_inputs(corpus.load_documents(ROOT))
        try:
            setup_s = self.setup(self.session_conf())
            plain = self.untraced_loop()
            metrics = {
                "docs_per_s": self.docs_per_s(plain),
                "setup_s": setup_s,
                "worker_rss_peak_mb": max(r.rss_peak_mb for r in plain),
            }
            layers = self.traced_layers(plain) if self.trace else {}
        finally:
            self.stop_session()
        return {
            "e2e": metrics,
            "layers": layers,
            "request_walls_s": [r.wall_s for r in plain],
        }

    def pruned_inputs(self):
        """Each part's input, pruned to the columns the operators read."""
        return [
            self.spark.read.parquet(self.dir("input", p)).select("url", "html")
            for p in self.parts
        ]

    def restart(self, name: str, conf: dict) -> None:
        with self.tracer.span(name):
            self.stop_session()
            self.start_session(conf)
            self.warmup()

    def traced_layers(self, plain: list[Request]) -> dict:
        """Per-layer metrics: a traced loop on an event-logging session, the
        scan and hand-off probe jobs, and the single-core engine replay.

        The JVM is still warming up during the run's first (untraced) loop,
        so the untraced reference for trace.overhead_frac is another
        untraced loop run after the traced one, in the same warm JVM."""
        from .replay import replay

        tr = self.tracer
        log_dir = os.path.join(self.work, "eventlog")
        self.restart("trace.restart", self.session_conf(log_dir))
        with tr.span("trace.loop"):
            traced = self.measure("traced")
        scan, handoff = [], []
        for _ in range(3):
            with tr.span("sources.scan") as sp:
                for df in self.pruned_inputs():
                    df.write.format("noop").mode("overwrite").save()
            scan.append(sp.duration)
            with tr.span("operators.handoff") as sp:
                for df in self.pruned_inputs():
                    df.mapInPandas(identity_batches, "url string, html binary").write.format(
                        "noop"
                    ).mode("overwrite").save()
            handoff.append(sp.duration)
        self.restart("trace.restart_untraced", self.session_conf())
        after = self.untraced_loop()
        self.stop_session()
        [log] = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        events = parse_event_log(log)
        with tr.span("engine.replay") as sp:
            eng = replay(self.replay_rows, self.expected, tr, sp.span_id, WIDTH)
        if eng.pop("mismatches"):
            self.log.append("engine replay text differs from the expected text")
            self.mismatch_rows += 1

        def med(values):
            return statistics.median(list(values))

        windows = [events.window_stats(r.epoch_start, r.epoch_end) for r in traced]
        traced_dps = self.docs_per_s(traced)
        out = {k: med(w[k] for w in windows) for k in windows[0] if k.startswith("stage.")}
        out.update({k: v for k, v in eng.items() if k in PER_LAYER_UNITS})
        out.update(
            {
                "sources.scan_s": med(scan),
                "operators.handoff_s": med(handoff),
                "operators.plan_build_s": med(r.plan_build_s for r in traced),
                "operators.plan_build_jobs": med(r.plan_build_jobs for r in traced),
                "operators.kernel_rows_per_input_row": med(
                    w["kernel_rows"] / len(self.rows) for w in windows
                ),
                "operators.parallel_efficiency": self.docs_per_s(plain)
                / (self.cores * eng["engine.docs_per_s_1core"]),
                "functions.dedup.lsh_s": med(r.spans.get("functions.dedup.lsh", 0.0) for r in traced),
                "functions.dedup.components_s": med(
                    r.spans.get("functions.dedup.components", 0.0) for r in traced
                ),
                "functions.dedup.rounds": med(r.rounds for r in traced),
                "functions.dedup.candidate_pairs": med(r.candidate_pairs for r in traced),
                "output.text_bytes_per_html_byte": self.text_bytes_per_html_byte,
                "trace.overhead_frac": 1.0 - traced_dps / self.docs_per_s(after),
            }
        )
        self.trace_extra = {
            "untraced_docs_per_s": [self.docs_per_s(plain), self.docs_per_s(after)],
            "traced_docs_per_s": traced_dps,
            "traced_request_walls_s": [r.wall_s for r in traced],
            "engine.replayed_docs": eng["engine.replayed_docs"],
            "request_windows": windows,
        }
        return out

    def write_trace(self, result: dict) -> str:
        path = os.path.join(WORK_ROOT, "traces", f"{self.run_id}.json")
        selfs = self_times(self.tracer.spans)
        summary = dict(result, **self.trace_extra)
        summary["self_s_by_layer"] = self_time_by_name(self.tracer.spans, selfs)
        self.tracer.write(path, summary)
        return path

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def kept_by_union_find(n_docs: int, pairs: list[tuple[int, int]]) -> int:
    """Docs kept by keep-one-per-component dedup, computed in one process:
    n_docs minus the docs in pairs plus the number of pair components."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    roots = {find(x) for x in list(parent)}
    return n_docs - len(parent) + len(roots)


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def print_metrics(name: str, metrics: dict, units: dict) -> None:
    for k, v in metrics.items():
        print(f"{name:13s} {k:40s} {v:14.6g} {units[k]}")
    sys.stdout.flush()
