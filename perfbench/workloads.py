"""The benchmark's workloads.

A workload draws its input rows from the seed when it is built, writes
them as the files the program reads (:meth:`generate`), and computes what
the repository's oracles expect of them (:meth:`expected`, JSON-able so a
child process can compute it during set-up). It then runs
:meth:`iteration` in a closed loop. An iteration returns its wall time,
from handing over the input to output on disk, and a record of that output
for :meth:`verify`. A traced iteration records spans; :meth:`per_layer`
turns them and the event log into the per-layer metrics.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import time
from collections import Counter

from perfbench import check, gen
from perfbench.eventlog import exec_metrics, read_jobs
from perfbench.trace import Tracer, codegen_counters, cpu_seconds, self_time, steal_seconds, subtree

AS_OF = "2024-06-01"

WEB_STAGES = ("input", "html_extract", "c4_clean", "gopher_quality", "fuzzy_line_dedup", "exact_dedup", "domain_quota")
CORPUS_STAGES = ("input", "exact_dedup", "quality_filter", "line_dedup", "neardup_dedup", "temperature_sample")
# the ``_pipeline_break`` barriers of each funnel, in call order
WEB_BREAKS = WEB_STAGES[1:6]
CORPUS_BREAKS = ("exact_dedup", "line_dedup", "neardup_dedup")

# spans whose self time is a layer metric: span name -> metric
SELF_TIMES = {
    "csv.read": "csv.read_s",
    "jsonl.estimate": "jsonl.estimate_s",
    "jsonl.write": "jsonl.write_s",
    "jsonl.read": "jsonl.read_s",
    "web.extract": "web.extract_s",
    "corpus.curate": "corpus.curate_s",
    "curation.dedup_lines": "curation.dedup_lines_s",
    "dedup.ngram_jaccard": "dedup.ngram_jaccard_s",
    "shipment.optimize": "shipment.optimize_s",
    "shipment.physical": "shipment.physical_s",
}
BENCH_ONLY = ("shipment.optimize", "shipment.physical")
# spans whose jobs are split into time covered by jobs and driver-only time
JOB_SPLIT = ("csv.read", "jsonl.estimate", "jsonl.write", "jsonl.read", "funnel.sink")
EXEC = (
    "jobs", "stages", "tasks", "job_s", "driver_s", "cpu_s", "run_s", "gc_s", "cpu_util",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_rows", "input_passes",
    "python_bytes",
)

# per-layer metric -> unit, in report order
PER_LAYER: dict[str, str] = {
    "csv.read_s": "s",
    "csv.jobs": "count",
    "shipment.build_s": "s",
    "shipment.optimize_s": "s",
    "shipment.physical_s": "s",
    "shipment.plan_nodes": "count",
    "jsonl.estimate_s": "s",
    "jsonl.estimate_input_rows": "count",
    "jsonl.write_s": "s",
    "jsonl.files": "count",
    "jsonl.bytes": "bytes",
    "jsonl.max_file_bytes": "bytes",
    "jsonl.read_s": "s",
    "jsonl.quarantined_rows": "count",
    "web.extract_s": "s",
    "corpus.curate_s": "s",
    "curation.dedup_lines_s": "s",
    "dedup.ngram_jaccard_s": "s",
    **{f"funnel.stage_s.web.{s}": "s" for s in WEB_BREAKS},
    **{f"funnel.stage_s.corpus.{s}": "s" for s in CORPUS_BREAKS},
    **{f"funnel.rows.web.{s}": "count" for s in WEB_STAGES},
    **{f"funnel.rows.corpus.{s}": "count" for s in CORPUS_STAGES},
    "funnel.sink_s": "s",
    **{f"exec.{k}": ("s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "ratio" if k in ("cpu_util", "input_passes") else "count") for k in EXEC},
    **{f"{span}.{k}": "s" for span in JOB_SPLIT for k in ("job_s", "driver_s")},
    "codegen.compiles": "count",
    "codegen.compile_ms": "ms",
    "codegen.setup_compiles": "count",
    "codegen.setup_compile_ms": "ms",
    "steal_s": "s",
    "iteration_s": "s",
    "wall_s": "s",
    "trace.overhead_s": "s",
}


def _spanner(tr):
    """``tr.span``, or a no-op of the same shape for an untraced iteration."""
    return tr.span if tr is not None else lambda name: contextlib.nullcontext()


class Workload:
    """Shared loop plumbing: timing, tracing, per-layer reduction."""

    input_rows: int = 0
    patches: tuple = ()  # (module, attr, span name)

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.tracer: Tracer | None = None
        self.n = 0  # iterations run

    def iteration(self, spark, traced: bool = False) -> tuple[float, float, object]:
        """Run one iteration; return its wall seconds, its CPU seconds and a
        record of its output for :meth:`verify`. The output is read back
        after the timed region and then deleted."""
        self.n += 1
        out = os.path.join(self.work, "out", str(self.n))
        root = None
        cpu = cpu_seconds()
        if not traced:
            t = time.perf_counter()
            state = self.run(spark, out, None)
            wall = time.perf_counter() - t
        else:
            if self.tracer is None:
                self.tracer = Tracer(spark.sparkContext)
            tr = self.tracer
            for mod, attr, name in self.patches:
                tr.patch(mod, attr, name, after=self._after(name))
            cg0, st0 = codegen_counters(spark), steal_seconds()
            try:
                with tr.span("iteration") as root:
                    state = self.run(spark, out, tr)
            finally:
                tr.close()
            cg1 = codegen_counters(spark)
            root.attrs.update(
                compiles=cg1[0] - cg0[0], compile_ms=cg1[1] - cg0[1], steal_s=steal_seconds() - st0
            )
            wall = root.dur
        cpu = cpu_seconds() - cpu
        record = self.observe(out, state, root)
        shutil.rmtree(out, ignore_errors=True)
        return wall, cpu, record

    def _after(self, name: str):
        return None

    def tracer_dump(self, path: str) -> None:
        if self.tracer is not None:
            os.makedirs(os.path.dirname(path), exist_ok=True)
            self.tracer.dump(path)

    def per_layer(self, eventlog_dir: str, cores: int) -> dict[str, float]:
        """Median over traced iterations of each per-layer metric."""
        (log,) = glob.glob(os.path.join(eventlog_dir, "*"))  # one application, one log file
        jobs = read_jobs(log).values()
        by_span: dict[int, list] = {}
        for j in jobs:
            by_span.setdefault(j.span, []).append(j)
        spans = self.tracer.spans if self.tracer else []
        rows = []
        for root in (s for s in spans if s.name == "iteration"):
            tree = subtree(spans, root)
            m = dict.fromkeys(PER_LAYER, 0.0)
            tree_jobs = [j for s in tree for j in by_span.get(s.id, ())]
            ex = exec_metrics(tree_jobs, root.start, root.end, cores)
            for k in EXEC:
                if k != "input_passes":
                    m[f"exec.{k}"] = ex[f"exec.{k}"]
            m["exec.input_passes"] = ex["exec.input_rows"] / self.input_rows
            # the Catalyst passes the benchmark adds to split planning time
            # are not the program's own driver work
            m["exec.driver_s"] -= sum(s.dur for s in tree if s.name in BENCH_ONLY)
            for s in tree:
                sjobs = [j for t in subtree(spans, s) for j in by_span.get(t.id, ())]
                if s.name in SELF_TIMES:
                    m[SELF_TIMES[s.name]] += self_time(spans, s)
                if s.name in JOB_SPLIT:
                    e = exec_metrics(sjobs, s.start, s.end, cores)
                    m[f"{s.name}.job_s"] += e["exec.job_s"]
                    m[f"{s.name}.driver_s"] += e["exec.driver_s"]
                self.span_metrics(m, s, sjobs)
            m["codegen.compiles"] = root.attrs["compiles"]
            m["codegen.compile_ms"] = root.attrs["compile_ms"]
            m["steal_s"] = root.attrs["steal_s"]
            m["iteration_s"] = root.dur
            rows.append(m)
        if not rows:
            return {}
        return {k: statistics.median(r[k] for r in rows) for k in PER_LAYER if k not in _RUN_LEVEL}

    def span_metrics(self, m: dict, s, jobs) -> None:
        """Workload-specific metrics of one span."""


# set by run.py itself, not reduced from spans
_RUN_LEVEL = ("wall_s", "trace.overhead_s", "codegen.setup_compiles", "codegen.setup_compile_ms")


class ShipmentIncrements(Workload):
    """``run_batch`` on one daily CSV after another (the reference's
    "latest CSV" operating pattern). Fixed per-call cost dominates."""

    ROWS = 500  # rows per daily file
    MONTHS = 12  # month spread -> source_group partitions
    FILES = 6  # distinct daily files; the loop cycles through them
    patches = (
        ("sources.csv", "read_shipment_csv", "csv.read"),
        ("plans.shipment", "transform_shipments", "shipment.transform"),
        ("plans.shipment", "build_documents", "shipment.build"),
        ("sources.jsonl", "write_documents", "jsonl.write"),
        ("sources.jsonl", "estimate_max_records_per_file", "jsonl.estimate"),
    )

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.orders = [
            gen.gen_orders(seed * 1000 + i, self.ROWS, self.MONTHS, key_base=i * self.ROWS * 20)
            for i in range(self.FILES)
        ]
        self.input_rows = self.ROWS

    def generate(self) -> None:
        os.makedirs(os.path.join(self.work, "in"))
        self.paths = [os.path.join(self.work, "in", f"shipments_{i:02d}.csv") for i in range(self.FILES)]
        for path, orders in zip(self.paths, self.orders):
            gen.write_shipment_csv(path, orders)

    def expected(self) -> list:
        """Per file, q40's documents as ``[key, count]`` pairs."""
        return [[[list(k), n] for k, n in check.expected_shipment_docs(o).items()] for o in self.orders]

    def run(self, spark, out: str, tr):
        from jsonl_dataingestion_pipeline_spark.plans import shipment

        i = (self.n - 1) % self.FILES
        with _spanner(tr)("run_batch"):
            shipment.run_batch(spark, self.paths[i], out, as_of=AS_OF)
        return i

    def observe(self, out: str, i, root):
        docs, problems = check.published_shipment_docs(out)
        if root is not None:
            sizes = [os.path.getsize(p) for p in glob.glob(os.path.join(out, "source_group=*", "*.json"))]
            root.attrs.update(files=len(sizes), bytes=sum(sizes), max_file_bytes=max(sizes, default=0))
        return i, docs, problems

    def verify(self, records, expected) -> list[list[str]]:
        want = [Counter({tuple(k): n for k, n in e}) for e in expected]
        return [problems + check.check_shipment(docs, want[i]) for i, docs, problems in records]

    def _after(self, name: str):
        if name != "shipment.build":
            return None

        def catalyst(span, docs):
            # The sink re-plans this frame; time Catalyst on it once more
            # here so optimization and physical planning can be told apart.
            qe = docs._jdf.queryExecution()
            with self.tracer.span("shipment.optimize"):
                plan = qe.optimizedPlan()
            with self.tracer.span("shipment.physical"):
                qe.executedPlan()
            span.attrs["plan_nodes"] = plan.toJSON().count('"class":')

        return catalyst

    def span_metrics(self, m: dict, s, jobs) -> None:
        if s.name == "iteration":
            for k in ("files", "bytes", "max_file_bytes"):
                m[f"jsonl.{k}"] = s.attrs[k]
        elif s.name in ("shipment.transform", "shipment.build"):
            m["shipment.build_s"] += s.dur
            m["shipment.plan_nodes"] += s.attrs.get("plan_nodes", 0)
        elif s.name == "csv.read":
            m["csv.jobs"] += len(jobs)
        elif s.name == "jsonl.estimate":
            m["jsonl.estimate_input_rows"] += sum(j.totals["input_rows"] for j in jobs)


# q118 and q90 parameters, so their oracles predict the stage counts
WEB_PARAMS = dict(
    id_col="page_id",
    c4_min_sentences=4,
    gopher_params={"min_words": 40, "min_stopword_hits": 0},
    line_min_docs=5,
    max_per_domain=6,
    seed=0,
)
CORPUS_PARAMS = dict(
    quality_min=0.5,
    line_tokens=8,
    line_min_docs=2,
    shingle_k=3,
    jaccard_threshold=0.5,
    sample_hex_prefix="0",
    alpha=0.5,
    target_n=300,
    seed=7,
)


class CurationFunnels(Workload):
    """Quarantining JSONL read, then the web-extraction and corpus-curation
    funnels with their survivors written as JSONL."""

    DOCS = 400  # q118's oracle reads doc_id < 1000, so ids stay below it
    patches = (
        ("plans.webcorpus", "_pipeline_break", "pipeline_break"),
        ("plans.corpus", "_pipeline_break", "pipeline_break"),
        ("plans.webcorpus", "dedup_lines", "curation.dedup_lines"),
        ("plans.corpus", "dedup_lines", "curation.dedup_lines"),
        ("plans.corpus", "ngram_jaccard_pairs", "dedup.ngram_jaccard"),
        ("sources.jsonl", "write_documents", "jsonl.write"),
        ("sources.jsonl", "estimate_max_records_per_file", "jsonl.estimate"),
    )

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.docs = gen.gen_documents(seed, self.DOCS)
        self.bad_ids = gen.malformed_ids(self.docs, seed)
        self.input_rows = self.DOCS

    def generate(self) -> None:
        os.makedirs(os.path.join(self.work, "in"))
        self.path = os.path.join(self.work, "in", "documents.jsonl")
        gen.write_corpus_jsonl(self.path, self.docs, self.bad_ids)

    def expected(self) -> dict:
        return check.expected_funnel_stats([d for d in self.docs if d["doc_id"] not in self.bad_ids])

    def run(self, spark, out: str, tr):
        import __spark_entry__
        from pyspark.sql import types as T

        from jsonl_dataingestion_pipeline_spark.plans import corpus, webcorpus
        from jsonl_dataingestion_pipeline_spark.sources import jsonl

        span = _spanner(tr)
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        )
        with span("jsonl.read"):
            good, bad = jsonl.read_jsonl_quarantine(spark, self.path, schema)
            quarantined = bad.count()  # materializes the reader's one cached scan
        with span("web.extract"):
            web, web_stats = webcorpus.extract_web_corpus(__spark_entry__._web_pages(good), **WEB_PARAMS)
        with span("funnel.sink"):
            jsonl.write_documents(web, os.path.join(out, "web"), partition_by=None)
        web_stats = web_stats.collect()
        with span("corpus.curate"):
            cur, cur_stats = corpus.curate_corpus(good, **CORPUS_PARAMS)
        with span("funnel.sink"):
            jsonl.write_documents(cur, os.path.join(out, "corpus"), partition_by=None)
        cur_stats = cur_stats.collect()
        spark.catalog.clearCache()
        as_tuples = lambda rows: [(r.stage, r.stage_name, r.n_docs, r.sum_ids) for r in rows]  # noqa: E731
        return quarantined, as_tuples(web_stats), as_tuples(cur_stats)

    def observe(self, out: str, state, root):
        quarantined, web_stats, cur_stats = state
        if root is not None:
            root.attrs.update(quarantined=quarantined, web=web_stats, corpus=cur_stats)
        web_ids = check.published_ids(os.path.join(out, "web"), "page_id")
        cur_ids = check.published_ids(os.path.join(out, "corpus"), "doc_id")
        return state, web_ids, cur_ids

    def verify(self, records, expected) -> list[list[str]]:
        expected = {k: [tuple(r) for r in rows] for k, rows in expected.items()}
        out = []
        for (quarantined, web_stats, cur_stats), web_ids, cur_ids in records:
            problems = []
            if quarantined != len(self.bad_ids):
                problems.append(f"{quarantined} lines quarantined, {len(self.bad_ids)} malformed")
            problems += check.check_funnel("web", web_stats, web_ids, expected["web"])
            problems += check.check_funnel("corpus", cur_stats, cur_ids, expected["corpus"])
            out.append(problems)
        return out

    def span_metrics(self, m: dict, s, jobs) -> None:
        if s.name == "iteration":
            m["jsonl.quarantined_rows"] = s.attrs["quarantined"]
            for key, names in (("web", WEB_STAGES), ("corpus", CORPUS_STAGES)):
                for stage, _, n_docs, _ in s.attrs[key]:
                    m[f"funnel.rows.{key}.{names[stage]}"] = n_docs
        elif s.name == "funnel.sink":
            m["funnel.sink_s"] += s.dur
        elif s.name in ("web.extract", "corpus.curate"):
            kids = [k for k in self.tracer.spans if k.parent == s.id and k.name == "pipeline_break"]
            key, names = ("web", WEB_BREAKS) if s.name == "web.extract" else ("corpus", CORPUS_BREAKS)
            for k, stage in zip(kids, names):
                m[f"funnel.stage_s.{key}.{stage}"] += k.dur


WORKLOADS = {
    "shipment_increments": ShipmentIncrements,
    "curation_funnels": CurationFunnels,
}
