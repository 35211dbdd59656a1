"""The benchmark's workloads and their traced runs.

Each workload has a set-up (session start, inputs, warm-up), a timed
repetition that starts from an empty cache and ends in a sink that reads
every output column (``toPandas``, never ``count``, which lets Catalyst
prune the body assembly), a correctness check outside the timed window,
and a traced run that times each layer from outside by calling that
layer's public functions with the layer's input materialized first.

  extract_html   plans.extract.extract_documents over seeded html pages:
                 the production plan the contract measures. Its traced
                 run also runs plans.resume (run_resumable, then a resume
                 pass after half the bucket markers are dropped) and a
                 local[1] repetition pinned to one CPU for the scaling
                 ratio.
  curate_funnel  plans.curate.curate_corpus with every gate on. It runs
                 no tokenizer or lines work, so it is the control that
                 extraction changes must not move.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager

import pyarrow.parquet as pq

import inputs
from env import nproc
from ledger import (
    PYTHON_NODE,
    Spans,
    StatusStore,
    cold_start,
    pin_tree,
    python_times,
    sum_rows,
)

# Input sizes: small enough that a run, set-up and checks included, stays
# near a minute and a traced run, with its one-CPU repetition, well under
# three. At 4 cores a warm call of the extract plan took 11-13 s for
# anything from 64 to these 600 pages (its 25 jobs' planning and
# scheduling), so the pages per call set how much of it is per-doc work.
HTML_PAGES = 600
# the first call's cost is JIT compilation, nearly independent of size;
# a full-size warm-up measured no steadier and cost 5-8 s more per run
WARM_PAGES = 64
# curate_funnel warms up on the first docs of its table: its first call
# is JIT compilation, and the full table would cost seconds a run needs
# for timed work
WARM_DOCS = 500
# plans.resume is traced on a slice of the pages at job.py's default
# bucket count: each pass pays per-bucket file and marker costs
RESUME_PAGES = 48
BUCKETS = 256

# Every per-layer metric the traced runs record, with its unit. A layer a
# workload does not run reads 0 there.
LAYER_UNITS = {
    "session.start_s": "s",
    "tokenizer.wall_s": "s", "tokenizer.task_s": "s",
    "tokenizer.jvm_cpu_s": "s", "tokenizer.py_exec_s": "s",
    "tokenizer.py_init_s": "s", "tokenizer.docs_in": "count",
    "tokenizer.words_out": "count", "tokenizer.docs_no_words": "count",
    "exchange.shuffle_write_bytes": "B", "exchange.shuffle_read_bytes": "B",
    "exchange.records": "count", "exchange.fetch_wait_s": "s",
    "exchange.skew": "ratio",
    "lines.wall_s": "s", "lines.task_s": "s", "lines.jvm_cpu_s": "s",
    "lines.gc_s": "s", "lines.spill_bytes": "B", "lines.segments_out": "count",
    "lines.lines_out": "count", "lines.cache_bytes": "B",
    "spacing.wall_s": "s", "blocks.wall_s": "s", "blocks.blocks_out": "count",
    "boundaries.wall_s": "s", "boundaries.docs_out": "count",
    "boundaries.body_chars": "count", "boundaries.blocks_kept": "count",
    "boundaries.blocks_dropped": "count", "tail.shuffle_bytes": "B",
    "plan.exchanges": "count", "plan.python_nodes": "count",
    "plan.jobs": "count", "plan.stages": "count",
    "pipeline.slot_busy_frac": "ratio", "pipeline.docs_per_s_1core": "docs/s",
    "pipeline.scaling_eff": "ratio",
    "resume.scan_markers_s": "s", "resume.land_s": "s", "resume.audit_s": "s",
    "resume.publish_s": "s", "resume.buckets_committed": "count",
    "resume.buckets_skipped": "count", "resume.files_written": "count",
    "resume.bytes_written": "B", "resume.docs_reprocessed": "count",
    "curate.wall_s": "s", "curate.task_s": "s", "curate.jobs": "count",
    "curate.shuffle_bytes": "B", "curate.dedup_s": "s",
    "curate.repetition_s": "s", "curate.perplexity_s": "s",
    "curate.decontam_s": "s", "curate.docs_kept": "count",
    "curate.keep_frac": "ratio",
    "trace.untraced_wall_s": "s", "trace.traced_wall_s": "s",
    "trace.overhead_s": "s",
}


class Run:
    """State one benchmark run shares across set-up, repetitions, checks
    and the traced run."""

    def __init__(self, seed: int, work: str, plant_mismatch: bool = False):
        self.seed = seed
        self.work = work
        self.cores = nproc()
        self.spans = Spans(f"seed{seed}")
        self.layer = dict.fromkeys(LAYER_UNITS, 0)
        self.notes: dict = {}
        # self-test hook: corrupt one output row before it is checked
        self.plant_mismatch = plant_mismatch
        self.spark = None
        self.store: StatusStore | None = None

    def start_session(self) -> None:
        from pdf_plumber_util_spark.session import get_spark

        with self.spans.span("session") as s:
            self.spark = get_spark(app_name="perfbench", cores=self.cores)
        self.layer["session.start_s"] = s["end"] - s["start"]
        self.store = StatusStore(self.spark)

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


def check_bodies(run: Run, urls, bodies, expected: dict[str, str]) -> int:
    """Number of expected documents with exactly one output row whose
    body text is byte-identical to the reference."""
    got: dict[str, list] = {}
    for u, b in zip(urls, bodies):
        got.setdefault(u, []).append(b)
    if run.plant_mismatch and got:
        first = sorted(got)[0]
        got[first] = [(got[first][0] or "") + " planted"]
    return sum(1 for u, b in expected.items() if got.get(u) == [b])


def _record_base(run: Run, base: dict, traced_ok: bool) -> None:
    """Outcome of a traced run: the untraced base repetition's counts,
    and whether every traced output was correct too."""
    run.notes.update(attempted=base["attempted"], failed=base["attempted"] - base["ok"],
                     trace_correct=traced_ok)


def _plan_shape(run: Run, group: str, wall: float) -> None:
    store = run.store
    nodes = store.plan_nodes(group)
    stages = store.stage_rows(group)
    run.layer["plan.exchanges"] = sum(1 for n, _ in nodes if n == "Exchange")
    run.layer["plan.python_nodes"] = sum(1 for n, _ in nodes if PYTHON_NODE.search(n))
    run.layer["plan.jobs"] = len(store.job_ids(group))
    run.layer["plan.stages"] = len(stages)
    run.layer["pipeline.slot_busy_frac"] = sum_rows(stages, "run_s") / (wall * run.cores)


# ------------------------------------------------------- extract_html --


class ExtractHtml:
    name = "extract_html"

    def __init__(self, run: Run):
        self.run = run
        self.pages = None
        self.expected: dict[str, str] = {}

    def setup(self) -> None:
        from pdf_plumber_util_spark.plans.extract import extract_documents

        run = self.run
        run.start_session()
        with run.spans.span("inputs"):
            inputs.write_pages(run.path("pages"), range(HTML_PAGES),
                               run.seed, run.cores)
            # warm-up pages: same seed, ids past the measured ones
            inputs.write_pages(run.path("warm_pages"),
                               range(HTML_PAGES, HTML_PAGES + WARM_PAGES),
                               run.seed, run.cores)
            self.pages = run.spark.read.parquet(run.path("pages"))
        with run.spans.span("warmup"):
            extract_documents(run.spark.read.parquet(run.path("warm_pages"))).toPandas()

    def load_expected(self) -> None:
        self.expected = inputs.expected_bodies(range(HTML_PAGES), self.run.seed,
                                               self.run.cores)

    def rep(self, i: int) -> dict:
        from pdf_plumber_util_spark.plans.extract import extract_documents

        run = self.run
        cold_start(run.spark)
        group = f"rep{i}"
        t0 = time.perf_counter()
        with run.store.group(group):
            out = extract_documents(self.pages).toPandas()
        wall = time.perf_counter() - t0
        ok = check_bodies(run, out["url"], out["body_text"], self.expected)
        return {"group": group, "wall_s": wall, "attempted": len(self.expected),
                "ok": ok, "out": out}

    def trace(self) -> None:
        from pdf_plumber_util_spark.plans.extract import extract_documents

        run, L = self.run, self.run.layer
        with run.spans.span("untraced_rep"):
            base = self.rep(-1)
        with run.spans.span("read_status"):
            _plan_shape(run, base["group"], base["wall_s"])
        with recorded_calls() as plan_calls:
            extract_documents(self.pages)  # builds the plan; no action
        with recorded_calls() as traced_calls:
            traced, out = trace_extract_layers(run, self.pages, self.expected)
        # the traced layers are the production plan only while both
        # compose the same calls and give the same rows
        same_plan = plan_calls == traced_calls
        same_out = same_rows(out, base["out"])
        run.notes.update(same_composition=same_plan, same_output=same_out)
        if not same_plan:
            run.notes.update(plan_calls=plan_calls, traced_calls=traced_calls)
        L["trace.untraced_wall_s"] = base["wall_s"]
        L["trace.traced_wall_s"] = traced
        L["trace.overhead_s"] = traced - base["wall_s"]
        resume_ok = trace_resume(run, self.expected)
        one = one_core_rate(run, self.expected)
        L["pipeline.docs_per_s_1core"] = one
        L["pipeline.scaling_eff"] = base["ok"] / base["wall_s"] / (run.cores * one) if one else 0
        _record_base(run, base, same_plan and same_out and resume_ok
                     and run.notes["traced_docs_correct"] == len(self.expected)
                     and run.notes["one_core"]["ok"] == len(self.expected))


# The functions plans.extract.extract_documents composes, read through
# that module's own bindings: the traced run calls the same bindings, so
# one recorder there sees both compositions.
PLAN_CALLS = ("tokenize_pages", "page_dims", "assign_line_ids_window",
              "build_segments", "assemble_lines", "drop_blank_lines",
              "contextual_spacing_rules", "form_blocks",
              "header_footer_candidates", "final_boundaries", "body_text")


@contextmanager
def recorded_calls():
    """Record (name, arguments) of every call made in the block to a
    PLAN_CALLS function of plans.extract or to DataFrame.repartition. A
    DataFrame argument is recorded as its type, any other by its repr."""
    from pyspark.sql import DataFrame

    from pdf_plumber_util_spark.plans import extract as X

    calls: list[tuple] = []

    def arg(v) -> str:
        return "DataFrame" if isinstance(v, DataFrame) else repr(v)

    def wrap(name, fn):
        def recorded(*a, **k):
            calls.append((name, [arg(v) for v in a],
                          {n: arg(v) for n, v in sorted(k.items())}))
            return fn(*a, **k)
        return recorded

    saved = {n: getattr(X, n) for n in PLAN_CALLS}
    repartition = DataFrame.repartition
    try:
        for n, fn in saved.items():
            setattr(X, n, wrap(n, fn))
        DataFrame.repartition = wrap("DataFrame.repartition", repartition)
        yield calls
    finally:
        for n, fn in saved.items():
            setattr(X, n, fn)
        DataFrame.repartition = repartition


def trace_extract_layers(run: Run, pages, expected: dict[str, str]):
    """Run the extract plan one layer at a time, calling what
    plans.extract.extract_documents calls, with the same arguments and in
    the same order, each layer's input persisted and counted before its
    span opens. Returns the traced wall time (the span around the
    layers) and the output."""
    from pyspark.sql import functions as F

    from pdf_plumber_util_spark.config import DEFAULT as cfg
    from pdf_plumber_util_spark.plans import extract as X

    spans, store, L = run.spans, run.store, run.layer
    cold_start(run.spark)
    pages = pages.persist()
    L["tokenizer.docs_in"] = pages.count()

    @contextmanager
    def layer(name: str):
        with spans.span(name), store.group(name):
            yield

    with spans.span("traced_plan") as plan:
        with layer("tokenizer"):
            words = X.tokenize_pages(pages).persist()
            L["tokenizer.words_out"] = words.count()
        with layer("exchange"):
            wx = words.repartition(F.col("url")).persist()
            wx.count()
        cached_before = store.cached_bytes()
        with layer("lines"):
            wl = X.assign_line_ids_window(wx, cfg.y_tolerance)
            segs = X.build_segments(wl, with_link_stats=cfg.drop_boilerplate)
            lines = X.assemble_lines(wl, segs, X.page_dims(wx), include_proportional=False)
            flines = X.drop_blank_lines(lines).persist()
            L["lines.lines_out"] = flines.count()
        L["lines.cache_bytes"] = store.cached_bytes() - cached_before
        with layer("spacing"):
            rules = X.contextual_spacing_rules(
                flines, gap_rounding=cfg.gap_rounding,
                lo_mult=cfg.line_spacing_lo_mult, hi_mult=cfg.line_spacing_hi_mult,
                para_mult=cfg.para_spacing_mult).persist()
            rules.count()
        with layer("blocks"):
            blocks = X.form_blocks(flines, rules).persist()
            L["blocks.blocks_out"] = blocks.count()
        with layer("boundaries"):
            cands = X.header_footer_candidates(
                flines, header_zone_pt=cfg.header_zone_pt,
                footer_zone_in=cfg.footer_zone_inches, large_mult=cfg.large_gap_mult)
            doc_stats = flines.groupBy("url").agg(
                F.max(F.col("bbox")["bottom"]).alias("doc_bottom"),
                F.count("*").alias("n_lines"),
                F.countDistinct("page").alias("n_pages"))
            bounds = X.final_boundaries(cands, doc_stats.select("url", "doc_bottom"))
            out = (X.body_text(blocks, bounds, max_body_chars=cfg.max_body_chars)
                   .join(bounds, "url", "left")
                   .join(doc_stats.drop("doc_bottom"), "url", "left")
                   .toPandas())
    traced_wall = plan["end"] - plan["start"]
    with spans.span("read_status"):
        _layer_ledger(run, words, segs, out, expected)
    cold_start(run.spark)
    return traced_wall, out


def same_rows(a, b) -> bool:
    """Whether two outputs hold the same rows, every column compared."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    cols = sorted(a.columns)

    def rows(df):
        return sorted(repr(r) for r in df[cols].itertuples(index=False))

    return rows(a) == rows(b)


def _layer_ledger(run: Run, words, segs, out, expected: dict[str, str]) -> None:
    """Per-layer counts (from the cached layer outputs) and Spark's stage
    and plan-node metrics of each layer's job group."""
    spans, store, L = run.spans, run.store, run.layer
    L["tokenizer.docs_no_words"] = L["tokenizer.docs_in"] - words.select("url").distinct().count()
    L["lines.segments_out"] = segs.count()
    L["boundaries.docs_out"] = len(out)
    L["boundaries.body_chars"] = int(out["body_text"].fillna("").str.len().sum())
    L["boundaries.blocks_kept"] = int(out["n_blocks_kept"].sum())
    L["boundaries.blocks_dropped"] = int(out["n_blocks_dropped"].sum())
    run.notes["traced_docs_correct"] = check_bodies(run, out["url"], out["body_text"], expected)

    tok = store.stage_rows("tokenizer")
    L["tokenizer.wall_s"] = spans.duration("tokenizer")
    L["tokenizer.task_s"] = sum_rows(tok, "run_s")
    L["tokenizer.jvm_cpu_s"] = sum_rows(tok, "cpu_s")
    tok_nodes = store.plan_nodes("tokenizer")
    L["tokenizer.py_exec_s"], L["tokenizer.py_init_s"] = python_times(tok_nodes)
    run.notes["tokenizer_python_nodes"] = [(n, m) for n, m in tok_nodes
                                           if PYTHON_NODE.search(n)]

    ex = store.stage_rows("exchange")
    L["exchange.shuffle_write_bytes"] = sum_rows(ex, "shuffle_write_bytes")
    L["exchange.shuffle_read_bytes"] = sum_rows(ex, "shuffle_read_bytes")
    L["exchange.records"] = sum_rows(ex, "shuffle_write_records")
    L["exchange.fetch_wait_s"] = sum_rows(ex, "fetch_wait_s")
    per_task = [b for s in ex if s["shuffle_read_bytes"]
                for b in store.task_shuffle_read(s["stage"], s["attempt"])]
    med = statistics.median(per_task) if per_task else 0
    L["exchange.skew"] = max(per_task) / med if med else 0

    ln = store.stage_rows("lines")
    L["lines.wall_s"] = spans.duration("lines")
    L["lines.task_s"] = sum_rows(ln, "run_s")
    L["lines.jvm_cpu_s"] = sum_rows(ln, "cpu_s")
    L["lines.gc_s"] = sum_rows(ln, "gc_s")
    L["lines.spill_bytes"] = sum_rows(ln, "spill_bytes")

    L["spacing.wall_s"] = spans.duration("spacing")
    L["blocks.wall_s"] = spans.duration("blocks")
    L["boundaries.wall_s"] = spans.duration("boundaries")
    L["tail.shuffle_bytes"] = sum(sum_rows(store.stage_rows(g), "shuffle_write_bytes")
                                  for g in ("spacing", "blocks", "boundaries"))
    run.notes["layer_stages"] = {g: store.stage_rows(g) for g in (
        "tokenizer", "exchange", "lines", "spacing", "blocks", "boundaries")}


def one_core_rate(run: Run, expected: dict[str, str]) -> float:
    """docs/s of the same pages in a new local[1] Spark application, with
    the whole process tree (driver, JVM threads, Python workers) pinned to
    one CPU. It reuses this run's JVM, so its JIT is already warm; the
    session at nproc cores is stopped for good."""
    from pdf_plumber_util_spark.plans.extract import extract_documents
    from pdf_plumber_util_spark.session import get_spark

    all_cpus = os.sched_getaffinity(0)
    run.spark.stop()
    with run.spans.span("one_core"):
        spark = run.spark = get_spark(app_name="perfbench-1core", cores=1)
        pinned = pin_tree({max(all_cpus)})
        try:
            cold_start(spark)
            t0 = time.perf_counter()
            out = extract_documents(spark.read.parquet(run.path("pages"))).toPandas()
            wall = time.perf_counter() - t0
        finally:
            pin_tree(all_cpus)
    ok = check_bodies(run, out["url"], out["body_text"], expected)
    run.notes["one_core"] = {"wall_s": wall, "ok": ok, "pinned_threads": pinned}
    return ok / wall


def _landed_ok(run: Run, out: str, expected: dict[str, str]) -> int:
    """Docs of ``expected`` landed exactly once, correct, in a bucket whose
    marker is published. Read with pyarrow, not Spark."""
    t = pq.read_table(out, columns=["url", "body_text", "url_bucket"],
                      partitioning="hive")
    markers = {int(f[len("bucket_"):-len(".json")])
               for f in os.listdir(os.path.join(out, "_sidecar"))
               if f.startswith("bucket_") and f.endswith(".json")}
    keep = [b in markers for b in t.column("url_bucket").to_pylist()]
    urls = [u for u, k in zip(t.column("url").to_pylist(), keep) if k]
    bodies = [x for x, k in zip(t.column("body_text").to_pylist(), keep) if k]
    return check_bodies(run, urls, bodies, expected)


def trace_resume(run: Run, expected: dict[str, str]) -> bool:
    """plans.resume on the first RESUME_PAGES pages: run_resumable into a
    fresh directory, drop the markers of the even buckets (the crash),
    run_resumable again. Returns whether both passes landed every owed
    doc correctly and the resume pass redid nothing."""
    from pdf_plumber_util_spark.plans.resume import (
        BUCKET_COL,
        run_resumable,
        with_bucket,
    )

    L, spark = run.layer, run.spark
    src = run.path("resume_pages")
    inputs.write_pages(src, range(RESUME_PAGES), run.seed, run.cores)
    pages = spark.read.parquet(src)
    b = with_bucket(pages.select("url"), BUCKETS).toPandas()
    bucket_of = dict(zip(b["url"], b[BUCKET_COL].astype(int)))
    mine = {u: expected[u] for u in bucket_of}
    out = run.path("resume_out")
    with traced_resume(run) as calls, run.spans.span("resume"):
        cold_start(spark)
        with run.spans.span("resume.pass1"):
            metas1 = run_resumable(pages, spark, out, n_buckets=BUCKETS)
        pass1_ok = _landed_ok(run, out, mine)
        dropped = {m[BUCKET_COL] for m in metas1 if m[BUCKET_COL] % 2 == 0}
        for bucket in dropped:
            for name in (f"bucket_{bucket}.json", f".bucket_{bucket}.json.crc"):
                p = os.path.join(out, "_sidecar", name)
                if os.path.exists(p):
                    os.remove(p)
        cold_start(spark)
        with run.spans.span("resume.pass2"):
            metas2 = run_resumable(pages, spark, out, n_buckets=BUCKETS)
    owed = {u: x for u, x in mine.items() if bucket_of[u] in dropped}
    ok2 = _landed_ok(run, out, owed)
    intact = _landed_ok(run, out, mine)

    def total(fn: str) -> float:
        return sum(c["dur"] for c in calls if c["fn"] == fn)

    L["resume.scan_markers_s"] = total("committed_partitions")
    L["resume.land_s"] = total("land")
    L["resume.publish_s"] = total("publish_bucket")
    L["resume.audit_s"] = _audit_time(calls)
    L["resume.buckets_committed"] = len(metas1) + len(metas2)
    L["resume.buckets_skipped"] = len(metas1) - len(dropped)
    with run.spans.span("read_status"):
        land = run.store.plan_nodes("land")
    L["resume.files_written"] = sum(m.get("number of written files", 0) for _, m in land)
    L["resume.bytes_written"] = sum(m.get("written output", 0) for _, m in land)
    L["resume.docs_reprocessed"] = sum(m["n_docs"] for m in metas2
                                       if m[BUCKET_COL] not in dropped)
    run.notes["resume"] = {"docs": len(mine), "owed": len(owed), "pass1_ok": pass1_ok,
                           "pass2_ok": ok2, "intact_after_pass2": intact,
                           "calls": {fn: total(fn) for fn in {c["fn"] for c in calls}}}
    return (pass1_ok == len(mine) and ok2 == len(owed) and intact == len(mine)
            and L["resume.docs_reprocessed"] == 0)


def _audit_time(calls: list[dict]) -> float:
    """Per pass: from the end of the landing write to the first marker
    publish, i.e. the read-back and per-bucket aggregation."""
    total, land_end = 0.0, None
    for c in calls:
        if c["fn"] == "land":
            land_end = c["t1"]
        elif c["fn"] == "publish_bucket" and land_end is not None:
            total += c["t0"] - land_end
            land_end = None
    return total


@contextmanager
def traced_resume(run: Run):
    """Time the public functions plans.resume.run_resumable calls, and
    its landing write, by wrapping them for the duration of the block."""
    from pyspark.sql import DataFrameWriter

    from pdf_plumber_util_spark.plans import resume

    calls: list[dict] = []

    def wrap(fn, label):
        def timed(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                t1 = time.perf_counter()
                calls.append({"fn": label, "t0": t0, "t1": t1, "dur": t1 - t0})
        return timed

    orig_parquet = DataFrameWriter.parquet

    def land(self, path, *a, **k):
        with run.store.group("land"):
            return orig_parquet(self, path, *a, **k)

    saved = {n: getattr(resume, n) for n in
             ("committed_partitions", "resume_filter", "publish_bucket")}
    try:
        for n, fn in saved.items():
            setattr(resume, n, wrap(fn, n))
        DataFrameWriter.parquet = wrap(land, "land")
        yield calls
    finally:
        for n, fn in saved.items():
            setattr(resume, n, fn)
        DataFrameWriter.parquet = orig_parquet


# ------------------------------------------------------ curate_funnel --


class CurateFunnel:
    name = "curate_funnel"

    def __init__(self, run: Run):
        self.run = run
        self.variant = run.seed % inputs.CURATE_VARIANTS
        self.pins: dict = {}

    def setup(self) -> None:
        run = self.run
        run.start_session()
        with run.spans.span("inputs"):
            self.docs_digest = inputs.write_documents(
                run.path("documents.parquet"), run.path("warm_documents.parquet"),
                WARM_DOCS)
            self.docs, self.eval_docs = self._inputs("documents.parquet")
        with run.spans.span("warmup"):
            self._plan(*self._inputs("warm_documents.parquet")).toPandas()

    def _inputs(self, name: str):
        from pyspark.sql import functions as F

        from pdf_plumber_util_spark.contract_extra import _messy_urls

        base = self.run.spark.read.parquet(self.run.path(name))
        docs = base.join(_messy_urls(base), "doc_id")
        eval_docs = docs.filter(F.col("doc_id") % 101 == self.variant).select(
            "doc_id", "text")
        return docs, eval_docs

    def _plan(self, docs=None, eval_docs=None):
        """bench.q_curate_corpus: every gate on."""
        from pdf_plumber_util_spark.plans.curate import curate_corpus

        return curate_corpus(
            self.docs if docs is None else docs,
            eval_docs=self.eval_docs if eval_docs is None else eval_docs,
            block_domains=["dup.example.com", "src7.example.com"],
            max_dup_span_frac=0.5, mix_rates={"en": 0.8},
            mix_salt=f"mix{self.variant}", drop_perplexity_tail=True)

    def load_expected(self) -> None:
        self.pins = inputs.read_pins()

    def digest(self, out) -> str | None:
        """The (doc_id, keep, text) digest of one output, or None when the
        output does not hold each input doc exactly once."""
        if self.run.plant_mismatch:
            out = out.copy()
            out.loc[out.index[0], "text"] = f"{out['text'].iloc[0]} planted"
        if not out["doc_id"].is_unique or len(out) != inputs.CURATE_DOCS:
            return None
        return inputs.curate_digest(out["doc_id"], out["keep"], out["text"])

    def digest_ok(self, digest: str | None) -> bool:
        """The digest equals the one pinned for this variant, over the
        pinned input table."""
        return (digest is not None
                and self.docs_digest == self.pins.get("documents_sha256")
                and digest == self.pins.get("outputs", {}).get(str(self.variant)))

    def rep(self, i: int) -> dict:
        run = self.run
        cold_start(run.spark)
        group = f"rep{i}"
        t0 = time.perf_counter()
        with run.store.group(group):
            out = self._plan().toPandas()
        wall = time.perf_counter() - t0
        digest = self.digest(out)
        ok = inputs.CURATE_DOCS if self.digest_ok(digest) else 0
        return {"group": group, "wall_s": wall, "attempted": inputs.CURATE_DOCS,
                "ok": ok, "digest": digest, "out": out}

    def trace(self) -> None:
        from pdf_plumber_util_spark.operators.dedup import (
            decontaminate,
            exact_duplicates,
        )
        from pdf_plumber_util_spark.operators.text_analysis import (
            lm_perplexity,
            repetition_stats,
        )

        run, L = self.run, self.run.layer
        with run.spans.span("untraced_rep"):
            base = self.rep(-1)
        cold_start(run.spark)
        self.docs.persist().count()  # the layer's input, materialized
        with run.spans.span("curate") as sp, run.store.group("curate"):
            out = self._plan().toPandas()
        _record_base(run, base, self.digest_ok(self.digest(out)))
        stages = run.store.stage_rows("curate")
        L["curate.wall_s"] = sp["end"] - sp["start"]
        L["curate.task_s"] = sum_rows(stages, "run_s")
        L["curate.jobs"] = len(run.store.job_ids("curate"))
        L["curate.shuffle_bytes"] = sum_rows(stages, "shuffle_write_bytes")
        L["curate.docs_kept"] = int(out["keep"].sum())
        L["curate.keep_frac"] = L["curate.docs_kept"] / len(out)
        # each gate's operator alone, on the same (cached) docs
        ops = {"dedup": lambda: exact_duplicates(self.docs),
               "repetition": lambda: repetition_stats(self.docs),
               "perplexity": lambda: lm_perplexity(self.docs, by_lang=True),
               "decontam": lambda: decontaminate(self.docs, self.eval_docs, n=13)}
        for name, op in ops.items():
            with run.spans.span(f"curate.{name}") as s, run.store.group(name):
                op().write.format("noop").mode("overwrite").save()
            L[f"curate.{name}_s"] = s["end"] - s["start"]
        run.notes["curate_stages"] = stages
        with run.spans.span("read_status"):
            _plan_shape(run, base["group"], base["wall_s"])
        L["trace.untraced_wall_s"] = base["wall_s"]
        L["trace.traced_wall_s"] = L["curate.wall_s"]
        L["trace.overhead_s"] = L["curate.wall_s"] - base["wall_s"]
        cold_start(run.spark)


WORKLOADS = {w.name: w for w in (ExtractHtml, CurateFunnel)}
